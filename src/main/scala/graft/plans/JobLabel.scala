package graft.plans

import org.apache.spark.sql.SparkSession

/** Job labeling (optimization guide §1.5): the lifecycle operators run
  * dozens of jobs per invocation on the streaming micro-batch thread,
  * where every job inherits the `start()` call site — unreadable in the
  * UI and unattributable in a listener profile. Wrapping each engine
  * phase's actions in [[labeled]] stamps a thread-local description that
  * names the phase. Restores the previous description on exit so labels
  * never leak across phases (descriptions are thread-local, so concurrent
  * streams stay correctly labeled). Zero cost beyond two local-property
  * writes per phase. */
object JobLabel {
  def labeled[T](spark: SparkSession, desc: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try f finally sc.setJobDescription(prev)
  }

  /** [[labeled]], unless the calling thread's jobs already carry a label:
    * a phase that materializes its caller's lazy input (a merge pinning
    * its source) leaves that work under the caller's name. */
  private[graft] def labeledUnlessSet[T](spark: SparkSession, desc: String)(f: => T): T =
    if (spark.sparkContext.getLocalProperty("spark.job.description") != null) f
    else labeled(spark, desc)(f)
}
