package graft.run

import java.util.concurrent.atomic.AtomicBoolean
import scala.jdk.CollectionConverters._
import graft.SparkSpec
import graft.plans.JobLabel

class ConcurrentlySpec extends SparkSpec {

  test("results come back in thunk order and the caller's job label reaches every worker") {
    val sc = spark.sparkContext
    val got = JobLabel.labeled(spark, "outer") {
      Concurrently(spark)(
        () => { Thread.sleep(100); s"a:${sc.getLocalProperty("spark.job.description")}" },
        () => s"b:${sc.getLocalProperty("spark.job.description")}",
        () => JobLabel.labeled(spark, "inner")(spark.range(10).count().toString))
    }
    assert(got == Seq("a:outer", "b:outer", "10"))
    assert(ConcurrentlySpec.liveHelpers.isEmpty)
  }

  test("a failing thunk's exception surfaces only after its siblings finish") {
    val sibling = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Concurrently(spark)(
        () => throw new IllegalStateException("boom"),
        () => { Thread.sleep(300); sibling.set(true) })
    }
    assert(e.getMessage == "boom")
    assert(sibling.get())
    assert(ConcurrentlySpec.liveHelpers.isEmpty)
  }
}

object ConcurrentlySpec {
  /** Pool threads of [[Concurrently]] still alive. */
  def liveHelpers: Set[String] =
    Thread.getAllStackTraces.keySet.asScala.filter(t => t.isAlive &&
      t.getName.startsWith("graft-concurrently")).map(_.getName).toSet
}
