package graft

import org.apache.spark.sql.SparkSession

/** One shared between-queries cleanup for every harness main (Bench,
  * Verify, JobProfile): `clearCache()` drops DataFrame caches but NOT
  * localCheckpoint blocks (iterative operators leave their final
  * checkpoint for the caller to consume), memory-sink temp views pin their
  * rows until dropped, and broadcasts/shuffle files are only reclaimed by
  * the ContextCleaner after their references are GC'd. Skipping any of the
  * three lets storage accumulate across a long registry run until memory
  * pressure inflates unrelated late queries (measured 5-20×). */
object SessionHygiene {
  def dropAllStorage(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.catalog.listTables().collect()
      .foreach(t => spark.catalog.dropTempView(t.name))
    System.gc()
  }
}
