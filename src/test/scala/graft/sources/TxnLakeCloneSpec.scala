package graft.sources

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** CLONE — Delta's CREATE TABLE CLONE: shallow (zero-copy, absolute
  * references, full lifecycle independence except source-vacuum) and
  * deep (self-contained byte copy), both founding with the source's
  * schema, stats, bloom declaration, and deletion-vector masks. */
class TxnLakeCloneSpec extends SparkSpec {

  private def fresh(): java.nio.file.Path =
    Files.createTempDirectory("txnlake_clone")

  private def rows(t: String): Map[Long, String] =
    TxnLake.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  private def buildSource(src: String): Unit = {
    import spark.implicits._
    Seq(0L until 50L, 50L until 100L).foreach { r =>
      TxnLake.commit(spark,
        r.map(i => (i, s"v$i")).toDF("k", "v").coalesce(1), src, "append")
    }
    TxnLake.deleteWhere(spark, src, col("k") === 60L)
  }

  private def parquetCount(dir: String): Int = {
    val d = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(d)) 0
    else {
      val walk = java.nio.file.Files.walk(d)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.count(_.toString.endsWith(".parquet"))
      } finally walk.close()
    }
  }

  test("a shallow clone is zero-copy, mask-honoring, and lifecycle-" +
    "independent of its source in both directions") {
    val d = fresh()
    val src = d.resolve("src").toString
    val cl = d.resolve("clone").toString
    buildSource(src)
    assert(TxnLake.cloneTable(spark, src, cl) == 0L)
    // zero-copy: not one parquet byte lives under the clone
    assert(parquetCount(cl) == 0, "a shallow clone must copy no data file")
    assert(rows(cl) == rows(src) && !rows(cl).contains(60L),
      "the clone reads the source snapshot UNDER its masks")
    // the founding hop is attributable on the clone's own feed —
    // exactly the masked snapshot's rows as inserts
    val hop = TxnLake.tableChanges(spark, cl, -1L, 0L, "k")
    assert(hop.count() == 99
      && hop.select("change_type").distinct().head().getString(0) == "insert"
      && hop.filter(col("k") === 60L).isEmpty,
      "the clone's v0 insert hop must honor the cloned masks")
    // source evolves AFTER the clone: the clone must not see it
    import spark.implicits._
    TxnLake.commit(spark,
      Seq((500L, "new")).toDF("k", "v").coalesce(1), src, "append")
    TxnLake.updateWhere(spark, src, col("k") === 5L, Map("v" -> lit("UPD")))
    assert(!rows(cl).contains(500L) && rows(cl)(5L) == "v5",
      "source commits never appear in the clone")
    // clone DML: the source must not see it, and the clone's own log
    // machinery (stats pruning, DVs, vacuum) works over the references
    TxnLake.deleteWhere(spark, cl, col("k") === 70L)
    TxnLake.commit(spark,
      Seq((600L, "cl")).toDF("k", "v").coalesce(1), cl, "append")
    assert(!rows(cl).contains(70L) && rows(cl)(600L) == "cl")
    assert(rows(src).contains(70L) && !rows(src).contains(600L),
      "clone DML never touches the source")
    assert(TxnLake.readWhere(spark, cl,
      col("k") >= 90L && col("k") < 100L).count() == 10)
    // vacuum on the CLONE reclaims only its own dirs — every source
    // file survives
    val srcFiles = TxnLake.snapshotFiles(spark, src).map(_.path)
    TxnLake.vacuum(spark, cl, retainVersions = 1)
    srcFiles.foreach { p =>
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(src, p)),
        s"clone vacuum must never reclaim a source file ($p)")
    }
    assert(rows(src).contains(70L), "source rows intact after clone vacuum")
  }

  test("a deep clone is self-contained: relative paths only, masks " +
    "carried, and it survives the source's complete removal") {
    val d = fresh()
    val src = d.resolve("src").toString
    val cl = d.resolve("deep").toString
    buildSource(src)
    val expected = rows(src)
    assert(TxnLake.cloneTable(spark, src, cl, shallow = false) == 0L)
    assert(TxnLake.lastCloneCopySlices >= 2,
      "the deep-clone copy must fan out as a distributed job (one slice " +
        "per file up to the parallelism), never a serial driver loop")
    assert(TxnLake.snapshotFiles(spark, cl).forall(_.path.startsWith("data/")),
      "a deep clone references only its own data dir")
    assert(parquetCount(cl) == 2, "both source files copied")
    assert(rows(cl) == expected && !rows(cl).contains(60L))
    // the nuclear independence test: rm -rf the source
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(src))
    assert(rows(cl) == expected,
      "a deep clone must survive the source's complete removal")
    assert(TxnLake.readWhere(spark, cl, col("k") >= 50L).count() == 49)
  }

  test("clone refuses an existing target and a vacuumed source version") {
    import spark.implicits._
    val d = fresh()
    val src = d.resolve("src").toString
    val cl = d.resolve("clone").toString
    buildSource(src)
    TxnLake.cloneTable(spark, src, cl)
    val e = intercept[IllegalArgumentException] {
      TxnLake.cloneTable(spark, src, cl)
    }
    assert(e.getMessage.contains("already a table"))
    // a vacuumed historical version refuses with the liveness error
    TxnLake.commit(spark, Seq((1L, "x")).toDF("k", "v").coalesce(1),
      src, "overwrite")
    TxnLake.vacuum(spark, src, retainVersions = 1)
    intercept[IllegalStateException] {
      TxnLake.cloneTable(spark, src, d.resolve("c2").toString,
        version = Some(0L))
    }
  }
}
