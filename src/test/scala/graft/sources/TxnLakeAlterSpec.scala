package graft.sources

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

/** Metadata-only ALTER TABLE: ADD COLUMN (null-filling widening) and
  * DROP COLUMN (projecting narrowing with resurrection tombstones) —
  * one log entry each, zero data files moved, full time travel. */
class TxnLakeAlterSpec extends SparkSpec {

  private def fresh(): String =
    Files.createTempDirectory("txnlake_alter").resolve("t").toString

  private def build(t: String): Unit = {
    import spark.implicits._
    Seq(0L until 50L, 50L until 100L).foreach { r =>
      TxnLake.commit(spark,
        r.map(i => (i, s"v$i")).toDF("k", "v").coalesce(1), t, "append")
    }
  }

  test("ADD COLUMN is one metadata entry: no file moves, old rows " +
    "null-fill, new appends carry values, narrow history time-travels") {
    import spark.implicits._
    val t = fresh()
    build(t)
    val preV = TxnLake.latestVersion(spark, t).get
    val preFiles = TxnLake.snapshotFiles(spark, t).map(_.path).toSet
    val v = TxnLake.addColumn(spark, t, "n", LongType)
    assert(TxnLake.commitInfo(spark, t, v).operation == "metadata")
    assert(TxnLake.snapshotFiles(spark, t).map(_.path).toSet == preFiles,
      "ALTER must move no data file")
    val widened = TxnLake.read(spark, t)
    assert(widened.columns.toSeq == Seq("k", "v", "n")
      && widened.filter(col("n").isNotNull).isEmpty,
      "existing rows null-fill the new column")
    // the metadata hop emits NOTHING in the change feed
    assert(TxnLake.tableChanges(spark, t, preV, v, "k").isEmpty)
    TxnLake.commit(spark,
      Seq((200L, "x", 7L)).toDF("k", "v", "n").coalesce(1), t, "append")
    val got = TxnLake.read(spark, t)
    assert(got.filter(col("n").isNotNull).count() == 1
      && got.count() == 101)
    assert(TxnLake.readVersion(spark, t, preV).columns.toSeq ==
      Seq("k", "v"), "the pre-ALTER snapshot stays narrow")
    // stats pruning still works over the evolved reads
    assert(TxnLake.readWhere(spark, t, col("k") >= 90L).count() == 11)
  }

  test("DROP COLUMN projects metadata-only and tombstones the name: " +
    "re-committing it is refused until an overwrite retires the bytes") {
    import spark.implicits._
    val t = fresh()
    build(t)
    val preV = TxnLake.latestVersion(spark, t).get
    val preFiles = TxnLake.snapshotFiles(spark, t).map(_.path).toSet
    val v = TxnLake.dropColumn(spark, t, "v")
    assert(TxnLake.snapshotFiles(spark, t).map(_.path).toSet == preFiles)
    assert(TxnLake.read(spark, t).columns.toSeq == Seq("k")
      && TxnLake.read(spark, t).count() == 100)
    assert(TxnLake.readVersion(spark, t, preV).columns.toSeq ==
      Seq("k", "v"), "the dropped column still time-travels")
    assert(TxnLake.tableChanges(spark, t, preV, v, "k").isEmpty)
    // resurrection guard: data commits and ADD COLUMN both refuse the name
    val e1 = intercept[IllegalArgumentException] {
      TxnLake.commit(spark, Seq((500L, "boo")).toDF("k", "v").coalesce(1),
        t, "append")
    }
    assert(e1.getMessage.contains("resurrect"))
    val e2 = intercept[IllegalArgumentException] {
      TxnLake.addColumn(spark, t, "v", StringType)
    }
    assert(e2.getMessage.contains("resurrect"))
    // a DIFFERENT name is fine, and DML works on the narrowed table
    TxnLake.addColumn(spark, t, "w", StringType)
    TxnLake.deleteWhere(spark, t, col("k") < 10L)
    assert(TxnLake.read(spark, t).count() == 90)
    // overwrite removes every old file — the tombstone retires with them
    TxnLake.commit(spark, Seq((1L, "fresh")).toDF("k", "v").coalesce(1),
      t, "overwrite")
    assert(TxnLake.read(spark, t).columns.toSeq == Seq("k", "v")
      && TxnLake.read(spark, t).count() == 1,
      "post-overwrite the name is a brand-new column")
  }

  test("TYPE WIDENING promotes metadata-only: old int32 files upcast " +
    "at scan, stats still prune, and unsafe promotions refuse") {
    import spark.implicits._
    val t = fresh()
    (0 until 2).foreach { i =>
      TxnLake.commit(spark,
        (i * 50 until i * 50 + 50).map(j => (j.toLong, j)).toDF("k", "n")
          .coalesce(1), t, "append") // n is INT
    }
    val preFiles = TxnLake.snapshotFiles(spark, t).map(_.path).toSet
    val preV = TxnLake.latestVersion(spark, t).get
    TxnLake.widenColumnType(spark, t, "n",
      org.apache.spark.sql.types.LongType)
    assert(TxnLake.snapshotFiles(spark, t).map(_.path).toSet == preFiles,
      "widening must move no data file")
    val widened = TxnLake.read(spark, t)
    assert(widened.schema("n").dataType ==
      org.apache.spark.sql.types.LongType
      && widened.agg(sum(col("n"))).head().getLong(0) == 4950L,
      "old int32 values upcast losslessly")
    assert(TxnLake.readVersion(spark, t, preV).schema("n").dataType ==
      org.apache.spark.sql.types.IntegerType,
      "the pre-widening snapshot keeps its narrow type")
    // integer-tagged stats still prune exactly under long predicates
    val (_, (kept, total)) = TxnLake.readWherePruned(spark, t,
      col("n") >= 75L)
    assert(total == 2 && kept == 1,
      s"stats pruning must survive the promotion: $kept/$total")
    // widened appends work; narrower appends refuse loudly
    TxnLake.commit(spark,
      Seq((200L, 5000000000L)).toDF("k", "n").coalesce(1), t, "append")
    assert(TxnLake.read(spark, t).count() == 101)
    intercept[IllegalArgumentException] {
      TxnLake.commit(spark, Seq((201L, 7)).toDF("k", "n").coalesce(1),
        t, "append") // int again: schema merge conflict
    }
    // unsafe promotions refuse
    intercept[IllegalArgumentException] {
      TxnLake.widenColumnType(spark, t, "n",
        org.apache.spark.sql.types.IntegerType) // narrowing
    }
    intercept[IllegalArgumentException] {
      TxnLake.widenColumnType(spark, t, "k",
        org.apache.spark.sql.types.DoubleType) // long -> double: lossy
    }
    // int -> double works; a bloom-indexed column refuses double
    val t2 = fresh()
    TxnLake.commit(spark,
      (0 until 10).map(j => (j.toLong, j)).toDF("k", "n").coalesce(1),
      t2, "append", bloomCols = Seq("n"))
    val e = intercept[IllegalArgumentException] {
      TxnLake.widenColumnType(spark, t2, "n",
        org.apache.spark.sql.types.DoubleType)
    }
    assert(e.getMessage.contains("bloom-indexed"))
    val t3 = fresh()
    TxnLake.commit(spark,
      (0 until 10).map(j => (j.toLong, j)).toDF("k", "n").coalesce(1),
      t3, "append")
    TxnLake.widenColumnType(spark, t3, "n",
      org.apache.spark.sql.types.DoubleType)
    assert(TxnLake.read(spark, t3).agg(sum(col("n"))).head()
      .getDouble(0) == 45.0)
    assert(TxnLake.readWhere(spark, t3, col("n") >= 5.0).count() == 5,
      "double predicates over integer-tagged stats keep conservatively")
  }

  test("DESCRIBE DETAIL reports files/bytes/rows/masks and the full " +
    "property surface; VACUUM DRY RUN predicts exactly what vacuum " +
    "reclaims without touching a byte") {
    import spark.implicits._
    val t = fresh()
    build(t) // two 50-row files
    TxnLake.addConstraint(spark, t, "k_nonneg", "k >= 0")
    TxnLake.deleteWhere(spark, t, col("k") === 60L)
    val d = TxnLake.describeDetail(spark, t)
    assert(d.numFiles == 2 && d.numRows == 99 && d.maskedRows == 1
      && d.deletionVectors == 1 && d.sizeBytes > 0
      && d.schema.map(_.fieldNames.toSeq).contains(Seq("k", "v"))
      && d.constraints == Map("k_nonneg" -> "k >= 0")
      && d.version == TxnLake.latestVersion(spark, t).get, s"detail: $d")
    // make dead files: compact the snapshot, keep only the newest version
    TxnLake.compactSmallFiles(spark, t, minFileBytes = Long.MaxValue)
    val (dryFiles, dryBytes) = TxnLake.vacuumDryRun(spark, t,
      retainVersions = 1)
    assert(dryFiles == 2 && dryBytes > 0,
      s"the two pre-compaction files are reclaimable: $dryFiles")
    assert(TxnLake.read(spark, t).count() == 99,
      "a dry run must not delete anything")
    assert(TxnLake.readVersion(spark, t, 0L).count() == 50,
      "time travel still works after the dry run")
    val reclaimed = TxnLake.vacuum(spark, t, retainVersions = 1)
    assert(reclaimed == dryFiles,
      s"the dry run must predict vacuum exactly: $dryFiles vs $reclaimed")
    assert(TxnLake.vacuumDryRun(spark, t)._1 == 0, "nothing left to report")
  }

  test("dropping a bloom-indexed column retires its declaration; " +
    "boundary refusals are loud") {
    import spark.implicits._
    val t = fresh()
    TxnLake.commit(spark,
      (0L until 50L).map(i => (i, s"h$i")).toDF("k", "h").coalesce(1),
      t, "append", bloomCols = Seq("h"))
    assert(TxnLake.bloomColumns(spark, t) == Seq("h"))
    TxnLake.dropColumn(spark, t, "h")
    assert(TxnLake.bloomColumns(spark, t).isEmpty,
      "the dropped column's bloom declaration must retire with it")
    intercept[IllegalArgumentException] {
      TxnLake.dropColumn(spark, t, "k") // last column
    }
    intercept[IllegalArgumentException] {
      TxnLake.dropColumn(spark, t, "nope")
    }
    intercept[IllegalArgumentException] {
      TxnLake.addColumn(spark, t, "k", LongType) // exists
    }
  }

  test("tombstone and duplicate guards resolve CASE-INSENSITIVELY (the " +
    "session default): a re-cased name cannot resurrect dropped bytes") {
    import spark.implicits._
    val t = fresh()
    build(t)
    TxnLake.dropColumn(spark, t, "v")
    // a data commit under ANY casing of the tombstoned name is refused —
    // Spark's default case-insensitive parquet resolution would bind "V"
    // to the old files' "v" bytes
    val e = intercept[IllegalArgumentException] {
      TxnLake.commit(spark, Seq((500L, "boom")).toDF("k", "V").coalesce(1),
        t, "append")
    }
    assert(e.getMessage.contains("DROPPED"))
    intercept[IllegalArgumentException] {
      TxnLake.addColumn(spark, t, "V", StringType)
    }
    intercept[IllegalArgumentException] {
      TxnLake.addGeneratedColumn(spark, t, "V", StringType, "'x'")
    }
    // duplicate check is case-insensitive too
    intercept[IllegalArgumentException] {
      TxnLake.addColumn(spark, t, "K", LongType)
    }
    // dropColumn accepts any casing and records the STORED name in the
    // tombstone + bloom retirement
    val t2 = fresh()
    build(t2)
    TxnLake.commit(spark, Seq((900L, "w")).toDF("k", "v").coalesce(1),
      t2, "append", bloomCols = Seq("v"))
    TxnLake.dropColumn(spark, t2, "V")
    assert(TxnLake.read(spark, t2).columns.toSeq == Seq("k"))
    assert(TxnLake.bloomColumns(spark, t2).isEmpty,
      "a re-cased drop must still retire the stored column's bloom")
  }

  test("a tombstone-refused commit pays no data write and orphans no " +
    "data dir — the guard runs before step 1") {
    import spark.implicits._
    val t = fresh()
    build(t)
    TxnLake.dropColumn(spark, t, "v")
    def dataDirs(): Set[String] = {
      import scala.jdk.CollectionConverters._
      val d = java.nio.file.Paths.get(t, "data")
      val s = java.nio.file.Files.list(d)
      try s.iterator().asScala.map(_.getFileName.toString).toSet
      finally s.close()
    }
    val before = dataDirs()
    intercept[IllegalArgumentException] {
      TxnLake.commit(spark, Seq((501L, "boom")).toDF("k", "v").coalesce(1),
        t, "append")
    }
    assert(dataDirs() == before,
      "a refused resurrect must leave no unreferenced data dir behind")
  }
}
