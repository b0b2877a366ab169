package graft.sources

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Persistent CHECK constraints — Delta's ADD CONSTRAINT: declared once
  * as a table property, validated against existing rows at declaration,
  * enforced on every later data-bearing commit (append/merge/update)
  * with SQL CHECK NULL-passes semantics, retired by DROP CONSTRAINT,
  * carried through restore and clone, and pinning referenced columns. */
class TxnLakeConstraintSpec extends SparkSpec {

  private def fresh(): String =
    Files.createTempDirectory("txnlake_check").resolve("t").toString

  test("a declared constraint refuses violating commits atomically and " +
    "lets passing ones through; NULL verdicts pass (SQL CHECK)") {
    import spark.implicits._
    val t = fresh()
    TxnLake.commit(spark,
      Seq((1L, Option(5L)), (2L, Option(9L))).toDF("k", "n").coalesce(1),
      t, "append")
    val v = TxnLake.addConstraint(spark, t, "n_small", "n < 100")
    assert(TxnLake.commitInfo(spark, t, v).operation == "metadata")
    assert(TxnLake.tableConstraints(spark, t) == Map("n_small" -> "n < 100"))
    // passing append, including a NULL verdict row (CHECK: NULL passes)
    TxnLake.commit(spark,
      Seq((3L, Option(50L)), (4L, Option.empty[Long])).toDF("k", "n")
        .coalesce(1), t, "append")
    assert(TxnLake.read(spark, t).count() == 4)
    // violating append refuses with NOTHING committed
    val preV = TxnLake.latestVersion(spark, t).get
    val e = intercept[IllegalStateException] {
      TxnLake.commit(spark,
        Seq((5L, Option(500L)), (6L, Option(7L))).toDF("k", "n")
          .coalesce(1), t, "append")
    }
    assert(e.getMessage.contains("n_small") && e.getMessage.contains("1 row"))
    assert(TxnLake.latestVersion(spark, t).contains(preV)
      && TxnLake.read(spark, t).count() == 4,
      "a violating commit must leave no trace")
    // DML enforcement: an UPDATE pushing a row over the bound refuses
    val e2 = intercept[IllegalStateException] {
      TxnLake.updateWhere(spark, t, col("k") === 1L,
        Map("n" -> lit(1000L)))
    }
    assert(e2.getMessage.contains("n_small"))
    assert(TxnLake.read(spark, t).filter(col("k") === 1L)
      .head().getLong(1) == 5L, "the refused update must not apply")
    // retire, then the same commits pass
    TxnLake.dropConstraint(spark, t, "n_small")
    assert(TxnLake.tableConstraints(spark, t).isEmpty)
    TxnLake.commit(spark, Seq((5L, Option(500L))).toDF("k", "n")
      .coalesce(1), t, "append")
    assert(TxnLake.read(spark, t).count() == 5)
  }

  test("a constraint-refused merge-on-read UPDATE leaves no orphan " +
    "sidecars — the failed commit's masks clean up pre-publish") {
    import spark.implicits._
    val t = fresh()
    TxnLake.commit(spark,
      (0L until 50L).map(i => (i, i)).toDF("k", "n").coalesce(1),
      t, "append")
    TxnLake.addConstraint(spark, t, "n_small", "n < 1000")
    def saltDirs(): Int = {
      val d = new java.io.File(s"$t/_dv")
      if (!d.exists()) 0 else d.listFiles().count(_.isDirectory)
    }
    // a passing DV update leaves exactly its own salt dir
    TxnLake.updateWhere(spark, t, col("k") === 1L, Map("n" -> lit(7L)))
    val live = saltDirs()
    val e = intercept[IllegalStateException] {
      TxnLake.updateWhere(spark, t, col("k") === 2L,
        Map("n" -> lit(5000L)))
    }
    assert(e.getMessage.contains("n_small"))
    assert(saltDirs() == live,
      "the refused update's sidecar dir must not linger as an orphan")
    val got = TxnLake.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == 7L && got(2L) == 2L && got.size == 50,
      "the refused update must change nothing")
  }

  test("declaring a constraint existing rows violate is refused; " +
    "duplicates and unknown drops are loud") {
    import spark.implicits._
    val t = fresh()
    TxnLake.commit(spark,
      Seq((1L, 5L), (2L, 900L)).toDF("k", "n").coalesce(1), t, "append")
    val e = intercept[IllegalArgumentException] {
      TxnLake.addConstraint(spark, t, "n_small", "n < 100")
    }
    assert(e.getMessage.contains("1 existing row"))
    assert(TxnLake.tableConstraints(spark, t).isEmpty)
    TxnLake.addConstraint(spark, t, "n_pos", "n > 0")
    intercept[IllegalArgumentException] {
      TxnLake.addConstraint(spark, t, "n_pos", "n > 1")
    }
    intercept[IllegalArgumentException] {
      TxnLake.dropConstraint(spark, t, "nope")
    }
  }

  test("maintenance and CoW delete skip the enforcement re-scan (they " +
    "cannot mint rows) while merge/update/append still validate") {
    import spark.implicits._
    val t = fresh()
    (0 until 3).foreach { i =>
      TxnLake.commit(spark,
        (i * 10L until i * 10L + 10L).map(j => (j, j)).toDF("k", "n")
          .coalesce(1), t, "append")
    }
    TxnLake.addConstraint(spark, t, "n_small", "n < 1000")
    // compaction and delete run clean on a constrained table
    TxnLake.compactSmallFiles(spark, t, minFileBytes = Long.MaxValue)
      .getOrElse(sys.error("fixture: must pack 3 files"))
    TxnLake.deleteWhere(spark, t, col("k") < 5L)
    assert(TxnLake.read(spark, t).count() == 25)
    // a violating MERGE still refuses
    import TxnLake.{MergeInsert, MergeUpdate, sourceCol}
    val e = intercept[IllegalStateException] {
      TxnLake.mergeIntoClauses(spark,
        Seq((7L, 5000L)).toDF("k", "n"), t, "k",
        matched = Seq(MergeUpdate(Map("n" -> sourceCol("n")))),
        notMatched = Seq(MergeInsert(Map("k" -> col("k"),
          "n" -> col("n")))))
    }
    assert(e.getMessage.contains("n_small"))
    assert(TxnLake.read(spark, t).filter(col("k") === 7L)
      .head().getLong(1) == 7L, "the refused merge must not apply")
  }

  test("a constraint pins its referenced column against DROP COLUMN, " +
    "and survives restore and clone") {
    import spark.implicits._
    val t = fresh()
    TxnLake.commit(spark,
      Seq((1L, 5L, "a")).toDF("k", "n", "s").coalesce(1), t, "append")
    TxnLake.addConstraint(spark, t, "n_pos", "n > 0")
    val vWith = TxnLake.latestVersion(spark, t).get
    val e = intercept[IllegalArgumentException] {
      TxnLake.dropColumn(spark, t, "n")
    }
    assert(e.getMessage.contains("n_pos"))
    TxnLake.dropColumn(spark, t, "s") // unreferenced: fine
    // retire + restore: the restored snapshot brings its constraint back
    TxnLake.dropConstraint(spark, t, "n_pos")
    TxnLake.restore(spark, t, vWith)
    assert(TxnLake.tableConstraints(spark, t) == Map("n_pos" -> "n > 0"),
      "restore must bring the target version's constraints back")
    // clones inherit and enforce
    val cl = Files.createTempDirectory("txnlake_check").resolve("cl").toString
    TxnLake.cloneTable(spark, t, cl)
    assert(TxnLake.tableConstraints(spark, cl) == Map("n_pos" -> "n > 0"))
    intercept[IllegalStateException] {
      TxnLake.commit(spark, Seq((9L, -1L, "z")).toDF("k", "n", "s")
        .coalesce(1), cl, "append")
    }
  }

  test("a constrained + bloom-indexed commit reads its fresh bytes in " +
    "ONE post-write pass — sidecars and verdicts share the scan") {
    import spark.implicits._
    val t = fresh()
    TxnLake.commit(spark,
      Seq((1L, 5L)).toDF("k", "n").coalesce(1), t, "append",
      bloomCols = Seq("k"))
    TxnLake.addConstraint(spark, t, "n_small", "n < 100")
    // constrained + bloomed append: exactly one fresh-bytes scan
    TxnLake.commit(spark,
      Seq((2L, 7L), (3L, 8L)).toDF("k", "n").coalesce(1), t, "append")
    assert(TxnLake.lastPostWriteScans == 1,
      "blooms + checks must fold into one post-write read")
    // sidecar actually landed AND the verdicts were enforced on the
    // same commit path
    val (_, (kept, total)) = TxnLake.readKeyed(spark, t, "k", Seq("2"))
    assert(kept < total, "the folded pass must still publish sidecars")
    intercept[IllegalStateException] {
      TxnLake.commit(spark,
        Seq((4L, 500L)).toDF("k", "n").coalesce(1), t, "append")
    }
    // maintenance skips enforcement but still needs its bloom pass
    TxnLake.optimize(spark, t, numFiles = 1)
    assert(TxnLake.lastPostWriteScans == 1,
      "optimize rebuilds sidecars in one pass (no constraint re-scan)")
    // an unbloomed, unconstrained table pays no post-write scan at all
    val t2 = fresh()
    TxnLake.commit(spark, Seq((1L, 1L)).toDF("k", "n").coalesce(1),
      t2, "append")
    assert(TxnLake.lastPostWriteScans == 0,
      "no blooms + no checks = zero post-write reads")
    // a violating commit aborts BEFORE any sidecar publishes: the data
    // dir is removed wholesale, nothing orphans
    val t3 = fresh()
    TxnLake.commit(spark, Seq((1L, 5L)).toDF("k", "n").coalesce(1),
      t3, "append", bloomCols = Seq("k"))
    TxnLake.addConstraint(spark, t3, "n_small", "n < 100")
    val preDirs = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(t3, "data"))
      try s.iterator().asScala.map(_.getFileName.toString).toSet
      finally s.close()
    }
    intercept[IllegalStateException] {
      TxnLake.commit(spark, Seq((9L, 900L)).toDF("k", "n").coalesce(1),
        t3, "append")
    }
    val postDirs = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(t3, "data"))
      try s.iterator().asScala.map(_.getFileName.toString).toSet
      finally s.close()
    }
    assert(postDirs == preDirs, "refused commit must leave no data dir")
  }
}
