package graft.sources

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Above-cap snapshot resolution: past `graft.snapshot.distributedPruneCap`
  * live files, [[TxnLake.readWherePruned]] decides its kept set as a
  * distributed plan over the parquet checkpoint — the driver holds only
  * the survivors, never the O(snapshot) file list. These specs pin the
  * two-regime contract: identical kept sets, identical rows, the seam
  * reporting which path ran, and the distributed path speaking renames,
  * deletion vectors, and tail-of-log commits exactly like the driver
  * path. */
class TxnLakeDistributedPruneSpec extends SparkSpec {

  private def fresh(): String =
    Files.createTempDirectory("txnlake_distprune").resolve("t").toString

  private def withCap[A](cap: Int)(body: => A): A = {
    spark.conf.set("graft.snapshot.distributedPruneCap", cap.toString)
    try body finally spark.conf.unset("graft.snapshot.distributedPruneCap")
  }

  /** 12 single-file commits with disjoint k-ranges — past the v10
    * checkpoint, so versions 11..12 live in the tail. */
  private def build(t: String): Unit = {
    import spark.implicits._
    (0 until 12).foreach { i =>
      TxnLake.commit(spark,
        (0 until 50).map(j => (i * 50L + j, s"d$i-$j")).toDF("k", "v")
          .coalesce(1), t, "append")
    }
  }

  test("above the cap the kept set is decided distributed — same " +
    "counters, same rows, seam flipped; below it the driver path runs") {
    val t = fresh()
    build(t)
    val pred = col("k") >= 100L && col("k") < 150L // exactly file #2
    val (dfDriver, (keptD, totalD)) =
      TxnLake.readWherePruned(spark, t, pred)
    assert(!TxnLake.lastPruneDistributed,
      "below the default cap the driver path must run")
    assert(totalD == 12 && keptD == 1, s"fixture: ($keptD, $totalD)")
    val driverRows = dfDriver.orderBy("k").collect().toSeq
    val (dfDist, (keptX, totalX)) = withCap(1) {
      TxnLake.readWherePruned(spark, t, pred)
    }
    assert(TxnLake.lastPruneDistributed,
      "above the cap the distributed path must run")
    assert((keptX, totalX) == (keptD, totalD),
      s"the regimes must prune identically: ($keptX, $totalX) vs " +
        s"($keptD, $totalD)")
    assert(dfDist.orderBy("k").collect().toSeq == driverRows)
  }

  test("the distributed path sees the TAIL of the log: a post-checkpoint " +
    "append's file prunes in, a rewrite's removed file prunes out") {
    import spark.implicits._
    val t = fresh()
    build(t)
    // tail add (v12 is the newest commit; ckpt at v10): key 575 lives in
    // commit #11's file — reachable only through the tail union
    val (tailDf, (kept, total)) = withCap(1) {
      TxnLake.readWherePruned(spark, t, col("k") === 575L)
    }
    assert(TxnLake.lastPruneDistributed && kept == 1 && total == 12,
      s"tail-added file must prune in distributed: ($kept, $total)")
    assert(tailDf.count() == 1)
    // CoW delete of file #2's range: old file removed, replacement added
    TxnLake.deleteWhere(spark, t, col("k") >= 100L && col("k") < 125L)
    val (delDf, (keptDel, totalDel)) = withCap(1) {
      TxnLake.readWherePruned(spark, t, col("k") >= 100L && col("k") < 150L)
    }
    assert(TxnLake.lastPruneDistributed && totalDel == 12,
      s"CoW rewrite keeps the file count: ($keptDel, $totalDel)")
    assert(delDf.count() == 25, "the distributed scan must read the " +
      "REWRITTEN file, not the removed one")
    // proven-empty predicate: zero survivors collect to the driver
    val (emptyDf, (kept0, _)) = withCap(1) {
      TxnLake.readWherePruned(spark, t, col("k") === -42L)
    }
    assert(TxnLake.lastPruneDistributed && kept0 == 0)
    assert(emptyDf.isEmpty && emptyDf.columns.toSeq == Seq("k", "v"))
  }

  test("the distributed matcher speaks the rename overlay and the scan " +
    "applies deletion vectors — parity with the driver path") {
    val t = fresh()
    build(t)
    TxnLake.renameColumn(spark, t, "k", "key")
    TxnLake.deleteWhere(spark, t, col("key") === 110L)
    val pred = col("key") >= 100L && col("key") < 150L
    val (dfDriver, cDriver) = TxnLake.readWherePruned(spark, t, pred)
    assert(!TxnLake.lastPruneDistributed)
    val driverRows = dfDriver.orderBy("key").collect().toSeq
    val (dfDist, cDist) = withCap(1) {
      TxnLake.readWherePruned(spark, t, pred)
    }
    assert(TxnLake.lastPruneDistributed && cDist == cDriver,
      s"$cDist vs $cDriver")
    val rows = dfDist.orderBy("key").collect().toSeq
    assert(rows == driverRows)
    assert(dfDist.columns.toSeq == Seq("key", "v"))
    assert(dfDist.count() == 49, "the DV mask must apply in the " +
      "distributed regime too")
  }

  test("an EMPTIED above-cap snapshot answers like the driver path " +
    "(no crash sampling a nonexistent file), and a vacuumed version " +
    "refuses loudly in the distributed regime too") {
    import spark.implicits._
    val t = fresh()
    build(t)
    // scorched-earth CoW delete: the checkpoint stays above the cap
    // but the live snapshot holds no rows (one schema-carrying empty
    // file — Spark's empty-write shape; the total<=0 guard in
    // readWhereDistributed covers the zero-file variant defensively)
    TxnLake.deleteWhere(spark, t, lit(true))
    val (dDf, cDriver) = TxnLake.readWherePruned(spark, t, col("k") === 1L)
    assert(!TxnLake.lastPruneDistributed && dDf.isEmpty)
    val (emptyDf, cDist) = withCap(1) {
      TxnLake.readWherePruned(spark, t, col("k") === 1L)
    }
    assert(TxnLake.lastPruneDistributed && cDist == cDriver
        && emptyDf.isEmpty,
      s"an emptied snapshot must answer empty in BOTH regimes: " +
        s"$cDist vs $cDriver")
    // vacuumed time travel: retire the old generation, vacuum, then
    // read an old version above the cap — the dir probe must refuse
    // with the driver path's error, not a mid-scan file-not-found
    val t2 = fresh()
    build(t2)
    val vOld = TxnLake.latestVersion(spark, t2).get
    TxnLake.commit(spark,
      (0 until 5).map(j => (j.toLong, "n")).toDF("k", "v").coalesce(1),
      t2, "overwrite")
    TxnLake.vacuum(spark, t2, retainVersions = 1)
    val e = intercept[IllegalStateException] {
      withCap(1) { TxnLake.readWherePruned(spark, t2,
        col("k") === 1L, Some(vOld)) }
    }
    assert(e.getMessage.contains("vacuumed"),
      s"the distributed regime must refuse a vacuumed version loudly: " +
        e.getMessage)
  }

  test("a pre-checkpoint log (no ckpt yet) falls back to the driver " +
    "path even above the cap — and answers identically") {
    import spark.implicits._
    val t = fresh()
    (0 until 3).foreach { i =>
      TxnLake.commit(spark,
        (0 until 10).map(j => (i * 10L + j, "x")).toDF("k", "v")
          .coalesce(1), t, "append")
    }
    val (df, (kept, total)) = withCap(1) {
      TxnLake.readWherePruned(spark, t, col("k") === 15L)
    }
    assert(!TxnLake.lastPruneDistributed,
      "no checkpoint to distribute over — driver path must serve")
    assert(kept == 1 && total == 3 && df.count() == 1)
  }
}
