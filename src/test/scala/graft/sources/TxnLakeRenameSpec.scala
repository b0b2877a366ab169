package graft.sources

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Column RENAME via column mapping — Delta's 'name'-mode rename: one
  * metadata log entry, zero file moves, zero schema-json churn. The
  * column keeps its PHYSICAL name in every file, stat, and bloom
  * sidecar; a cumulative (physical → display) overlay renames at the
  * read/write boundaries. Old-name writes refuse, skipping stays live,
  * old versions time-travel under their era's names, DML and merge
  * speak the new name, and the pins (identity/generated/constraint)
  * refuse what would dangle. */
class TxnLakeRenameSpec extends SparkSpec {

  private def fresh(): String =
    Files.createTempDirectory("txnlake_rename").resolve("t").toString

  test("rename is metadata-only: data intact under the new name (old " +
    "files included), plain reads show only display names, time travel " +
    "keeps the era's names, and the old-name write refuses") {
    import spark.implicits._
    val t = fresh()
    TxnLake.commit(spark,
      (0L until 40L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1),
      t, "append")
    val filesBefore = TxnLake.snapshotFiles(spark, t).map(_.path).toSet
    val vData = TxnLake.latestVersion(spark, t).get
    TxnLake.renameColumn(spark, t, "v", "val")
    // metadata-only: same physical files, one new log entry
    assert(TxnLake.snapshotFiles(spark, t).map(_.path).toSet == filesBefore)
    assert(TxnLake.commitInfo(spark, t,
      TxnLake.latestVersion(spark, t).get).operation == "metadata")
    // reads speak the NEW name — including the pre-rename file's bytes
    val df = TxnLake.read(spark, t)
    assert(df.columns.toSeq == Seq("k", "val"),
      s"plain reads must show display names: ${df.columns.toSeq}")
    assert(df.count() == 40)
    assert(df.filter(col("val") === "v7").count() == 1)
    // time travel: the pre-rename version answers under ITS names
    assert(TxnLake.readVersion(spark, t, vData).columns.toSeq
      == Seq("k", "v"), "old versions time-travel under their era's names")
    // writing under the RETIRED name refuses loudly
    intercept[IllegalArgumentException] {
      TxnLake.commit(spark,
        Seq((100L, "x")).toDF("k", "v").coalesce(1), t, "append")
    }
    // the new name appends, and lands physically under the PHYSICAL name
    TxnLake.commit(spark,
      Seq((100L, "x")).toDF("k", "val").coalesce(1), t, "append")
    assert(TxnLake.read(spark, t).count() == 41)
    val newest = TxnLake.snapshotFiles(spark, t)
      .map(_.path).filterNot(filesBefore).head
    val phys = spark.read.parquet(
      new org.apache.hadoop.fs.Path(t, newest).toString)
    assert(phys.columns.toSeq == Seq("k", "v"),
      s"files store the stable physical names: ${phys.columns.toSeq}")
    // DESCRIBE DETAIL surfaces display schema + the overlay
    val det = TxnLake.describeDetail(spark, t)
    assert(det.schema.exists(_.fieldNames.toSeq == Seq("k", "val")))
    assert(det.renames == Map("v" -> "val"))
    // rename-back collapses the overlay entirely
    TxnLake.renameColumn(spark, t, "val", "v")
    assert(TxnLake.columnRenames(spark, t).isEmpty)
    assert(TxnLake.read(spark, t).columns.toSeq == Seq("k", "v"))
  }

  test("stats and bloom skipping stay LIVE across a rename — the " +
    "sidecars never knew the display name") {
    import spark.implicits._
    val t = fresh()
    (0 until 4).foreach { i =>
      TxnLake.commit(spark,
        (0 until 50).map(j => (i * 50L + j, s"d$j")).toDF("k", "v")
          .coalesce(1), t, "append", bloomCols = Seq("k"))
    }
    val (preKept, preTotal) = TxnLake.skippingStats(spark, t, col("k") === 75L)
    assert(preTotal == 4 && preKept == 1, "fixture: range stats prune")
    TxnLake.renameColumn(spark, t, "k", "key")
    // range-stat skipping under the DISPLAY name
    val (kept, total) = TxnLake.skippingStats(spark, t, col("key") === 75L)
    assert(total == 4 && kept == 1,
      s"stat skipping must survive the rename: kept $kept of $total")
    // bloom-keyed scan under the DISPLAY name prunes and answers
    val (scan, (bk, bt)) = TxnLake.readKeyed(spark, t, "key", Seq("75"))
    assert(bt == 4 && bk == 1,
      s"bloom skipping must survive the rename: kept $bk of $bt")
    assert(scan.filter(col("key") === 75L).count() == 1)
    // readWhere under the display name: pruned AND correct
    val (df, (rk, rt)) = TxnLake.readWherePruned(spark, t, col("key") < 10L)
    assert(rk == 1 && rt == 4)
    assert(df.count() == 10)
    // and the row-level predicate must PUSH DOWN through the display
    // overlay's Project into the parquet scan, under the PHYSICAL name —
    // a rename that broke pushdown would silently read every row of
    // every kept file at 100 TB
    val plan = df.queryExecution.sparkPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("LessThan(k,"),
      s"the display predicate must reach the scan as a physical-name " +
        s"pushed filter:\n$plan")
  }

  test("DML, merge, DV ops, OPTIMIZE, and row ids all speak the new " +
    "name; row ids stay stable through rename-era rewrites") {
    import spark.implicits._
    import TxnLake.{MergeInsert, MergeUpdate, sourceCol}
    val t = fresh()
    TxnLake.commit(spark,
      (0L until 30L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1),
      t, "append")
    def rids(): Map[Long, Long] = TxnLake.readWithRowIds(spark, t)
      .select("key", TxnLake.RidCol).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    TxnLake.renameColumn(spark, t, "k", "key")
    val ids0 = rids()
    assert(ids0.size == 30 && TxnLake.readWithRowIds(spark, t)
      .columns.contains("key"))
    // CoW update/delete under the display predicate
    TxnLake.updateWhere(spark, t, col("key") === 3L, Map("v" -> lit("u")))
    TxnLake.deleteWhere(spark, t, col("key") === 5L)
    assert(rids() == ids0 - 5L, "rename-era rewrites must carry row ids")
    assert(TxnLake.read(spark, t).filter(col("v") === "u").count() == 1)
    // DV delete + DV update under the display predicate
    TxnLake.deleteWhere(spark, t, col("key") === 6L)
    TxnLake.updateWhere(spark, t, col("key") === 7L,
      Map("v" -> lit("dv")))
    assert(rids() == ids0 - 5L - 6L)
    assert(TxnLake.read(spark, t).filter(col("key") === 7L)
      .select("v").head().getString(0) == "dv")
    // merge keyed by the DISPLAY name
    TxnLake.mergeIntoClauses(spark,
      Seq((8L, "m"), (200L, "m")).toDF("key", "v").coalesce(1), t, "key",
      matched = Seq(MergeUpdate(Map("v" -> sourceCol("v")))),
      notMatched = Seq(MergeInsert(Map("key" -> col("key"),
        "v" -> col("v")))))
    val m = rids()
    assert(m(8L) == ids0(8L) && m.contains(200L))
    // OPTIMIZE clusters by the display name and carries ids
    TxnLake.optimize(spark, t, zorderBy = Seq("key"), numFiles = 2)
    assert(rids() == m, "OPTIMIZE under the display name carries ids")
    // the change feed speaks display names too
    val v = TxnLake.latestVersion(spark, t).get
    val feed = TxnLake.tableChanges(spark, t, 0L, v, "key")
    assert(feed.columns.contains("key") && !feed.columns.contains("k"))
  }

  test("pins and collisions: identity/generated columns refuse their " +
    "OWN rename (name-keyed machinery); referenced columns rename WITH " +
    "their references; name collisions refuse; dropColumn retires the " +
    "mapping and tombstones the physical name; restore and clone are " +
    "era-correct") {
    import spark.implicits._
    val t = fresh()
    TxnLake.commit(spark,
      Seq.empty[(Long, String, Long)].toDF("k", "v", "n").coalesce(1),
      t, "append")
    TxnLake.addIdentityColumn(spark, t, "id")
    TxnLake.addGeneratedColumn(spark, t, "n2", org.apache.spark.sql.types
      .LongType, "n * 2")
    TxnLake.addConstraint(spark, t, "n_pos", "n >= 0")
    intercept[IllegalArgumentException] {
      TxnLake.renameColumn(spark, t, "id", "ident") // identity pinned
    }
    intercept[IllegalArgumentException] {
      TxnLake.renameColumn(spark, t, "n2", "dbl") // generated pinned
    }
    // a column REFERENCED by a constraint and a generated column
    // renames — the stored expressions follow (rewritten in the same
    // metadata commit) and keep enforcing under the new name
    TxnLake.renameColumn(spark, t, "n", "num")
    val consSql = TxnLake.tableConstraints(spark, t)("n_pos")
    assert(consSql.contains("num"),
      s"the constraint text must follow the rename: $consSql")
    val e1 = intercept[IllegalStateException] {
      TxnLake.commit(spark,
        Seq((1L, "a", -5L)).toDF("k", "v", "num").coalesce(1), t, "append")
    }
    assert(e1.getMessage.contains("n_pos"),
      "the rewritten constraint must still enforce")
    TxnLake.commit(spark,
      Seq((1L, "a", 5L)).toDF("k", "v", "num").coalesce(1), t, "append")
    val filled = TxnLake.read(spark, t)
      .select("num", "n2").collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(filled.toSeq == Seq(5L -> 10L),
      s"the rewritten generated column must still fill: ${filled.toSeq}")
    TxnLake.renameColumn(spark, t, "v", "txt")
    intercept[IllegalArgumentException] {
      TxnLake.renameColumn(spark, t, "k", "txt") // display collision
    }
    intercept[IllegalArgumentException] {
      TxnLake.renameColumn(spark, t, "k", "v") // retired-physical collision
    }
    intercept[IllegalArgumentException] {
      TxnLake.addColumn(spark, t, "txt", org.apache.spark.sql.types
        .StringType) // display collision on ADD
    }
    intercept[IllegalArgumentException] {
      TxnLake.addColumn(spark, t, "v", org.apache.spark.sql.types
        .StringType) // retired physical still owns its storage
    }
    // a constraint may reference a renamed column by its DISPLAY name
    // (enforcement translates through the overlay) — the RETIRED
    // physical name refuses, since it would bind the wrong storage
    TxnLake.addConstraint(spark, t, "txt_ne", "txt <> 'nope'")
    val e2 = intercept[IllegalStateException] {
      TxnLake.commit(spark,
        Seq((2L, "nope", 1L)).toDF("k", "txt", "num").coalesce(1),
        t, "append")
    }
    assert(e2.getMessage.contains("txt_ne"),
      "a display-name constraint on a renamed column must enforce")
    intercept[IllegalArgumentException] {
      TxnLake.addConstraint(spark, t, "bad", "v <> ''")
    }
    // restore: the pre-rename era returns WITH its names; clone carries
    val t2 = fresh()
    TxnLake.commit(spark,
      (0L until 5L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1),
      t2, "append")
    TxnLake.renameColumn(spark, t2, "v", "val")
    val vRenamed = TxnLake.latestVersion(spark, t2).get
    TxnLake.restore(spark, t2, 0L)
    assert(TxnLake.read(spark, t2).columns.toSeq == Seq("k", "v"),
      "restore returns the era's display names")
    TxnLake.restore(spark, t2, vRenamed)
    assert(TxnLake.read(spark, t2).columns.toSeq == Seq("k", "val"))
    val c = Files.createTempDirectory("txnlake_rename").resolve("c")
      .toString
    TxnLake.cloneTable(spark, t2, c)
    assert(TxnLake.read(spark, c).columns.toSeq == Seq("k", "val"))
    assert(TxnLake.columnRenames(spark, c) == Map("v" -> "val"))
    // dropColumn by display name: tombstones the PHYSICAL name, retires
    // the mapping, and the resurrect guard fires on BOTH names
    TxnLake.dropColumn(spark, t2, "val")
    assert(TxnLake.columnRenames(spark, t2).isEmpty)
    assert(TxnLake.read(spark, t2).columns.toSeq == Seq("k"))
    intercept[IllegalArgumentException] {
      TxnLake.commit(spark, Seq((9L, "z")).toDF("k", "v").coalesce(1),
        t2, "append") // physical tombstone
    }
  }

  test("a rename racing concurrent writers stays consistent: every " +
    "append that lands after the rename entry translated through it, " +
    "and no physical file ever carries the display name") {
    import spark.implicits._
    val t = fresh()
    TxnLake.commit(spark,
      (0L until 10L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1),
      t, "append")
    // writers race the rename: each commit attempt re-reads the latest
    // entry, so an attempt that loses the publish race to the rename
    // must retry UNDER the new overlay — the old-name frame then either
    // translates (it used the display name) or refuses (retired name)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val writers = (0 until 2).map { w =>
      scala.concurrent.Future {
        var refused = 0
        (0 until 6).foreach { b =>
          // writers keep using the OLD name: commits that land before
          // the rename succeed, commits that land after must refuse —
          // including an attempt that READ the pre-rename entry, lost
          // the publish race to the rename, and retried under the
          // fresh overlay
          try TxnLake.commit(spark,
            Seq((1000L + w * 100L + b, s"w$w-$b")).toDF("k", "v")
              .coalesce(1), t, "append", maxAttempts = 200)
          catch { case _: IllegalArgumentException => refused += 1 }
        }
        refused
      }
    }
    val renamer = scala.concurrent.Future {
      Thread.sleep(30)
      TxnLake.renameColumn(spark, t, "v", "val", maxAttempts = 200)
    }
    val refusals = try scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(writers),
      scala.concurrent.duration.Duration(300, "s")).sum
    finally {
      scala.concurrent.Await.ready(renamer,
        scala.concurrent.duration.Duration(300, "s"))
      pool.shutdown()
    }
    // whichever way the race fell, the table is coherent: one logical
    // column, display name "val", and EVERY physical file stores "v"
    val df = TxnLake.read(spark, t)
    assert(df.columns.toSeq == Seq("k", "val"))
    val expected = 10 + 12 - refusals
    assert(df.count() == expected,
      s"every non-refused write must have landed exactly once: " +
        s"${df.count()} vs $expected ($refusals refused)")
    TxnLake.snapshotFiles(spark, t).foreach { fm =>
      val cols = spark.read.parquet(
        new org.apache.hadoop.fs.Path(t, fm.path).toString).columns.toSeq
      assert(cols == Seq("k", "v"),
        s"physical files must carry the physical name: $cols (${fm.path})")
    }
    // values intact under the display name, and post-rename writes
    // under the NEW name land normally
    assert(df.filter(col("val").startsWith("w")).count() == 12 - refusals)
    TxnLake.commit(spark, Seq((9999L, "after")).toDF("k", "val")
      .coalesce(1), t, "append")
    assert(TxnLake.read(spark, t).filter(col("k") === 9999L)
      .select("val").head().getString(0) == "after")
  }

  test("a change feed spanning a mid-range rename speaks ONE naming — " +
    "snapshot-replacement hops included — in both the user-key and " +
    "row-id feeds") {
    import spark.implicits._
    val t = fresh()
    TxnLake.commit(spark,
      (0L until 8L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1),
      t, "append") // v0
    // v1: OVERWRITE — the snapshot-replacement hop that must NOT read
    // under its own (pre-rename) era names
    TxnLake.commit(spark,
      (4L until 12L).map(i => (i, s"o$i")).toDF("k", "v").coalesce(1),
      t, "overwrite")
    TxnLake.renameColumn(spark, t, "v", "val") // v2
    TxnLake.commit(spark,
      Seq((100L, "n")).toDF("k", "val").coalesce(1), t, "append") // v3
    val latest = TxnLake.latestVersion(spark, t).get
    val feed = TxnLake.tableChanges(spark, t, 0L, latest, "k")
    assert(feed.columns.contains("val") && !feed.columns.contains("v"),
      s"every hop must speak the LATEST names: ${feed.columns.toSeq}")
    // the overwrite hop's rows are attributed, under the new name
    val ow = feed.filter(col("commit_version") === 1L)
    assert(ow.filter(col("change_type") === "insert")
      .filter(col("val").startsWith("o")).count() > 0,
      "the pre-rename overwrite hop must carry its values under 'val'")
    assert(feed.filter(col("val").isNull).count() == 0,
      "no hop may null-fill into a phantom old-name column")
    // the row-id feed over the same range agrees
    val ridFeed = TxnLake.tableChangesByRowId(spark, t, 0L, latest)
    assert(ridFeed.columns.contains("val")
      && !ridFeed.columns.contains("v")
      && ridFeed.filter(col("val").isNull).count() == 0)
    assert(ridFeed.filter(col("commit_version") === 3L)
      .select(TxnLake.RidCol).head().getLong(0) > 0L)
  }

  test("a rename follows EVERY reference in a stored expression — a " +
    "constraint naming the column twice rewrites both occurrences, " +
    "still enforces both bounds, and a rename-back rewrites again") {
    import spark.implicits._
    val t = fresh()
    TxnLake.commit(spark,
      Seq.empty[(Long, Long)].toDF("k", "n").coalesce(1), t, "append")
    TxnLake.addConstraint(spark, t, "n_band", "n >= 0 AND n < 1000")
    TxnLake.renameColumn(spark, t, "n", "num")
    val sql = TxnLake.tableConstraints(spark, t)("n_band")
    assert(sql.contains("num") && !sql.matches(".*`n`.*"),
      s"both occurrences must rewrite: $sql")
    // both bounds still enforce under the new name
    intercept[IllegalStateException] {
      TxnLake.commit(spark,
        Seq((1L, -1L)).toDF("k", "num").coalesce(1), t, "append")
    }
    intercept[IllegalStateException] {
      TxnLake.commit(spark,
        Seq((1L, 5000L)).toDF("k", "num").coalesce(1), t, "append")
    }
    TxnLake.commit(spark,
      Seq((1L, 500L)).toDF("k", "num").coalesce(1), t, "append")
    assert(TxnLake.read(spark, t).count() == 1)
    // rename BACK: the overlay collapses and the stored text follows
    // again — referencing the (now plain) physical name
    TxnLake.renameColumn(spark, t, "num", "n")
    assert(TxnLake.columnRenames(spark, t).isEmpty)
    val back = TxnLake.tableConstraints(spark, t)("n_band")
    assert(!back.contains("num"),
      s"rename-back must rewrite the stored text too: $back")
    intercept[IllegalStateException] {
      TxnLake.commit(spark,
        Seq((2L, -7L)).toDF("k", "n").coalesce(1), t, "append")
    }
  }

  test("a CASE-VARIANT write of a renamed column translates to the " +
    "physical name — validation and translation use the same resolver") {
    import spark.implicits._
    val t = fresh()
    TxnLake.commit(spark,
      (0L until 20L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1),
      t, "append", bloomCols = Seq("v"))
    TxnLake.renameColumn(spark, t, "v", "val")
    val before = TxnLake.snapshotFiles(spark, t).map(_.path).toSet
    // 'VAL' resolves to display 'val' under the default case-insensitive
    // resolver: the guards accept it, so translation must fire too
    TxnLake.commit(spark,
      Seq((100L, "x")).toDF("k", "VAL").coalesce(1), t, "append")
    val newest = TxnLake.snapshotFiles(spark, t)
      .filterNot(fm => before(fm.path))
    assert(newest.nonEmpty)
    newest.foreach { fm =>
      val phys = spark.read.parquet(
        new org.apache.hadoop.fs.Path(t, fm.path).toString)
      assert(phys.columns.toSeq == Seq("k", "v"),
        s"a case-variant write must land under the PHYSICAL name: " +
          s"${phys.columns.toSeq}")
      assert(fm.stats.contains("v")
          && fm.stats.keys.forall(c => c == "k" || c == "v"),
        s"footer stats must key on the physical name: ${fm.stats.keys}")
    }
    // the sidecar-backed point probe still prunes the variant-written file
    val (_, (kept, total)) = TxnLake.readKeyed(spark, t, "val", Seq("x"))
    assert(total == 2 && kept == 1,
      s"bloom skipping must stay exact across the variant write: " +
        s"($kept, $total)")
    assert(TxnLake.read(spark, t).columns.toSeq == Seq("k", "val"))
    assert(TxnLake.read(spark, t).count() == 21)
  }
}
