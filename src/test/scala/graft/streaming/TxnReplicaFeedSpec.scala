package graft.streaming

import graft.SparkSpec
import graft.sources.TxnLake
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Continuous CDC replication: version-offset polling, exactly-once
  * clause-merge application, maintenance-hop marker advancement, and
  * crash-restart resume from the replica's own txn state. */
class TxnReplicaFeedSpec extends SparkSpec {

  private def fresh(): (String, String) = {
    val d = Files.createTempDirectory("txn_replica")
    (d.resolve("src").toString, d.resolve("rep").toString)
  }

  private def rows(t: String): Map[Long, String] =
    TxnLake.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  test("replica follows appends, updates, deletes, and snapshot bootstrap") {
    import spark.implicits._
    val (src, rep) = fresh()
    TxnLake.commit(spark,
      (0L until 50L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1),
      src, "append") // v0
    TxnLake.commit(spark,
      (50L until 100L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1),
      src, "append") // v1
    val feed = new TxnReplicaFeed(src, rep, "repl", "k")
    assert(feed.poll(spark) == 2, "bootstrap + one append hop")
    assert(rows(rep) == rows(src))
    TxnLake.updateWhere(spark, src, col("k") >= 90L,
      Map("v" -> upper(col("v")))) // v2
    TxnLake.deleteWhere(spark, src, col("k") < 10L) // v3
    TxnLake.commit(spark,
      Seq((200L, "x200")).toDF("k", "v").coalesce(1), src, "append") // v4
    assert(feed.poll(spark) == 3)
    val got = rows(rep)
    assert(got == rows(src) && got.size == 91 && got(90L) == "V90"
      && !got.contains(5L) && got(200L) == "x200")
    // caught up: nothing to apply, and a FRESH consumer instance agrees
    // (the offset lives in the replica's txn state, not in the object)
    assert(feed.poll(spark) == 0)
    assert(new TxnReplicaFeed(src, rep, "repl", "k").poll(spark) == 0)
  }

  test("the feed founds its replica copy-on-write: update hops mask " +
    "nothing and the replica's file count stays flat") {
    import spark.implicits._
    val (src, rep) = fresh()
    TxnLake.commit(spark,
      (0L until 100L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1),
      src, "append")
    val feed = new TxnReplicaFeed(src, rep, "repl", "k")
    assert(feed.poll(spark) == 1)
    val filesPre = TxnLake.snapshotFiles(spark, rep).size
    (0 until 4).foreach { i =>
      TxnLake.mergeInto(spark, Seq((i * 10L, s"u$i")).toDF("k", "v"),
        src, "k")
      assert(feed.poll(spark) == 1)
    }
    assert(TxnLake.deletionVectors(spark, src).nonEmpty,
      "fixture: the source merges on read")
    assert(TxnLake.deletionVectors(spark, rep).isEmpty)
    assert(TxnLake.snapshotFiles(spark, rep).size == filesPre)
    assert(rows(rep) == rows(src))
    // the ALTER still turns the replica's own merges on read
    TxnLake.setDeletionVectors(spark, rep, enabled = true)
    TxnLake.mergeInto(spark, Seq((1L, "w")).toDF("k", "v"), src, "k")
    assert(feed.poll(spark) == 1)
    assert(TxnLake.deletionVectors(spark, rep).nonEmpty)
    assert(rows(rep) == rows(src))
  }

  test("maintenance hops advance the marker with an empty merge — " +
    "replica data untouched") {
    import spark.implicits._
    val (src, rep) = fresh()
    (0 until 4).foreach { i =>
      TxnLake.commit(spark,
        (i * 10L until i * 10L + 10L).map(j => (j, s"v$j")).toDF("k", "v")
          .coalesce(1), src, "append")
    }
    val feed = new TxnReplicaFeed(src, rep, "repl", "k")
    assert(feed.poll(spark) == 4)
    val repVPre = TxnLake.latestVersion(spark, rep).get
    // source maintenance: zero change rows, but the offset must advance
    TxnLake.compactSmallFiles(spark, src, minFileBytes = Long.MaxValue)
      .getOrElse(sys.error("fixture: compaction must pack 4 small files"))
    assert(feed.poll(spark) == 1, "the maintenance hop is one marker merge")
    val repVPost = TxnLake.latestVersion(spark, rep).get
    assert(repVPost == repVPre + 1)
    assert(TxnLake.commitInfo(spark, rep, repVPost).operation == "merge")
    assert(TxnLake.tableChanges(spark, rep, repVPre, repVPost, "k").isEmpty,
      "an empty marker merge must change no rows")
    assert(rows(rep) == rows(src))
    assert(feed.poll(spark) == 0)
  }

  test("an upstream full refresh (overwrite) lands downstream as an " +
    "incremental hop — only the diff applies") {
    import spark.implicits._
    val (src, rep) = fresh()
    // four RANGED appends: the bootstrap hops land the replica as four
    // id-clustered files, so the diff's key scope is provable below
    (0 until 4).foreach { i =>
      TxnLake.commit(spark,
        (i * 25L until i * 25L + 25L).map(j => (j, s"v$j")).toDF("k", "v")
          .coalesce(1), src, "append")
    }
    val feed = new TxnReplicaFeed(src, rep, "repl", "k")
    assert(feed.poll(spark) == 4)
    val repPre = TxnLake.latestVersion(spark, rep).get
    val repFilesPre = TxnLake.snapshotFiles(spark, rep).map(_.path).toSet
    // the reference-shaped daily job: recompute EVERYTHING, overwrite —
    // but only 3 rows actually differ (one changed, one dropped, one new)
    val refreshed = (0L until 100L).filterNot(_ == 7L)
      .map(i => (i, if (i == 3L) "CHANGED" else s"v$i")) :+ (500L, "new")
    TxnLake.commit(spark, refreshed.toDF("k", "v").repartition(4),
      src, "overwrite") // snapshot replacement
    assert(feed.poll(spark) == 1)
    val got = rows(rep)
    assert(got == rows(src) && got(3L) == "CHANGED" && !got.contains(7L)
      && got(500L) == "new" && got.size == 100)
    // the hop classified ONLY the diff (snapshot-diff fallback inside
    // tableChanges), and the replica's merge rewrote only the files the
    // three changed keys scope to — not the whole table
    val byType = TxnLake.tableChanges(spark, rep, repPre, repPre + 1, "k")
      .groupBy("change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("insert" -> 1L, "delete" -> 1L,
      "update_preimage" -> 1L, "update_postimage" -> 1L),
      s"downstream must see the 3-row diff, not the refresh: $byType")
    val carried = repFilesPre intersect
      TxnLake.snapshotFiles(spark, rep).map(_.path).toSet
    assert(carried.size == 3,
      "only the one replica file holding the changed keys may rewrite — " +
        s"the other three carry verbatim (carried ${carried.size})")
  }

  test("the feed follows source schema evolution; followSchema=false " +
    "parks the offset just before the widening hop") {
    import spark.implicits._
    val (src, rep) = fresh()
    val strict = java.nio.file.Files.createTempDirectory("txn_replica")
      .resolve("strict").toString
    TxnLake.commit(spark,
      (0L until 20L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1),
      src, "append") // v0: narrow
    val follow = new TxnReplicaFeed(src, rep, "repl", "k",
      followSchema = true)
    val parked = new TxnReplicaFeed(src, strict, "repl", "k") // default
    assert(follow.poll(spark) == 1 && parked.poll(spark) == 1)
    // the source evolves: an append brings a third column
    TxnLake.commit(spark,
      Seq((100L, "x100", "w")).toDF("k", "v", "extra").coalesce(1),
      src, "append") // v1: wide
    assert(follow.poll(spark) == 1)
    val wide = TxnLake.read(spark, rep)
    assert(wide.columns.toSeq == Seq("k", "v", "extra"))
    val got = wide.collect().map(r => r.getLong(0) ->
      (r.getString(1), Option(r.getString(2)))).toMap
    assert(got(100L) == ("x100", Some("w")) && got(5L) == ("v5", None),
      "pre-evolution replica rows must null-fill the new column")
    assert(TxnLake.readVersion(spark, rep, 0L).columns.toSeq ==
      Seq("k", "v"), "the replica's narrow history must time-travel")
    // the strict feed refuses the widening hop and parks BEFORE it
    intercept[IllegalArgumentException] { parked.poll(spark) }
    assert(TxnLake.lastTxn(spark, strict, "repl").contains(0L),
      "the offset must park at the last applied narrow hop")
    assert(TxnLake.read(spark, strict).count() == 20,
      "a refused hop must leave the replica untouched")
    // resuming with a following consumer picks up exactly there
    assert(new TxnReplicaFeed(src, strict, "repl", "k",
      followSchema = true).poll(spark) == 1)
    assert(TxnLake.read(spark, strict).columns.toSeq ==
      Seq("k", "v", "extra"))
  }

  test("founding against an AGED source (early files vacuumed) " +
    "bootstraps from the latest snapshot — marker at latest, then " +
    "only subsequent hops stream") {
    import spark.implicits._
    val (src, rep) = fresh()
    TxnLake.commit(spark,
      (0L until 50L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1),
      src, "append") // v0
    TxnLake.commit(spark,
      (50L until 100L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1),
      src, "append") // v1
    assert(TxnLake.fullHistoryLive(spark, src), "nothing vacuumed yet")
    TxnLake.compactSmallFiles(spark, src, minFileBytes = Long.MaxValue)
      .getOrElse(sys.error("fixture: compaction must pack 2 files")) // v2
    TxnLake.vacuum(spark, src, retainVersions = 1)
    assert(!TxnLake.fullHistoryLive(spark, src),
      "the v0/v1 files are reclaimed — replay is impossible")
    val feed = new TxnReplicaFeed(src, rep, "repl", "k")
    assert(feed.poll(spark) == 1,
      "an aged source founds with ONE snapshot merge, not a v0 replay")
    assert(rows(rep) == rows(src) && rows(rep).size == 100)
    assert(TxnLake.lastTxn(spark, rep, "repl").contains(2L),
      "the marker must land at the LATEST source version")
    // subsequent hops stream incrementally from there
    TxnLake.updateWhere(spark, src, col("k") === 5L,
      Map("v" -> lit("NEW"))) // v3
    assert(feed.poll(spark) == 1 && rows(rep)(5L) == "NEW"
      && rows(rep) == rows(src))
    assert(new TxnReplicaFeed(src, rep, "repl", "k").poll(spark) == 0)
  }

  test("an upstream metadata-only ALTER flows through the feed: the " +
    "hop lands as an empty marker, the evolving append follows, and a " +
    "strict consumer parks with the guided refusal") {
    import spark.implicits._
    val (src, rep) = fresh()
    TxnLake.commit(spark,
      (0L until 20L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1),
      src, "append") // v0
    val follow = new TxnReplicaFeed(src, rep, "repl", "k",
      followSchema = true)
    assert(follow.poll(spark) == 1)
    TxnLake.addColumn(spark, src, "n",
      org.apache.spark.sql.types.LongType) // v1: metadata-only hop
    TxnLake.commit(spark,
      Seq((100L, "x", 5L)).toDF("k", "v", "n").coalesce(1),
      src, "append") // v2: data under the widened schema
    assert(follow.poll(spark) == 2,
      "the ALTER hop advances as a marker; the append applies after it")
    assert(TxnLake.read(spark, rep).columns.toSeq == Seq("k", "v", "n")
      && TxnLake.read(spark, rep).count() == 21
      && TxnLake.lastTxn(spark, rep, "repl").contains(2L))
    // a strict consumer parks BEFORE the widening, naming the fix
    val strict = java.nio.file.Files.createTempDirectory("txn_replica")
      .resolve("strict").toString
    val sf = new TxnReplicaFeed(src, strict, "repl", "k")
    val e = intercept[IllegalArgumentException] { sf.poll(spark) }
    assert(e.getMessage.contains("evolveSchema"))
    assert(TxnLake.lastTxn(spark, strict, "repl").contains(0L))
  }

  test("replayed versions no-op at the commit — the merge marker, not " +
    "convergence, is the replay guard") {
    import spark.implicits._
    val (src, rep) = fresh()
    TxnLake.commit(spark,
      (0L until 20L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1),
      src, "append") // v0
    val feed = new TxnReplicaFeed(src, rep, "repl", "k")
    assert(feed.poll(spark) == 1)
    TxnLake.updateWhere(spark, src, col("k") === 3L,
      Map("v" -> lit("NEW"))) // v1
    assert(feed.poll(spark) == 1 && rows(rep)(3L) == "NEW")
    // direct replay of the OLD v1 batch (what a crashed consumer would
    // re-send): the (appId, version) marker refuses it — without the
    // marker this would be applied as a fresh merge
    import TxnLake.{MergeInsert, MergeUpdate, sourceCol}
    val stale = Seq((3L, "v3", "U")).toDF("k", "v", "__op")
    assert(TxnLake.mergeIntoClauses(spark, stale, rep, "k",
      matched = Seq(MergeUpdate(Map("v" -> sourceCol("v")))),
      notMatched = Seq(MergeInsert(Map("k" -> col("k"), "v" -> col("v")))),
      txn = Some(("repl", 1L))).isEmpty,
      "a replayed (appId, version) must no-op at the commit")
    assert(rows(rep)(3L) == "NEW", "the replay must not regress the row")
  }

  test("an EMPTY founding hop still lands the offset marker: the " +
    "replica founds typed-empty and later polls never re-pay the " +
    "founding decision") {
    import spark.implicits._
    val (src, rep) = fresh()
    // empty v0: typed frame, zero rows
    TxnLake.commit(spark,
      Seq.empty[(Long, String)].toDF("k", "v").coalesce(1), src, "append")
    val feed = new TxnReplicaFeed(src, rep, "repl", "k")
    assert(feed.poll(spark) == 1, "the empty founding hop must commit")
    assert(TxnLake.lastTxn(spark, rep, "repl").contains(0L),
      "the marker is the offset — it must land even on an empty hop")
    assert(TxnLake.read(spark, rep).isEmpty)
    assert(feed.poll(spark) == 0, "caught up — no refounding")
    // data arrives later: exactly one hop applies on the SAME offset line
    TxnLake.commit(spark,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1), src, "append")
    assert(feed.poll(spark) == 1)
    assert(rows(rep) == Map(1L -> "a", 2L -> "b"))
  }

  test("founding against an aged source whose LATEST snapshot is empty " +
    "lands the marker at latest — no per-poll fullHistoryLive re-pay") {
    import spark.implicits._
    val (src, rep) = fresh()
    TxnLake.commit(spark,
      (0L until 20L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1),
      src, "append") // v0
    // copy-on-write, so the emptying delete retires v0's file
    TxnLake.setDeletionVectors(spark, src, enabled = false)
    TxnLake.deleteWhere(spark, src, lit(true)) // empty snapshot
    TxnLake.vacuum(spark, src, retainVersions = 1)
    assert(!TxnLake.fullHistoryLive(spark, src), "fixture: source is aged")
    val feed = new TxnReplicaFeed(src, rep, "repl", "k")
    feed.poll(spark)
    assert(TxnLake.lastTxn(spark, rep, "repl")
      == TxnLake.latestVersion(spark, src),
      "the empty-latest founding must persist the offset at latest")
    assert(TxnLake.read(spark, rep).isEmpty)
    val repV = TxnLake.latestVersion(spark, rep)
    assert(feed.poll(spark) == 0
      && TxnLake.latestVersion(spark, rep) == repV,
      "subsequent polls are pure no-ops — the decision was cached in " +
        "the marker, not recomputed")
    TxnLake.commit(spark,
      Seq((7L, "x")).toDF("k", "v").coalesce(1), src, "append") // v2
    assert(feed.poll(spark) == 1 && rows(rep) == Map(7L -> "x"))
  }

  test("maxFilesPerHop slices oversized insert hops into exactly-once " +
    "file slices; a crash mid-hop resumes at the first unapplied slice " +
    "and the offset never passes a half-applied hop") {
    import spark.implicits._
    val (src, rep) = fresh()
    // v0: a 6-file snapshot (the bootstrap hop to slice)
    TxnLake.commit(spark,
      (0L until 60L).map(i => (i, s"v$i")).toDF("k", "v").repartition(6),
      src, "append")
    val feed = new TxnReplicaFeed(src, rep, "repl", "k",
      maxFilesPerHop = 2)
    assert(feed.poll(spark) == 1, "a sliced bootstrap is ONE version")
    assert(rows(rep) == rows(src))
    // the completion marker is the record; the per-slice markers are
    // GARBAGE-COLLECTED by the completion commit (resume never consults
    // them at or below the completed offset, and carrying them in every
    // later entry's cumulative txns map forever would be pure growth)
    assert(TxnLake.lastTxn(spark, rep, "repl").contains(0L))
    assert(TxnLake.lastTxn(spark, rep, "repl#boot0@2").isEmpty,
      "the completed hop's slice markers must be GC'd from the txns map")
    // a bulk append past the cap slices too, under its own marker
    TxnLake.commit(spark,
      (100L until 140L).map(i => (i, s"v$i")).toDF("k", "v")
        .repartition(4), src, "append") // v1
    assert(feed.poll(spark) == 1)
    assert(rows(rep) == rows(src) && rows(rep).size == 100)
    assert(TxnLake.lastTxn(spark, rep, "repl#v1@2").isEmpty,
      "a bulk append hop's slice markers GC with its completion too")
    // CRASH SIMULATION: a half-applied hop = slice markers present,
    // completion marker absent. Build it by hand for v2, then let a
    // fresh consumer resume: applied slices replay as marker no-ops,
    // the missing slices apply, the completion marker lands LAST.
    TxnLake.commit(spark,
      (200L until 240L).map(i => (i, s"v$i")).toDF("k", "v")
        .repartition(4), src, "append") // v2
    val (op, adds) = (TxnLake.commitInfo(spark, src, 2L).operation,
      TxnLake.snapshotFiles(spark, src).map(_.path)
        .filter(_.contains("data/v2-")))
    assert(op == "append" && adds.size == 4, s"fixture: $op/${adds.size}")
    // apply ONLY the first slice, exactly as the feed would
    import TxnLake.{MergeInsert, sourceCol}
    TxnLake.mergeIntoClauses(spark,
      TxnLake.readFileSlice(spark, src, 2L, adds.sorted.take(2)),
      rep, "k",
      notMatched = Seq(MergeInsert(Map("k" -> col("k"), "v" -> col("v")))),
      txn = Some(("repl#v2@2", 0L)))
    assert(TxnLake.lastTxn(spark, rep, "repl").contains(1L),
      "the offset must NOT advance past the half-applied hop")
    assert(TxnLake.lastTxn(spark, rep, "repl#v2@2").contains(0L),
      "mid-hop, the applied slice's marker must be LIVE (it is the resume state)")
    val fresh2 = new TxnReplicaFeed(src, rep, "repl", "k",
      maxFilesPerHop = 2)
    assert(fresh2.poll(spark) == 1, "resume applies the remaining hop")
    assert(rows(rep) == rows(src) && rows(rep).size == 140,
      "no row lost, none double-applied")
    assert(TxnLake.lastTxn(spark, rep, "repl").contains(2L))
    assert(TxnLake.lastTxn(spark, rep, "repl#v2@2").isEmpty,
      "the resumed hop's completion must GC the slice markers it replayed")
    // maxVersionsPerPoll drains a backlog in bounded bites
    (0 until 3).foreach { i =>
      TxnLake.commit(spark,
        Seq((900L + i, s"b$i")).toDF("k", "v").coalesce(1), src, "append")
    }
    val bounded = new TxnReplicaFeed(src, rep, "repl", "k",
      maxVersionsPerPoll = 1)
    assert(bounded.poll(spark) == 1 && bounded.poll(spark) == 1
      && bounded.poll(spark) == 1 && bounded.poll(spark) == 0,
      "one version per poll until drained")
    assert(rows(rep) == rows(src))
  }

  test("a cap change across a crashed sliced hop resumes LOSSLESSLY: " +
    "the cap is part of the slice namespace, so foreign ordinals never " +
    "match; and duplicate keys straddling slice boundaries refuse as " +
    "the unsliced merge would") {
    import spark.implicits._
    val (src, rep) = fresh()
    TxnLake.commit(spark,
      (0L until 60L).map(i => (i, s"v$i")).toDF("k", "v").repartition(6),
      src, "append") // v0: 6 files
    // half-apply the bootstrap under cap=2 (slices 0..1 of 3), as a
    // crashed consumer would leave it
    val files = TxnLake.snapshotFiles(spark, src).map(_.path).sorted
    import TxnLake.MergeInsert
    files.grouped(2).zipWithIndex.take(2).foreach { case (slice, i) =>
      TxnLake.mergeIntoClauses(spark,
        TxnLake.readFileSlice(spark, src, 0L, slice), rep, "k",
        notMatched = Seq(MergeInsert(Map("k" -> col("k"),
          "v" -> col("v")))),
        txn = Some(("repl#boot0@2", i.toLong)))
    }
    val partial = TxnLake.read(spark, rep).count()
    assert(partial > 0 && partial < 60,
      s"fixture: half-applied ($partial of 60)")
    // resume with a DIFFERENT cap: the old run's ordinals must not
    // match (a cap-3 slice 0 covers files a cap-2 slice 0 did not) —
    // the fresh namespace re-applies every slice, converging on rows
    // already landed
    val feed3 = new TxnReplicaFeed(src, rep, "repl", "k",
      maxFilesPerHop = 3)
    assert(feed3.poll(spark) == 1)
    assert(rows(rep) == rows(src) && rows(rep).size == 60,
      "cross-cap resume must lose nothing and double-apply nothing")
    assert(TxnLake.lastTxn(spark, rep, "repl#boot0@3").isEmpty
      && TxnLake.lastTxn(spark, rep, "repl#boot0@2").isEmpty,
      "completion GCs BOTH cap namespaces — the fresh run's slices and " +
        "the crashed run's foreign-cap leftovers")
    // duplicate keys across slice boundaries: the sliced hop must
    // refuse exactly as the unsliced merge would, BEFORE any slice
    // applies
    // partition by the VALUE column so the two k=100 rows land in
    // DIFFERENT files — the straddling shape a per-slice merge check
    // alone would miss
    TxnLake.commit(spark,
      ((100L until 139L).map(i => (i, s"v$i")) :+ (100L, "dup"))
        .toDF("k", "v").repartition(4, col("v")),
      src, "append") // v1: dup key 100 across files
    val repV = TxnLake.latestVersion(spark, rep)
    intercept[IllegalArgumentException] {
      feed3.poll(spark)
    }
    assert(TxnLake.latestVersion(spark, rep) == repV
      && TxnLake.lastTxn(spark, rep, "repl").contains(0L),
      "the refused hop must apply no slice and park the offset")
  }

  test("an UNSLICED resume (cap disabled) of a crashed sliced hop GCs " +
    "the orphaned slice markers at its completion too") {
    import spark.implicits._
    val (src, rep) = fresh()
    TxnLake.commit(spark,
      (0L until 60L).map(i => (i, s"v$i")).toDF("k", "v").repartition(6),
      src, "append") // v0: 6 files
    // half-apply the bootstrap under cap=2, as a crashed consumer would
    val files = TxnLake.snapshotFiles(spark, src).map(_.path).sorted
    import TxnLake.MergeInsert
    TxnLake.mergeIntoClauses(spark,
      TxnLake.readFileSlice(spark, src, 0L, files.take(2)), rep, "k",
      notMatched = Seq(MergeInsert(Map("k" -> col("k"), "v" -> col("v")))),
      txn = Some(("repl#boot0@2", 0L)))
    assert(TxnLake.lastTxn(spark, rep, "repl#boot0@2").contains(0L),
      "fixture: the crashed run's marker is live")
    // resume with slicing DISABLED: the hop applies whole, converging
    // on the rows the crashed slice already landed — and its completion
    // must retire the foreign-cap markers
    val feed = new TxnReplicaFeed(src, rep, "repl", "k")
    assert(feed.poll(spark) == 1)
    assert(rows(rep) == rows(src) && rows(rep).size == 60)
    assert(TxnLake.lastTxn(spark, rep, "repl").contains(0L))
    assert(TxnLake.lastTxn(spark, rep, "repl#boot0@2").isEmpty,
      "the unsliced completion must GC the crashed sliced run's markers")
  }
}
