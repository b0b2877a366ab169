package graft.sources

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Deletion vectors — merge-on-read DML: masked reads, position unions,
  * O(positions) commits that move no data file, CoW interop (masks die
  * with their file, rows never resurrect), purge, restore, vacuum
  * lifetimes, and the bulk-delete fallback. */
class TxnLakeDvSpec extends SparkSpec {

  private def freshTable(): String =
    Files.createTempDirectory("txnlake_dv").resolve("t").toString

  /** Two single-file appends with disjoint id ranges (0-49, 50-99). */
  private def twoFileTable(t: String): Unit = {
    import spark.implicits._
    Seq(0L until 50L, 50L until 100L).foreach { r =>
      TxnLake.commit(spark,
        r.map(i => (i, s"v$i")).toDF("k", "v").coalesce(1), t, "append")
    }
  }

  private def keys(t: String): Set[Long] =
    TxnLake.read(spark, t).select("k").collect().map(_.getLong(0)).toSet

  test("a DV delete moves no data file; reads, skipping scans, and time " +
    "travel all honor the mask; re-deletes union positions") {
    import spark.implicits._
    val t = freshTable()
    twoFileTable(t)
    val preV = TxnLake.latestVersion(spark, t).get
    val preFiles = TxnLake.snapshotFiles(spark, t).map(_.path).toSet
    val v = TxnLake.deleteWhere(spark, t,
      col("k") >= 60L && col("k") <= 62L).get
    assert(TxnLake.commitInfo(spark, t, v).operation == "delete")
    // the whole point: NOTHING moved — same physical files, no additions
    assert(TxnLake.snapshotFiles(spark, t).map(_.path).toSet == preFiles,
      "a merge-on-read delete must not rewrite or add any data file")
    val dvs = TxnLake.deletionVectors(spark, t)
    assert(dvs.size == 1 && dvs.values.head.rows == 3L,
      s"one sidecar masking 3 positions expected: $dvs")
    assert(keys(t).size == 97 && !keys(t).contains(60L))
    // every read path honors the mask
    assert(TxnLake.readWhere(spark, t, col("k") >= 50L).count() == 47)
    assert(TxnLake.readKeyed(spark, t, "k", Seq("60", "70"))._1
      .filter(col("k") === 60L).isEmpty)
    // the pre-delete snapshot still sees all rows
    assert(TxnLake.readVersion(spark, t, preV).count() == 100)
    // a second DV delete UNIONS positions on the same sidecar's file
    TxnLake.deleteWhere(spark, t, col("k") === 63L)
    assert(TxnLake.deletionVectors(spark, t).values.head.rows == 4L)
    assert(keys(t).size == 96 && !keys(t).contains(63L))
    // the masked rows never double-delete: an overlapping re-delete
    // finds no live row and is a no-op
    assert(TxnLake.deleteWhere(spark, t,
      col("k") >= 60L && col("k") <= 63L).isEmpty)
  }

  test("the DV hop surfaces in tableChanges as exactly the newly masked " +
    "rows — and only the fresh positions on a re-delete") {
    import spark.implicits._
    val t = freshTable()
    twoFileTable(t)
    val v0 = TxnLake.latestVersion(spark, t).get
    val v1 = TxnLake.deleteWhere(spark, t,
      col("k") >= 60L && col("k") <= 61L).get
    val v2 = TxnLake.deleteWhere(spark, t, col("k") === 10L).get
    val hop1 = TxnLake.tableChanges(spark, t, v0, v1, "k").collect()
    assert(hop1.map(_.getLong(0)).toSet == Set(60L, 61L)
      && hop1.forall(_.getAs[String]("change_type") == "delete"))
    val hop2 = TxnLake.tableChanges(spark, t, v1, v2, "k").collect()
    assert(hop2.map(_.getLong(0)).toSet == Set(10L),
      "the second hop must carry only ITS fresh positions")
  }

  test("copy-on-write DML on a masked file materializes the mask — " +
    "deleted rows never resurrect, and the sidecar dies with the file") {
    import spark.implicits._
    val t = freshTable()
    twoFileTable(t)
    TxnLake.deleteWhere(spark, t, col("k") === 60L)
    TxnLake.setDeletionVectors(spark, t, enabled = false)
    // update touches the masked file: the rewrite must read UNDER the mask
    TxnLake.updateWhere(spark, t, col("k") === 70L,
      Map("v" -> lit("UPD")))
    assert(TxnLake.deletionVectors(spark, t).isEmpty,
      "the rewritten file's sidecar must leave the cumulative map")
    val got = TxnLake.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!got.contains(60L) && got(70L) == "UPD" && got.size == 99,
      "the masked row must not resurrect through the rewrite")
    // a merge whose delta carries the deleted key re-INSERTS it (the row
    // is logically gone, so it is NOT MATCHED — Delta semantics)
    TxnLake.setDeletionVectors(spark, t, enabled = true)
    TxnLake.deleteWhere(spark, t, col("k") === 20L)
    TxnLake.mergeInto(spark, Seq((20L, "BACK")).toDF("k", "v"), t, "k")
    val after = TxnLake.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after(20L) == "BACK" && after.size == 99,
      "a masked key is not-matched: the merge inserts it exactly once")
  }

  test("purgeDeletionVectors rewrites only masked files, carries the " +
    "rest, and is data-preserving") {
    import spark.implicits._
    val t = freshTable()
    twoFileTable(t)
    TxnLake.deleteWhere(spark, t, col("k") === 60L)
    val preFiles = TxnLake.snapshotFiles(spark, t).map(_.path).toSet
    val preKeys = keys(t)
    val v = TxnLake.purgeDeletionVectors(spark, t).get
    assert(TxnLake.commitInfo(spark, t, v).operation == "optimize"
      && TxnLake.commitInfo(spark, t, v).dataPreserving)
    val postFiles = TxnLake.snapshotFiles(spark, t).map(_.path).toSet
    assert((preFiles intersect postFiles).size == 1,
      "the clean low file must carry verbatim through the purge")
    assert(TxnLake.deletionVectors(spark, t).isEmpty && keys(t) == preKeys)
    assert(TxnLake.purgeDeletionVectors(spark, t).isEmpty,
      "purging a clean table is a no-op")
  }

  test("a bulk delete past the position cap falls back to copy-on-write " +
    "— identical rows, no sidecar") {
    import spark.implicits._
    val t = freshTable()
    twoFileTable(t)
    spark.conf.set("graft.probe.maxDriverKeys", "2")
    try {
      val preFiles = TxnLake.snapshotFiles(spark, t).map(_.path).toSet
      TxnLake.deleteWhere(spark, t, col("k") >= 60L && col("k") <= 69L)
      assert(TxnLake.deletionVectors(spark, t).isEmpty,
        "past the cap the plan is copy-on-write, not a giant mask")
      assert((preFiles -- TxnLake.snapshotFiles(spark, t).map(_.path).toSet)
        .nonEmpty, "the CoW fallback rewrites the touched file")
      assert(keys(t).size == 90 && !keys(t).contains(65L))
    } finally spark.conf.unset("graft.probe.maxDriverKeys")
  }

  test("RESTORE brings a snapshot's masks back with its files; vacuum " +
    "keeps live sidecars and reclaims dead ones") {
    import spark.implicits._
    val t = freshTable()
    twoFileTable(t)
    val vDv = TxnLake.deleteWhere(spark, t, col("k") === 60L).get
    TxnLake.purgeDeletionVectors(spark, t)
    assert(TxnLake.deletionVectors(spark, t).isEmpty)
    val vBack = TxnLake.restore(spark, t, vDv)
    assert(TxnLake.deletionVectors(spark, t, Some(vBack)).size == 1
      && keys(t).size == 99 && !keys(t).contains(60L),
      "the restored snapshot must come back masked")
    // vacuum with the DV'd snapshot retained: the sidecar survives
    TxnLake.vacuum(spark, t, retainVersions = 1)
    assert(keys(t).size == 99 && !keys(t).contains(60L))
    // purge again, then vacuum down to the clean snapshot: the sidecar
    // is no longer referenced by any retained version and is reclaimed
    TxnLake.purgeDeletionVectors(spark, t)
    TxnLake.vacuum(spark, t, retainVersions = 1)
    val f = new java.io.File(s"$t/_dv")
    def dvCount(d: java.io.File): Int =
      if (!d.exists()) 0
      else d.listFiles().map(x =>
        if (x.isDirectory) dvCount(x) else 1).sum
    assert(dvCount(f) == 0,
      s"unreferenced sidecars must be reclaimed (${dvCount(f)} left)")
    assert(keys(t).size == 99)
  }

  test("restore refuses a masked version whose sidecar was vacuumed — " +
    "a guided error, never a re-reference that bricks reads") {
    import spark.implicits._
    val t = freshTable()
    twoFileTable(t)
    val vDv = TxnLake.deleteWhere(spark, t, col("k") === 60L).get
    TxnLake.purgeDeletionVectors(spark, t)
    TxnLake.vacuum(spark, t, retainVersions = 1) // reclaims the sidecar
    val e = intercept[IllegalStateException] {
      TxnLake.restore(spark, t, vDv)
    }
    assert(e.getMessage.contains("vacuumed"),
      s"the refusal must name the cause: ${e.getMessage}")
    assert(keys(t).size == 99 && !keys(t).contains(60L),
      "the failed restore must change nothing")
  }

  test("the cap bounds the CUMULATIVE per-file mask: a re-delete whose " +
    "union would exceed it takes copy-on-write and retires the mask") {
    import spark.implicits._
    val t = freshTable()
    twoFileTable(t)
    spark.conf.set("graft.probe.maxDriverKeys", "3")
    try {
      TxnLake.deleteWhere(spark, t, col("k") >= 60L && col("k") <= 61L)
      assert(TxnLake.deletionVectors(spark, t).values.map(_.rows).sum == 2L)
      val preFiles = TxnLake.snapshotFiles(spark, t).map(_.path).toSet
      // 2 fresh hits pass the per-delete check, but old(2) ∪ new(2) = 4
      // breaks the per-file budget — the plan must flip to copy-on-write
      TxnLake.deleteWhere(spark, t, col("k") >= 62L && col("k") <= 63L)
      assert(TxnLake.deletionVectors(spark, t).isEmpty,
        "an over-cap UNION must not write an over-cap sidecar")
      assert((preFiles -- TxnLake.snapshotFiles(spark, t).map(_.path).toSet)
        .nonEmpty, "the fallback rewrites the touched file")
      assert(keys(t).size == 96 && !(60L to 63L).exists(keys(t)))
    } finally spark.conf.unset("graft.probe.maxDriverKeys")
  }

  test("a cumulative mask set past the driver budget decodes on the " +
    "executors — masked reads stay correct with zero driver-side pairs") {
    import spark.implicits._
    val t = freshTable()
    (0 until 5).foreach { i =>
      TxnLake.commit(spark,
        (i * 20L until i * 20L + 20L).map(j => (j, s"v$j")).toDF("k", "v")
          .coalesce(1), t, "append")
    }
    spark.conf.set("graft.probe.maxDriverKeys", "4")
    try {
      // five single-position masks, one per file — each delete and each
      // per-file union is under the cap, but the TOTAL (5) is over it,
      // so every subsequent scan must take the distributed decode path
      (0 until 5).foreach(i =>
        TxnLake.deleteWhere(spark, t, col("k") === i * 20L + 7L))
      assert(TxnLake.deletionVectors(spark, t).size == 5)
      assert(keys(t).size == 95 && !keys(t).contains(47L))
      assert(TxnLake.readWhere(spark, t, col("k") >= 40L).count() == 57,
        "the skipping scan must honor executor-decoded masks")
      assert(TxnLake.readVersion(spark, t,
        TxnLake.latestVersion(spark, t).get).count() == 95)
      // CoW purge under the distributed path: rows identical after
      TxnLake.purgeDeletionVectors(spark, t)
      assert(TxnLake.deletionVectors(spark, t).isEmpty
        && keys(t).size == 95 && !keys(t).contains(87L))
    } finally spark.conf.unset("graft.probe.maxDriverKeys")
  }

  test("a DV UPDATE moves no pre-existing file: masks the pre-images, " +
    "appends the post-images, and the change feed sees update pairs") {
    import spark.implicits._
    val t = freshTable()
    twoFileTable(t)
    val preV = TxnLake.latestVersion(spark, t).get
    val preFiles = TxnLake.snapshotFiles(spark, t).map(_.path).toSet
    val v = TxnLake.updateWhere(spark, t,
      col("k") >= 60L && col("k") <= 62L,
      Map("v" -> concat(col("v"), lit("!")))).get
    assert(TxnLake.commitInfo(spark, t, v).operation == "update")
    val postFiles = TxnLake.snapshotFiles(spark, t).map(_.path).toSet
    assert((postFiles -- preFiles).size == 1
      && (preFiles -- postFiles).isEmpty,
      "ONE small post-image file appends; no pre-existing file moves")
    val dvs = TxnLake.deletionVectors(spark, t)
    assert(dvs.size == 1 && dvs.values.head.rows == 3L)
    val got = TxnLake.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 100 && got(60L) == "v60!" && got(62L) == "v62!"
      && got(59L) == "v59" && got(63L) == "v63")
    // time travel: the pre-update snapshot is intact
    assert(TxnLake.readVersion(spark, t, preV).filter(col("k") === 60L)
      .head().getString(1) == "v60")
    // the hop classifies as exactly the 3 update pre/post pairs
    val hop = TxnLake.tableChanges(spark, t, preV, v, "k").collect()
    val byType = hop.groupBy(_.getAs[String]("change_type"))
      .view.mapValues(_.length).toMap
    assert(byType == Map("update_preimage" -> 3, "update_postimage" -> 3),
      s"update pairs expected: $byType")
    assert(hop.filter(_.getAs[String]("change_type") == "update_postimage")
      .map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(60L -> "v60!", 61L -> "v61!", 62L -> "v62!"))
    // a DV DELETE then a second DV UPDATE union masks on the same file;
    // the update must not touch already-deleted rows
    TxnLake.deleteWhere(spark, t, col("k") === 63L)
    TxnLake.updateWhere(spark, t, col("k") >= 63L && col("k") <= 64L,
      Map("v" -> lit("Z")))
    val after = TxnLake.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after.size == 99 && !after.contains(63L) && after(64L) == "Z",
      "the deleted row stays deleted; only the live row updates")
    // purge retires every mask without changing a logical row
    TxnLake.purgeDeletionVectors(spark, t)
    assert(TxnLake.deletionVectors(spark, t).isEmpty)
    val purged = TxnLake.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(purged == after)
    // provable no-op: stats admit nothing
    assert(TxnLake.updateWhere(spark, t, col("k") === 5000L,
      Map("v" -> lit("X"))).isEmpty)
  }

  test("a bulk DV UPDATE past the cap falls back to copy-on-write — " +
    "identical rows, no sidecar") {
    import spark.implicits._
    val t = freshTable()
    twoFileTable(t)
    spark.conf.set("graft.probe.maxDriverKeys", "2")
    try {
      TxnLake.updateWhere(spark, t, col("k") >= 60L && col("k") <= 69L,
        Map("v" -> lit("U")))
      assert(TxnLake.deletionVectors(spark, t).isEmpty,
        "past the cap the plan is copy-on-write, not a giant mask")
      val got = TxnLake.read(spark, t).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got.size == 100 && got(65L) == "U" && got(59L) == "v59")
    } finally spark.conf.unset("graft.probe.maxDriverKeys")
  }

  test("NULL predicates keep rows unchanged (SQL UPDATE semantics) on " +
    "the DV update path") {
    import spark.implicits._
    val t = freshTable()
    TxnLake.commit(spark,
      Seq((1L, Option(5L)), (2L, Option.empty[Long]), (3L, Option(20L)))
        .toDF("k", "n").coalesce(1), t, "append")
    TxnLake.updateWhere(spark, t, col("n") > 10L, Map("n" -> lit(0L)))
    val got = TxnLake.read(spark, t).collect()
      .map(r => r.getLong(0) -> Option(r.get(1)).map(_.toString)).toMap
    assert(got == Map(1L -> Some("5"), 2L -> None, 3L -> Some("0")),
      s"only the TRUE row updates: $got")
  }

  test("the masked scan is SHUFFLE-FREE: positions broadcast against " +
    "the file scan — the plan that stays affordable at 100 TB") {
    val t = freshTable()
    twoFileTable(t)
    TxnLake.deleteWhere(spark, t, col("k") === 60L)
    assert(graft.plans.PlanChecks.shuffleFree(TxnLake.read(spark, t)),
      "a driver-budget mask must anti-join as a broadcast, never a " +
        "shuffle of the data files")
    TxnLake.updateWhere(spark, t, col("k") === 61L,
      Map("v" -> lit("U")))
    assert(graft.plans.PlanChecks.shuffleFree(TxnLake.read(spark, t)),
      "the DV-update read (masks + appended post-images) stays " +
        "shuffle-free too")
  }

  test("NULL predicates keep rows (SQL DELETE semantics) on the DV path") {
    import spark.implicits._
    val t = freshTable()
    TxnLake.commit(spark,
      Seq((1L, Option(5L)), (2L, Option.empty[Long]), (3L, Option(20L)))
        .toDF("k", "n").coalesce(1), t, "append")
    TxnLake.deleteWhere(spark, t, col("n") > 10L)
    assert(keys(t) == Set(1L, 2L),
      "the NULL-n row must survive — only TRUE deletes")
  }

  test("a long DV-heavy history keeps entry size O(commit): non-anchor " +
    "entries carry only the masks they minted; reads, restore, and " +
    "vacuum reconstruct the live map by bounded replay") {
    import spark.implicits._
    val t = freshTable()
    // 12 single-file commits, ids partitioned by file
    (0 until 12).foreach { i =>
      TxnLake.commit(spark,
        (0 until 10).map(j => (i * 100L + j, j.toLong)).toDF("k", "n")
          .coalesce(1), t, "append")
    }
    // 12 selective DV deletes, one file each: the LIVE map grows to 12
    // masked files while each entry must stay O(this commit)
    (0 until 12).foreach { i =>
      TxnLake.deleteWhere(spark, t, col("k") === i * 100L)
    }
    def rawDvCount(v: Long): Int = {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(t, "_txn_log", s"v$v.json")), "UTF-8")
      "\"p\":".r.findAllIn(txt).length
    }
    val latest = TxnLake.latestVersion(spark, t).get
    assert(TxnLake.deletionVectors(spark, t).size == 12,
      "fixture: 12 live masks")
    val dvVersions = (12L to latest)
    val nonAnchor = dvVersions.filter(_ % 10 != 0)
    assert(nonAnchor.forall(v => rawDvCount(v) <= 1),
      s"non-anchor entries must carry ONLY this commit's masks: " +
        nonAnchor.map(v => v -> rawDvCount(v)).mkString(","))
    val anchors = dvVersions.filter(_ % 10 == 0)
    assert(anchors.forall(v => rawDvCount(v) >= (v - 11).toInt),
      "cadence anchors carry the full map so replay stays bounded")
    // reads at EVERY dv version see exactly the masks live then
    dvVersions.zipWithIndex.foreach { case (v, i) =>
      assert(TxnLake.readVersion(spark, t, v).count() == 120L - (i + 1),
        s"version $v must mask exactly ${i + 1} rows")
    }
    // restore to a mid-history version writes a FULL map (itself an
    // anchor) and the masks come back with it
    TxnLake.restore(spark, t, 15L)
    assert(TxnLake.read(spark, t).count() == 116L)
    assert(TxnLake.deletionVectors(spark, t).size == 4)
    // vacuum keeps the retained snapshot's sidecars readable
    TxnLake.vacuum(spark, t, retainVersions = 1)
    assert(TxnLake.read(spark, t).count() == 116L)
  }

  test("a DML attempt resolves its DV map ONCE: log-entry reads are " +
    "independent of how many files the predicate touches") {
    import spark.implicits._
    // identical histories; only the FINAL delete's touched-file count
    // differs — so any per-touched-file resolveDvs call would split the
    // two read counts apart (the pre-r18 regression: O(files x
    // CheckpointInterval) log reads on exactly the DV-heavy tables)
    def build(): String = {
      val t = freshTable()
      (0 until 8).foreach { i =>
        TxnLake.commit(spark,
          (0 until 50).map(j => (i * 50L + j, s"v$j")).toDF("k", "v")
            .coalesce(1), t, "append")
      }
      // two prior DV deltas so resolveDvs has a real tail to replay
      TxnLake.deleteWhere(spark, t, col("k") === 1L)
      TxnLake.deleteWhere(spark, t, col("k") === 51L)
      t
    }
    val tOne = build()
    val tAll = build()
    def reads(body: => Unit): Long = {
      TxnLake.logEntryReads.set(0L)
      body
      TxnLake.logEntryReads.get()
    }
    // k === 103: min/max stats prune to ONE touched file
    val one = reads(assert(
      TxnLake.deleteWhere(spark, tOne, col("k") === 103L).nonEmpty))
    // k % 50 === 3: stats cannot prune a modulo — EVERY file is touched
    val all = reads(assert(
      TxnLake.deleteWhere(spark, tAll, col("k") % 50L === 3L).nonEmpty))
    assert(all == one,
      s"log-entry reads must not scale with touched files: " +
        s"1-file delete read $one entries, 8-file delete read $all")
    // same invariant on the DV update path
    val oneU = reads(assert(TxnLake.updateWhere(spark, tOne,
      col("k") === 104L, Map("v" -> lit("u"))).nonEmpty))
    val allU = reads(assert(TxnLake.updateWhere(spark, tAll,
      col("k") % 50L === 4L, Map("v" -> lit("u"))).nonEmpty))
    assert(allU == oneU,
      s"a DV updateWhere's log reads must not scale with touched files: " +
        s"$oneU vs $allU")
  }

  /** The CDC batch the merge tests apply: D kills 60 and 61, U rewrites
    * 62, I inserts 100; the D-tagged unmatched 101 must not insert. */
  private def cdcMerge(t: String): Option[Long] = {
    import spark.implicits._
    TxnLake.mergeIntoClauses(spark,
      Seq((60L, "x", "D"), (61L, "x", "D"), (62L, "U62", "U"),
        (100L, "I100", "U"), (101L, "x", "D")).toDF("k", "v", "op"), t, "k",
      matched = Seq(
        TxnLake.MergeDelete(Some(TxnLake.sourceCol("op") === "D")),
        TxnLake.MergeUpdate(Map("v" -> TxnLake.sourceCol("v")))),
      notMatched = Seq(TxnLake.MergeInsert(
        Map("k" -> col("k"), "v" -> col("v")), Some(col("op") =!= "D"))))
  }

  private def rowsOf(t: String): Map[Long, String] =
    TxnLake.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  test("a DV MERGE removes no file: one commit masks the deleted and " +
    "updated rows, adds one file of post-images and inserts, keeps the " +
    "updated row's id, and the change feed classifies every row") {
    val t = freshTable()
    twoFileTable(t)
    assert(TxnLake.deletionVectorsEnabled(spark, t),
      "a new table plans row-level writes with deletion vectors")
    val preV = TxnLake.latestVersion(spark, t).get
    val preFiles = TxnLake.snapshotFiles(spark, t).map(_.path).toSet
    val id62 = TxnLake.readWithRowIds(spark, t).filter(col("k") === 62L)
      .head().getAs[Long](TxnLake.RidCol)
    val v = cdcMerge(t).get
    val postFiles = TxnLake.snapshotFiles(spark, t).map(_.path).toSet
    assert((preFiles -- postFiles).isEmpty && (postFiles -- preFiles).size == 1,
      s"no file moves; one file adds: $preFiles -> $postFiles")
    val dvs = TxnLake.deletionVectors(spark, t)
    assert(dvs.size == 1 && dvs.values.head.rows == 3L,
      s"60, 61 and 62's old image are masked in the high file: $dvs")
    val got = rowsOf(t)
    assert(got.size == 99 && !got.contains(60L) && !got.contains(61L) &&
      got(62L) == "U62" && got(100L) == "I100" && !got.contains(101L))
    assert(rowsOf(t) == TxnLake.readVersion(spark, t, v).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap)
    assert(TxnLake.readVersion(spark, t, preV).count() == 100,
      "the pre-merge version is intact")
    assert(TxnLake.readWithRowIds(spark, t).filter(col("k") === 62L)
      .head().getAs[Long](TxnLake.RidCol) == id62,
      "the post-image carries its pre-image's row id")
    val hop = TxnLake.tableChanges(spark, t, preV, v, "k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getAs[String]("change_type")))
      .toSet
    assert(hop == Set((60L, "v60", "delete"), (61L, "v61", "delete"),
      (62L, "v62", "update_preimage"), (62L, "U62", "update_postimage"),
      (100L, "I100", "insert")), s"hop: $hop")
    val byRid = TxnLake.tableChangesByRowId(spark, t, preV, v)
      .filter(col("k") === 62L).select(TxnLake.RidCol).distinct().count()
    assert(byRid == 1L, "the update pairs by row identity")
  }

  test("a DV MERGE over graft.probe.maxDriverKeys takes copy-on-write " +
    "with identical rows") {
    val (dv, capped) = (freshTable(), freshTable())
    twoFileTable(dv); twoFileTable(capped)
    cdcMerge(dv)
    spark.conf.set("graft.probe.maxDriverKeys", "2")
    try {
      val preFiles = TxnLake.snapshotFiles(spark, capped).map(_.path).toSet
      cdcMerge(capped)
      assert(TxnLake.deletionVectors(spark, capped).isEmpty &&
        (preFiles -- TxnLake.snapshotFiles(spark, capped).map(_.path).toSet)
          .nonEmpty, "over the key cap the merge rewrites its files")
    } finally spark.conf.unset("graft.probe.maxDriverKeys")
    assert(rowsOf(capped) == rowsOf(dv))
  }

  test("a DV MERGE whose cumulative mask would pass the cap takes " +
    "copy-on-write, retires the mask, and leaves identical rows") {
    val (dv, capped) = (freshTable(), freshTable())
    twoFileTable(dv); twoFileTable(capped)
    Seq(dv, capped).foreach(TxnLake.deleteWhere(spark, _,
      col("k") >= 70L && col("k") <= 72L))
    cdcMerge(dv)
    assert(TxnLake.deletionVectors(spark, dv).values.map(_.rows).sum == 6L,
      "uncapped: the merge unions its 3 positions into the 3-position mask")
    // the 5 source keys and 3 new positions fit the cap; the 6-position
    // union does not
    spark.conf.set("graft.probe.maxDriverKeys", "5")
    try {
      val preFiles = TxnLake.snapshotFiles(spark, capped).map(_.path).toSet
      cdcMerge(capped)
      assert(TxnLake.deletionVectors(spark, capped).isEmpty &&
        (preFiles -- TxnLake.snapshotFiles(spark, capped).map(_.path).toSet)
          .size == 1, "the masked file rewrites, and its mask dies with it")
    } finally spark.conf.unset("graft.probe.maxDriverKeys")
    assert(rowsOf(capped) == rowsOf(dv))
  }

  test("a DV MERGE whose NOT MATCHED BY SOURCE clause claims more rows " +
    "than the cap takes copy-on-write and leaves no unreferenced data or " +
    "sidecar dir") {
    import spark.implicits._
    val (dv, capped) = (freshTable(), freshTable())
    twoFileTable(dv); twoFileTable(capped)
    def merge(t: String) = TxnLake.mergeIntoClauses(spark,
      Seq((5L, "S5")).toDF("k", "v"), t, "k",
      matched = Seq(TxnLake.MergeUpdate(Map("v" -> TxnLake.sourceCol("v")))),
      notMatchedBySource = Seq(TxnLake.MergeDelete(Some(col("k") >= 90L))))
    merge(dv)
    assert(TxnLake.deletionVectors(spark, dv).values.map(_.rows).sum == 11L,
      "uncapped: 5's old image and the ten rows from 90 are masked")
    // one source key fits the cap; the eleven claimable rows do not
    spark.conf.set("graft.probe.maxDriverKeys", "5")
    try {
      val preFiles = TxnLake.snapshotFiles(spark, capped).map(_.path).toSet
      merge(capped)
      assert(TxnLake.deletionVectors(spark, capped).isEmpty &&
        (preFiles -- TxnLake.snapshotFiles(spark, capped).map(_.path).toSet)
          .size == 2, "both files rewrite: the key's and the clause's")
    } finally spark.conf.unset("graft.probe.maxDriverKeys")
    assert(rowsOf(capped) == rowsOf(dv))
    val referenced = (0L to TxnLake.latestVersion(spark, capped).get)
      .flatMap(v => TxnLake.snapshotFiles(spark, capped, Some(v)))
      .map(_.path.split("/").take(2).mkString("/")).toSet
    val dataDirs = new java.io.File(capped, "data").listFiles()
      .map(d => s"data/${d.getName}").toSet
    assert(dataDirs == referenced, s"data dirs $dataDirs vs $referenced")
    assert(!new java.io.File(capped, "_dv").exists() ||
      new java.io.File(capped, "_dv").list().isEmpty, "no sidecar dir")
  }

  test("the deletionVectors property: on for new tables, off when an " +
    "entry lacks it, flipped by the ALTER, copied by clone, restored by " +
    "restore") {
    val t = freshTable()
    twoFileTable(t)
    val on = TxnLake.latestVersion(spark, t).get
    val offV = TxnLake.setDeletionVectors(spark, t, enabled = false)
    assert(!TxnLake.deletionVectorsEnabled(spark, t) &&
      TxnLake.deletionVectorsEnabled(spark, t, Some(on)))
    // off: the delete rewrites the touched file
    val pre = TxnLake.snapshotFiles(spark, t).map(_.path).toSet
    TxnLake.deleteWhere(spark, t, col("k") === 60L)
    assert((pre -- TxnLake.snapshotFiles(spark, t).map(_.path).toSet).size == 1
      && TxnLake.deletionVectors(spark, t).isEmpty)
    val cloneOff = freshTable()
    TxnLake.cloneTable(spark, t, cloneOff)
    assert(!TxnLake.deletionVectorsEnabled(spark, cloneOff))
    val cloneOn = freshTable()
    TxnLake.cloneTable(spark, t, cloneOn, shallow = false, version = Some(on))
    assert(TxnLake.deletionVectorsEnabled(spark, cloneOn))
    // restore brings the version's mode back with its metadata
    TxnLake.restore(spark, t, on)
    assert(TxnLake.deletionVectorsEnabled(spark, t))
    TxnLake.restore(spark, t, offV)
    assert(!TxnLake.deletionVectorsEnabled(spark, t))
    // on again: the delete masks and moves no file
    TxnLake.setDeletionVectors(spark, t, enabled = true)
    val pre2 = TxnLake.snapshotFiles(spark, t).map(_.path).toSet
    TxnLake.deleteWhere(spark, t, col("k") === 61L)
    assert(TxnLake.snapshotFiles(spark, t).map(_.path).toSet == pre2 &&
      TxnLake.deletionVectors(spark, t).size == 1)
    // an entry without the property reads as off (Delta: missing = false)
    val legacy = freshTable()
    twoFileTable(legacy)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val last = TxnLake.latestVersion(spark, legacy).get
    val entry = java.nio.file.Paths.get(legacy, "_txn_log", s"v$last.json")
    val node = mapper.readTree(Files.readString(entry))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    assert(node.get("deletionVectors").asBoolean())
    node.remove("deletionVectors")
    Files.writeString(entry, mapper.writeValueAsString(node))
    Files.setLastModifiedTime(entry,
      java.nio.file.attribute.FileTime.fromMillis(1000L))
    assert(!TxnLake.deletionVectorsEnabled(spark, legacy))
    val preL = TxnLake.snapshotFiles(spark, legacy).map(_.path).toSet
    TxnLake.deleteWhere(spark, legacy, col("k") === 5L)
    assert((preL -- TxnLake.snapshotFiles(spark, legacy).map(_.path).toSet)
      .size == 1, "a table without the property plans copy-on-write")
  }
}
