package graft.sources

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Copy-on-write row-level DML: MERGE INTO (stats-scoped upsert) and
  * UPDATE WHERE (stats-scoped scalar rewrite), their carry-verbatim /
  * concurrency contracts, and their O(touched) change-feed hops. */
class TxnLakeDmlSpec extends SparkSpec {

  private def freshTable(): String =
    Files.createTempDirectory("txnlake_dml").resolve("t").toString

  /** Two single-file appends with DISJOINT id ranges (tight id stats per
    * file — the layout that lets DML prove its scope boundary). */
  private def twoFileTable(t: String): Unit = {
    import spark.implicits._
    TxnLake.commit(spark,
      (0L until 50L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1),
      t, "append")
    TxnLake.commit(spark,
      (50L until 100L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1),
      t, "append")
  }

  /** Turn deletion vectors off: the specs that pin copy-on-write file
    * layout (removed files, carried files) run on such a table. */
  private def copyOnWrite(t: String): Unit =
    TxnLake.setDeletionVectors(spark, t, enabled = false)

  /** Jobs `f` submits, counted by a listener once the bus drains. */
  private def jobsOf[T](f: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    org.apache.spark.GraftListenerShim.waitUntilListenerBusEmpty(sc)
    val seen = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    sc.addSparkListener(l)
    try {
      val out = f
      org.apache.spark.GraftListenerShim.waitUntilListenerBusEmpty(sc)
      (out, seen.toArray.toSeq.map(_.toString))
    } finally sc.removeSparkListener(l)
  }

  test("mergeInto rewrites only key-scoped files; the rest carry verbatim") {
    import spark.implicits._
    val t = freshTable()
    twoFileTable(t)
    copyOnWrite(t)
    val preV = TxnLake.latestVersion(spark, t).get
    val preFiles = TxnLake.snapshotFiles(spark, t).map(_.path).toSet
    // keys 60..62 live in file 2 only; 100..101 are inserts
    val delta = Seq((60L, "U60"), (61L, "U61"), (62L, "U62"),
      (100L, "I100"), (101L, "I101")).toDF("k", "v")
    val v = TxnLake.mergeInto(spark, delta, t, "k")
    assert(TxnLake.commitInfo(spark, t, v).operation == "merge")
    val postFiles = TxnLake.snapshotFiles(spark, t).map(_.path).toSet
    val carried = preFiles intersect postFiles
    assert(carried.size == 1, s"exactly the low-id file must carry: $carried")
    val got = TxnLake.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 102)
    assert(got(60L) == "U60" && got(61L) == "U61" && got(62L) == "U62")
    assert(got(100L) == "I100" && got(101L) == "I101")
    assert(got(10L) == "v10" && got(59L) == "v59")
    // pre-merge snapshot still time-travels in full
    assert(TxnLake.readVersion(spark, t, preV).count() == 100)
    // the merge hop is row-attributable from the log at O(touched)
    val feed = TxnLake.tableChanges(spark, t, preV, v, "k")
    val byType = feed.groupBy("change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("insert" -> 2L, "update_preimage" -> 3L,
      "update_postimage" -> 3L),
      s"merge hop must classify inserts and update pairs: $byType")
  }

  test("mergeInto founds an empty table, inserts NULL-keyed delta rows") {
    import spark.implicits._
    val t = freshTable()
    val delta = Seq((Option(1L), "a"), (Option.empty[Long], "nullkey"))
      .toDF("k", "v")
    val v = TxnLake.mergeInto(spark, delta, t, "k")
    assert(TxnLake.commitInfo(spark, t, v).operation == "merge")
    assert(TxnLake.read(spark, t).count() == 2)
    // a second merge: the NULL-keyed delta row never matches (SQL
    // equality), so it inserts again — Delta's NOT MATCHED semantics
    TxnLake.mergeInto(spark,
      Seq((Option(1L), "A"), (Option.empty[Long], "nullkey2")).toDF("k", "v"),
      t, "k")
    val got = TxnLake.read(spark, t).collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getString(1)))
    assert(got.count(_._1.isEmpty) == 2, s"null keys must both insert: $got")
    assert(got.collect { case (Some(1L), s) => s }.toSeq == Seq("A"))
  }

  test("mergeInto refuses duplicate delta keys (multiple-matches error)") {
    import spark.implicits._
    val t = freshTable()
    twoFileTable(t)
    intercept[IllegalArgumentException] {
      TxnLake.mergeInto(spark,
        Seq((60L, "a"), (60L, "b")).toDF("k", "v"), t, "k")
    }
    // a keys-only delta has no MATCHED clause, yet mergeInto refuses dups
    val k = freshTable()
    TxnLake.commit(spark, Seq(Tuple1(1L)).toDF("k").coalesce(1), k, "append")
    val e = intercept[IllegalArgumentException] {
      TxnLake.mergeInto(spark, Seq(Tuple1(2L), Tuple1(2L)).toDF("k"), k, "k")
    }
    assert(e.getMessage.contains("TxnLake.mergeInto: multiple source rows"),
      e.getMessage)
    assert(TxnLake.latestVersion(spark, k).contains(0L))
  }

  test("mergeInto detects a concurrent commit and recomputes — no lost rows") {
    import spark.implicits._
    val t = freshTable()
    twoFileTable(t)
    var raced = false
    TxnLake.withBeforeCommit(() => if (!raced) {
        raced = true
        TxnLake.commit(spark,
          Seq((300L, "C300")).toDF("k", "v").coalesce(1), t, "append")
      }) {
      TxnLake.mergeInto(spark,
        Seq((60L, "U60"), (200L, "I200")).toDF("k", "v"), t, "k",
        maxAttempts = 10)
    }
    val got = TxnLake.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(300L) == "C300", "concurrent append lost by the merge retry")
    assert(got(60L) == "U60" && got(200L) == "I200" && got.size == 102)
  }

  test("updateWhere rewrites touched files; NULL predicate keeps rows") {
    import spark.implicits._
    val t = freshTable()
    TxnLake.commit(spark,
      Seq((1L, Option(10L)), (2L, Option.empty[Long]), (3L, Option(30L)))
        .toDF("k", "n").coalesce(1), t, "append")
    TxnLake.commit(spark,
      Seq((100L, Option(100L)), (101L, Option(200L)))
        .toDF("k", "n").coalesce(1), t, "append")
    copyOnWrite(t)
    val preV = TxnLake.latestVersion(spark, t).get
    val preFiles = TxnLake.snapshotFiles(spark, t).map(_.path).toSet
    // predicate touches only the low-k file; n IS NULL evaluates the
    // predicate to NULL there — the row must stay verbatim
    val v = TxnLake.updateWhere(spark, t, col("k") < 50L && col("n") < 25L,
      Map("n" -> (col("n") * 1000L))).get
    assert(TxnLake.commitInfo(spark, t, v).operation == "update")
    val carried = preFiles intersect TxnLake.snapshotFiles(spark, t)
      .map(_.path).toSet
    assert(carried.size == 1, s"high-k file must carry verbatim: $carried")
    val got = TxnLake.read(spark, t).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got == Map(1L -> Some(10000L), 2L -> None, 3L -> Some(30L),
      100L -> Some(100L), 101L -> Some(200L)))
    // update feed hop: exactly one pre/post pair, nothing for kept rows
    val feed = TxnLake.tableChanges(spark, t, preV, v, "k")
    val types = feed.select("k", "change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(types == Seq((1L, "update_postimage"), (1L, "update_preimage")),
      s"update hop must emit one pre/post pair: $types")
    // a provably-empty update is a no-op (no version churn)
    assert(TxnLake.updateWhere(spark, t, col("k") > 1000L,
      Map("n" -> lit(0L))).isEmpty)
    // unknown SET column refused
    intercept[IllegalArgumentException] {
      TxnLake.updateWhere(spark, t, col("k") === 1L, Map("zz" -> lit(1L)))
    }
  }

  // ---- clause-based MERGE ---------------------------------------------

  import TxnLake.{MergeDelete, MergeInsert, MergeUpdate, sourceCol}

  /** Three single-file appends with disjoint id ranges (0-49, 50-99,
    * 100-149) — the layout the clause merge's two scope axes (key stats
    * and NOT-MATCHED-BY-SOURCE condition stats) prove themselves on. */
  private def threeFileTable(t: String): Unit = {
    import spark.implicits._
    Seq(0L until 50L, 50L until 100L, 100L until 150L).foreach { r =>
      TxnLake.commit(spark,
        r.map(i => (i, s"v$i")).toDF("k", "v").coalesce(1), t, "append")
    }
  }

  test("mergeIntoClauses applies a CDC batch: tombstone delete, update, " +
    "conditional insert") {
    import spark.implicits._
    val t = freshTable()
    twoFileTable(t)
    copyOnWrite(t)
    val preV = TxnLake.latestVersion(spark, t).get
    val preFiles = TxnLake.snapshotFiles(spark, t).map(_.path).toSet
    // a change batch with tombstones: D kills 60..61, U rewrites 62,
    // I inserts 100; the D-tagged unmatched row 101 must NOT insert
    val batch = Seq((60L, "x", "D"), (61L, "x", "D"), (62L, "U62", "U"),
      (100L, "I100", "I"), (101L, "x", "D")).toDF("k", "v", "op")
    val v = TxnLake.mergeIntoClauses(spark, batch, t, "k",
      matched = Seq(MergeDelete(Some(sourceCol("op") === "D")),
        MergeUpdate(Map("v" -> sourceCol("v")))),
      notMatched = Seq(MergeInsert(Map("k" -> col("k"), "v" -> col("v")),
        Some(col("op") =!= "D")))).get
    assert(TxnLake.commitInfo(spark, t, v).operation == "merge")
    // only the high-id file holds batch keys: the low-id file carries
    val carried = preFiles intersect
      TxnLake.snapshotFiles(spark, t).map(_.path).toSet
    assert(carried.size == 1, s"low-id file must carry verbatim: $carried")
    val got = TxnLake.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 99 && !got.contains(60L) && !got.contains(61L)
      && !got.contains(101L) && got(62L) == "U62" && got(100L) == "I100"
      && got(59L) == "v59", s"CDC apply mismatch: ${got.toSeq.sorted.take(5)}")
    val byType = TxnLake.tableChanges(spark, t, preV, v, "k")
      .groupBy("change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("delete" -> 2L, "insert" -> 1L,
      "update_preimage" -> 1L, "update_postimage" -> 1L),
      s"merge hop must classify tombstones too: $byType")
  }

  test("NOT MATCHED BY SOURCE clauses scope by their conditions and " +
    "apply in order") {
    import spark.implicits._
    val t = freshTable()
    threeFileTable(t)
    copyOnWrite(t)
    val preV = TxnLake.latestVersion(spark, t).get
    val preFiles = TxnLake.snapshotFiles(spark, t).map(_.path).toSet
    // source covers 0..49 with IDENTICAL values: the conditional update
    // fires nowhere; unmatched rows >= 120 delete, 100..119 keep (their
    // file rewrites — it is in the NMBS condition's scope)
    val truth = (0L until 50L).map(i => (i, s"v$i")).toDF("k", "v")
    val v = TxnLake.mergeIntoClauses(spark, truth, t, "k",
      matched = Seq(MergeUpdate(Map("v" -> sourceCol("v")),
        Some(!(sourceCol("v") <=> col("v"))))),
      notMatchedBySource = Seq(MergeDelete(Some(col("k") >= 120L)))).get
    val postFiles = TxnLake.snapshotFiles(spark, t).map(_.path).toSet
    // file 2 (50-99) is outside BOTH scopes: carried verbatim
    assert((preFiles intersect postFiles).size == 1,
      "the mid-id file must carry: neither the source keys nor the NMBS " +
        s"condition admit it (${preFiles intersect postFiles})")
    val got = TxnLake.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 120 && !got.contains(120L) && !got.contains(149L)
      && got(119L) == "v119" && got(50L) == "v50" && got(0L) == "v0")
    val byType = TxnLake.tableChanges(spark, t, preV, v, "k")
      .groupBy("change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("delete" -> 30L),
      s"only the NMBS deletes may surface in the feed: $byType")
    // ordered NMBS clauses: conditional delete first, then a sentinel
    // update claims every remaining unmatched row
    val v2 = TxnLake.mergeIntoClauses(spark, truth, t, "k",
      notMatchedBySource = Seq(MergeDelete(Some(col("k") >= 110L)),
        MergeUpdate(Map("v" -> lit("stale"))))).get
    val got2 = TxnLake.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got2.size == 110 && !got2.contains(110L)
      && got2(109L) == "stale" && got2(50L) == "stale"
      && got2(0L) == "v0" && got2(49L) == "v49",
      "first-true NMBS clause must win and the matched rows stay")
    assert(TxnLake.readVersion(spark, t, preV).count() == 150,
      "pre-merge snapshot must still time-travel")
    assert(TxnLake.commitInfo(spark, t, v2).operation == "merge")
  }

  test("matched clauses fire first-true-wins; NULL conditions never fire") {
    import spark.implicits._
    val t = freshTable()
    TxnLake.commit(spark,
      Seq((1L, "a", Option(10L)), (2L, "b", Option(20L)),
        (3L, "c", Option.empty[Long])).toDF("k", "v", "n").coalesce(1),
      t, "append")
    // NULL condition row: n IS NULL on k=3 makes (n > 15) NULL → no fire,
    // falls to the second clause
    val src = Seq((1L, "A"), (2L, "B"), (3L, "C")).toDF("k", "v")
    TxnLake.mergeIntoClauses(spark, src, t, "k",
      matched = Seq(
        MergeUpdate(Map("v" -> upper(sourceCol("v"))), Some(col("n") > 15L)),
        MergeUpdate(Map("v" -> lower(sourceCol("v"))))))
    val got = TxnLake.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a", 2L -> "B", 3L -> "c"),
      s"first-true clause must win, NULL conditions must not fire: $got")
  }

  test("clause validation refuses the unreachable, the unassignable, " +
    "and ambiguous matches") {
    import spark.implicits._
    val t = freshTable()
    twoFileTable(t)
    val src = Seq((1L, "x")).toDF("k", "v")
    // unconditional non-last clause: the second would be unreachable
    intercept[IllegalArgumentException] {
      TxnLake.mergeIntoClauses(spark, src, t, "k",
        matched = Seq(MergeUpdate(Map("v" -> lit("a"))),
          MergeDelete(Some(lit(true)))))
    }
    // the merge key is not assignable
    intercept[IllegalArgumentException] {
      TxnLake.mergeIntoClauses(spark, src, t, "k",
        matched = Seq(MergeUpdate(Map("k" -> lit(9L)))))
    }
    // INSERT cannot appear in the matched group
    intercept[IllegalArgumentException] {
      TxnLake.mergeIntoClauses(spark, src, t, "k",
        matched = Seq(MergeInsert(Map("v" -> lit("x")))))
    }
    // duplicate source keys with a matched clause: multiple-matches error
    intercept[IllegalArgumentException] {
      TxnLake.mergeIntoClauses(spark,
        Seq((1L, "x"), (1L, "y")).toDF("k", "v"), t, "k",
        matched = Seq(MergeUpdate(Map("v" -> sourceCol("v")))))
    }
    // …but duplicate keys are fine on an insert-only merge (plain INSERT
    // semantics: both rows land)
    val pre = TxnLake.read(spark, t).count()
    TxnLake.mergeIntoClauses(spark,
      Seq((777L, "x"), (777L, "y")).toDF("k", "v"), t, "k",
      notMatched = Seq(MergeInsert(Map("k" -> col("k"), "v" -> col("v")))))
    assert(TxnLake.read(spark, t).count() == pre + 2)
  }

  test("founding merge, partial-insert NULL fill, and provable no-ops") {
    import spark.implicits._
    val t = freshTable()
    // founding: INSERT clauses define the schema; the D-tagged row skips
    val batch = Seq((1L, "a", "I"), (2L, "b", "D")).toDF("k", "v", "op")
    val v = TxnLake.mergeIntoClauses(spark, batch, t, "k",
      matched = Seq(MergeUpdate(Map("v" -> sourceCol("v")))),
      notMatched = Seq(MergeInsert(Map("k" -> col("k"), "v" -> col("v")),
        Some(col("op") =!= "D"))))
    assert(v.isDefined && TxnLake.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap == Map(1L -> "a"))
    // no insert row passes and no file holds key 99: provable no-op
    assert(TxnLake.mergeIntoClauses(spark,
      Seq((99L, "z", "D")).toDF("k", "v", "op"), t, "k",
      matched = Seq(MergeDelete(Some(sourceCol("op") === "D"))),
      notMatched = Seq(MergeInsert(Map("k" -> col("k"), "v" -> col("v")),
        Some(col("op") =!= "D")))).isEmpty,
      "out-of-scope merge must be a no-op without version churn")
    assert(TxnLake.latestVersion(spark, t).contains(v.get))
    // partial insert: unassigned target columns null-fill
    TxnLake.mergeIntoClauses(spark, Seq(Tuple1(5L)).toDF("k"), t, "k",
      notMatched = Seq(MergeInsert(Map("k" -> col("k")))))
    val r5 = TxnLake.read(spark, t).filter(col("k") === 5L).collect()
    assert(r5.length == 1 && r5.head.isNullAt(1),
      "partial INSERT must null-fill the unassigned column")
  }

  test("mergeIntoClauses recomputes from the fresh snapshot on a " +
    "concurrent commit") {
    import spark.implicits._
    val t = freshTable()
    twoFileTable(t)
    var fired = false
    val v = TxnLake.withBeforeCommit(() => {
        if (!fired) { fired = true
          TxnLake.commit(spark,
            Seq((200L, "race")).toDF("k", "v").coalesce(1), t, "append") }
      }) {
      TxnLake.mergeIntoClauses(spark,
        Seq((60L, "U60")).toDF("k", "v"), t, "k",
        matched = Seq(MergeUpdate(Map("v" -> sourceCol("v")))),
        notMatched = Seq.empty, notMatchedBySource = Seq.empty,
        maxAttempts = 10)
    }
    assert(v.isDefined, "the retry must recompute, not give up")
    val got = TxnLake.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(60L) == "U60" && got(200L) == "race" && got.size == 101,
      "neither the concurrent row nor the merge may be lost")
  }

  test("beyond graft.probe.maxDriverKeys the merge skips the key " +
    "collect and takes full scope — identical rows") {
    import spark.implicits._
    val t1 = freshTable(); val t2 = freshTable()
    twoFileTable(t1); twoFileTable(t2)
    copyOnWrite(t1); copyOnWrite(t2)
    val delta = Seq((60L, "U60"), (61L, "U61"), (62L, "U62"),
      (100L, "I100")).toDF("k", "v")
    val v1 = TxnLake.mergeInto(spark, delta, t1, "k") // pruned path
    val pre1 = TxnLake.snapshotFiles(spark, t1, Some(v1 - 1)).map(_.path)
    assert((pre1.toSet intersect
      TxnLake.snapshotFiles(spark, t1).map(_.path).toSet).size == 1,
      "pruned path: the low-id file carries")
    spark.conf.set("graft.probe.maxDriverKeys", "2")
    try {
      val pre2 = TxnLake.snapshotFiles(spark, t2).map(_.path).toSet
      // fallback: full scope
      val (_, jobs) = jobsOf(TxnLake.mergeInto(spark, delta, t2, "k"))
      assert((pre2 intersect
        TxnLake.snapshotFiles(spark, t2).map(_.path).toSet).isEmpty,
        "beyond the cap every file is in scope — no carry")
      // the partial key map cannot prove no-dup: the dedicated job runs,
      // and it still refuses duplicates
      assert(jobs.exists(_.startsWith("txn:merge dupkeys")), s"$jobs")
      intercept[IllegalArgumentException] {
        TxnLake.mergeInto(spark, Seq((1L, "a"), (2L, "b"), (3L, "c"),
          (3L, "d")).toDF("k", "v"), t2, "k")
      }
    } finally spark.conf.unset("graft.probe.maxDriverKeys")
    val a = TxnLake.read(spark, t1).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val b = TxnLake.read(spark, t2).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(a == b && a.size == 101,
      "the planner rule is an I/O decision, never a semantic one")
  }

  test("insert-only merge: duplicate source keys never fan out matched " +
    "rows, and overlapping files carry verbatim") {
    import spark.implicits._
    val t = freshTable()
    twoFileTable(t)
    val preFiles = TxnLake.snapshotFiles(spark, t).map(_.path).toSet
    // keys 60/60/61 exist (60 twice — legal on insert-only), 300 is new
    val batch = Seq((60L, "a"), (60L, "b"), (61L, "c"), (300L, "n"))
      .toDF("k", "v")
    TxnLake.mergeIntoClauses(spark, batch, t, "k",
      notMatched = Seq(MergeInsert(Map("k" -> col("k"), "v" -> col("v")))))
    val got = TxnLake.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(got.length == 101 && got.count(_._1 == 60L) == 1
      && got.toMap.apply(60L) == "v60" && got.toMap.apply(300L) == "n",
      s"insert-only: existing rows stay single and untouched, got " +
        s"${got.count(_._1 == 60L)} copies of 60")
    // Delta's insert-only MERGE rewrites nothing: both files carry
    assert((preFiles -- TxnLake.snapshotFiles(spark, t).map(_.path).toSet)
      .isEmpty, "an insert-only merge must not rewrite overlapping files")
  }

  test("keys-only mergeInto of existing keys commits an empty version, " +
    "never re-inserts") {
    import spark.implicits._
    val t = freshTable()
    TxnLake.commit(spark, Seq(Tuple1(1L), Tuple1(2L)).toDF("k").coalesce(1),
      t, "append")
    val v = TxnLake.mergeInto(spark, Seq(Tuple1(1L)).toDF("k"), t, "k")
    assert(TxnLake.commitInfo(spark, t, v).operation == "merge")
    assert(TxnLake.read(spark, t).count() == 2,
      "re-merging an existing key on a keys-only table must not duplicate")
  }

  test("a Long.MaxValue key cap means uncapped, not limit-0") {
    import spark.implicits._
    val t = freshTable()
    twoFileTable(t)
    copyOnWrite(t)
    spark.conf.set("graft.probe.maxDriverKeys", Long.MaxValue.toString)
    try {
      val preFiles = TxnLake.snapshotFiles(spark, t).map(_.path).toSet
      TxnLake.mergeInto(spark, Seq((60L, "U60")).toDF("k", "v"), t, "k")
      val got = TxnLake.read(spark, t).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got.size == 100 && got(60L) == "U60",
        "the update must apply in place — never misread as a fresh insert")
      assert((preFiles intersect
        TxnLake.snapshotFiles(spark, t).map(_.path).toSet).size == 1,
        "key pruning must still engage under a huge cap")
    } finally spark.conf.unset("graft.probe.maxDriverKeys")
  }

  test("the merge key pass groups keys as SQL grouping does, in one job") {
    import spark.implicits._
    // what the grouped aggregate answers: (distinct keys, any duplicate)
    def grouped(df: org.apache.spark.sql.DataFrame): (Long, Boolean) = {
      val n = df.filter(col("k").isNotNull).groupBy("k").count()
        .collect().map(_.getLong(1))
      (n.length.toLong, n.exists(_ > 1))
    }
    def pass(df: org.apache.spark.sql.DataFrame, cap: Long = 100L) =
      TxnLake.MergeKeys.collect(df, "k", cap)
    // pinned, as the merge pins its source: a scan of cached blocks
    def pin(df: org.apache.spark.sql.DataFrame) =
      org.apache.spark.sql.GraftCheckpointShim.pinWithMeasuredStats(df)
    val cases = Seq(
      "string" -> Seq(Option("a"), Option("b"), None, Option("a"))
        .toDF("k").repartition(3),
      "long" -> Seq(Option(1L), Option(2L), None, Option(3L)).toDF("k"),
      "double" -> Seq(0.0, -0.0, Double.NaN, 0.0 / 0.0, 1.5, -1.5)
        .toDF("k").repartition(4),
      "NaN" -> Seq(Double.NaN, 0.0 / 0.0, 2.0).toDF("k").repartition(2),
      "binary" -> Seq(Array[Byte](1, 2), Array[Byte](1, 2), Array[Byte](3),
        null).toDF("k").repartition(2),
      "null only" -> Seq(Option.empty[Long], None).toDF("k"))
      .map { case (n, df) => n -> pin(df) }
    cases.foreach { case (name, df) =>
      val (got, jobs) = jobsOf(pass(df))
      val (n, dup) = grouped(df)
      assert(got.map(g => (g._1.size.toLong, g._2)).contains((n, dup)),
        s"$name: the key pass read $got, the grouped aggregate $n keys " +
          s"(duplicate: $dup)")
      assert(jobs.size == 1, s"$name: the key pass ran ${jobs.size} jobs")
    }
    // −0.0 and 0.0 are one key, and so are NaNs; the key list renders
    // through cast(k as string), the domain the file stats are probed in
    assert(pass(cases(2)._2).map(_._1.size).contains(4))
    assert(pass(cases(3)._2).contains((Seq("NaN", "2.0"), true)) ||
      pass(cases(3)._2).contains((Seq("2.0", "NaN"), true)))
    assert(pass(cases(1)._2).map(_._1.toSet).contains(Set("1", "2", "3")))
    // more distinct keys than the cap: no key list, whatever the dups
    assert(pass(cases(1)._2, cap = 2L).isEmpty)
    assert(pass(cases(1)._2, cap = 3L).map(_._1.size).contains(3))
    // a source without partitions submits no job
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      cases(1)._2.schema)
    val (none, jobs) = jobsOf(pass(empty))
    assert(none.contains((Seq.empty[String], false)) && jobs.isEmpty,
      s"empty source: $none, $jobs")
  }

  test("double and binary keys merge as SQL equality matches them") {
    import spark.implicits._
    val t = freshTable()
    TxnLake.commit(spark, Seq((0.0, "zero"), (Double.NaN, "nan"),
      (2.5, "x")).toDF("k", "v").coalesce(1), t, "append")
    TxnLake.mergeInto(spark, Seq((-0.0, "Z"), (Double.NaN, "N"),
      (7.0, "new")).toDF("k", "v"), t, "k")
    val got = TxnLake.read(spark, t).collect()
      .map(r => (r.getDouble(0), r.getString(1)))
    assert(got.length == 4 && got.count(_._2 == "Z") == 1 &&
      got.count(_._2 == "N") == 1 && got.exists(_ == ((2.5, "x"))) &&
      got.exists(_ == ((7.0, "new"))),
      s"-0.0 must update 0.0 and NaN must update NaN: ${got.toSeq}")
    val b = freshTable()
    TxnLake.commit(spark, Seq((Array[Byte](1, 2), "a"), (Array[Byte](3), "b"))
      .toDF("k", "v").coalesce(1), b, "append")
    TxnLake.mergeInto(spark, Seq((Array[Byte](1, 2), "A"),
      (Array[Byte](9), "n")).toDF("k", "v"), b, "k")
    assert(TxnLake.read(spark, b).collect()
      .map(r => r.getAs[Array[Byte]](0).toSeq -> r.getString(1)).toMap ==
      Map(Seq[Byte](1, 2) -> "A", Seq[Byte](3) -> "b", Seq[Byte](9) -> "n"))
  }

  test("MATCHED merges refuse keys equal under SQL grouping; insert-only " +
    "merges accept them") {
    import spark.implicits._
    val t = freshTable()
    TxnLake.commit(spark, Seq((1.0, "a")).toDF("k", "v").coalesce(1), t,
      "append")
    val upd = Seq(MergeUpdate(Map("v" -> sourceCol("v"))))
    Seq(Seq((0.0, "p"), (-0.0, "m")), Seq((Double.NaN, "p"), (0.0 / 0.0, "q")))
      .foreach { rows =>
        val e = intercept[IllegalArgumentException] {
          TxnLake.mergeIntoClauses(spark, rows.toDF("k", "v"), t, "k",
            matched = upd)
        }
        assert(e.getMessage.contains("multiple source rows"), e.getMessage)
      }
    val bin = freshTable()
    TxnLake.commit(spark, Seq((Array[Byte](1), "a")).toDF("k", "v")
      .coalesce(1), bin, "append")
    intercept[IllegalArgumentException] {
      TxnLake.mergeIntoClauses(spark, Seq((Array[Byte](5), "p"),
        (Array[Byte](5), "q")).toDF("k", "v"), bin, "k", matched = upd)
    }
    assert(TxnLake.latestVersion(spark, t).contains(0L) &&
      TxnLake.latestVersion(spark, bin).contains(0L),
      "a refused merge commits nothing")
    // insert-only: duplicates (under SQL grouping) are legal and insert
    val v = TxnLake.mergeIntoClauses(spark,
      Seq((0.0, "p"), (-0.0, "m"), (3.0, "x"), (3.0, "y")).toDF("k", "v"),
      t, "k",
      notMatched = Seq(MergeInsert(Map("k" -> col("k"), "v" -> col("v")))))
    assert(v.isDefined && TxnLake.read(spark, t).count() == 5)
  }

  test("every job of a merge carries a txn:merge label") {
    import spark.implicits._
    val t = freshTable()
    twoFileTable(t)
    val (_, jobs) = jobsOf(TxnLake.mergeInto(spark,
      Seq((60L, "U60"), (100L, "I100")).toDF("k", "v"), t, "k"))
    assert(jobs.nonEmpty && jobs.forall(_.startsWith("txn:merge ")),
      s"unlabeled merge jobs: $jobs")
    assert(jobs.count(_.startsWith("txn:merge keys")) == 1 &&
      !jobs.exists(_.startsWith("txn:merge pin")),
      s"the key pass is the lazy pin's one job: $jobs")
  }

  test("founding merge orders columns by the source, not Map iteration") {
    import spark.implicits._
    val t = freshTable()
    // 6 columns: past Map4, iteration order would scramble
    val src6 = Seq((1L, "b2", "c3", "d4", "e5", "f6"))
      .toDF("k", "c2", "c3", "c4", "c5", "c6")
    TxnLake.mergeIntoClauses(spark, src6, t, "k",
      notMatched = Seq(MergeInsert(
        src6.columns.toIndexedSeq.map(c => c -> col(c)).toMap)))
    assert(TxnLake.read(spark, t).columns.toSeq ==
      Seq("k", "c2", "c3", "c4", "c5", "c6"),
      "positional consumers depend on the founding order")
  }

  test("reserved engine column names are refused loudly") {
    import spark.implicits._
    val t = freshTable()
    twoFileTable(t)
    intercept[IllegalArgumentException] {
      TxnLake.mergeIntoClauses(spark,
        Seq((1L, "x")).toDF("k", "__act"), t, "k",
        notMatched = Seq(MergeInsert(Map("k" -> col("k")))))
    }
    intercept[IllegalArgumentException] {
      TxnLake.mergeIntoClauses(spark,
        Seq((1L, "x")).toDF("k", "__s_v"), t, "k",
        notMatched = Seq(MergeInsert(Map("k" -> col("k")))))
    }
  }

  test("evolveSchema adds merge-assigned columns to the logged schema; " +
    "carried files null-fill, old versions keep their narrow schema") {
    import spark.implicits._
    val t = freshTable()
    twoFileTable(t)
    copyOnWrite(t)
    val preV = TxnLake.latestVersion(spark, t).get
    // default: unknown column refused loudly
    intercept[IllegalArgumentException] {
      TxnLake.mergeIntoClauses(spark,
        Seq((60L, "x", "hot")).toDF("k", "v", "tag"), t, "k",
        matched = Seq(MergeUpdate(
          Map("v" -> sourceCol("v"), "tag" -> sourceCol("tag")))))
    }
    // evolved: update assigns tag on high keys, insert brings its own
    val batch = Seq((60L, "U60", "hot"), (300L, "I300", "new"))
      .toDF("k", "v", "tag")
    val v = TxnLake.mergeIntoClauses(spark, batch, t, "k",
      matched = Seq(MergeUpdate(
        Map("v" -> sourceCol("v"), "tag" -> sourceCol("tag")))),
      notMatched = Seq(MergeInsert(Map("k" -> col("k"), "v" -> col("v"),
        "tag" -> col("tag")))),
      evolveSchema = true).get
    val now = TxnLake.read(spark, t)
    assert(now.columns.toSeq == Seq("k", "v", "tag"))
    val got = now.collect().map(r => r.getLong(0) ->
      (r.getString(1), Option(r.getString(2)))).toMap
    assert(got(60L) == ("U60", Some("hot"))
      && got(300L) == ("I300", Some("new"))
      && got(61L) == ("v61", None), // rewritten-but-unassigned row: NULL
      s"evolved values wrong: ${got.toSeq.filter(x => Set(60L, 61L, 300L)
        .contains(x._1))}")
    // the LOW file carried verbatim (never rewritten) yet its rows
    // null-fill tag under the logged read schema
    assert(got(10L) == ("v10", None))
    val carried = TxnLake.snapshotFiles(spark, t, Some(preV)).map(_.path)
      .toSet intersect TxnLake.snapshotFiles(spark, t).map(_.path).toSet
    assert(carried.size == 1, "evolution must not rewrite carried files")
    // pre-merge version still time-travels under its own narrow schema
    assert(TxnLake.readVersion(spark, t, preV).columns.toSeq ==
      Seq("k", "v"))
    assert(TxnLake.loggedSchema(spark, t, v).fieldNames.toSeq ==
      Seq("k", "v", "tag"))
  }

  test("evolveSchema via UPDATE SET alone (no insert clauses) types the " +
    "new column from the assigning branch") {
    import spark.implicits._
    val t = freshTable()
    twoFileTable(t)
    TxnLake.mergeIntoClauses(spark,
      Seq(Tuple1(60L)).toDF("k"), t, "k",
      matched = Seq(MergeUpdate(Map("score" -> lit(42L)))),
      evolveSchema = true)
    val now = TxnLake.read(spark, t)
    assert(now.schema("score").dataType ==
      org.apache.spark.sql.types.LongType)
    val got = now.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(got(60L) == Some(42L) && got(61L) == None && got(10L) == None)
  }

  test("an all-new-keys evolveSchema batch still types UPDATE-only " +
    "columns — the no-rewrite path must not write void parquet") {
    import spark.implicits._
    val t = freshTable()
    twoFileTable(t)
    // key 500 exists in no file: nothing rewrites, so the evolved
    // column's only typed assignment is the (unfired) UPDATE clause
    TxnLake.mergeIntoClauses(spark, Seq((500L, "n")).toDF("k", "v"), t, "k",
      matched = Seq(MergeUpdate(Map("score" -> lit(1L)))),
      notMatched = Seq(MergeInsert(Map("k" -> col("k"), "v" -> col("v")))),
      evolveSchema = true)
    val now = TxnLake.read(spark, t)
    assert(now.schema("score").dataType ==
      org.apache.spark.sql.types.LongType,
      "the UPDATE clause must type the evolved column even when no row " +
        "matched")
    assert(now.count() == 101
      && now.filter(col("k") === 500L).head().isNullAt(2))
  }

  test("two-clause mergeIntoClauses reproduces mergeInto exactly") {
    import spark.implicits._
    val t1 = freshTable(); val t2 = freshTable()
    twoFileTable(t1); twoFileTable(t2)
    val delta = Seq((60L, "U60"), (100L, "I100")).toDF("k", "v")
    TxnLake.mergeInto(spark, delta, t1, "k")
    TxnLake.mergeIntoClauses(spark, delta, t2, "k",
      matched = Seq(MergeUpdate(Map("v" -> sourceCol("v")))),
      notMatched = Seq(MergeInsert(Map("k" -> col("k"), "v" -> col("v")))))
    val a = TxnLake.read(spark, t1).collect().map(r => (r.getLong(0),
      r.getString(1))).toSet
    val b = TxnLake.read(spark, t2).collect().map(r => (r.getLong(0),
      r.getString(1))).toSet
    assert(a == b, "the clause engine must subsume the two-clause upsert")
  }
}
