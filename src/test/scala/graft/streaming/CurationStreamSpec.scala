package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sources.{Expectations, TxnLake}
import graft.streaming.CurationStream.{Gate, Maintenance}
import graft.streaming.CurationStream.Landing.{Backfill, TwoWaves}

/** What the x32 oracle cannot see: the table's VERSION HISTORY. Two waves
  * must commit exactly two versions, the checkpoint-loss replay zero, and
  * no quarantine table may appear on honest data. */
class CurationStreamSpec extends SparkSpec {

  test("two waves commit two versions; the fresh-checkpoint replay commits none") {
    val d = "/root/testdata/sf0.001"
    val base = Files.createTempDirectory("cur_stream_spec").toString
    val docs = graft.sources.Tables.documents(spark, d)
    val w1 = s"$base/w1"; val w2 = s"$base/w2"
    docs.filter(col("doc_id") % 3 =!= 0).coalesce(1).write.parquet(w1)
    docs.filter(col("doc_id") % 3 === 0).coalesce(1).write.parquet(w2)
    // wave1 = version 0, wave2 = version 1, replay = nothing; each
    // maintenance arm adds one commit after each landed batch, and none
    // after the replay
    Seq(Maintenance.Off -> 1L, Maintenance.Optimize(2) -> 3L,
      Maintenance.CompactLanded -> 3L).zipWithIndex.foreach {
      case ((maintenance, latest), i) =>
        val table = s"$base/t$i"
        CurationStream.ingest(spark, TwoWaves(w1, w2), table,
          s"$base/ckpt$i", "spec_ingest", maintenance = maintenance)
        assert(TxnLake.latestVersion(spark, table).contains(latest),
          s"$maintenance: expected latest version $latest, got " +
            s"${TxnLake.latestVersion(spark, table)}")
        assert(TxnLake.latestVersion(spark,
          Expectations.quarantinePath(table)).isEmpty,
          "honest data must not quarantine")
        // cross-wave ownership: every fingerprint appears once, and a fp
        // seen in wave 1 is never re-committed by wave 2
        val rows = TxnLake.read(spark, table)
        assert(rows.groupBy("fp").count().filter(col("count") > 1).count() == 0)
        val batches = rows.select("ingest_batch").distinct()
          .collect().map(_.getInt(0)).toSet
        assert(batches == Set(0, 1), s"got batches $batches")
        if (maintenance == Maintenance.CompactLanded) {
          // batch 0's packed file (the v1 snapshot) survives batch 1's
          // compaction verbatim: only the landed debt is packed
          val packed = TxnLake.snapshotFiles(spark, table, Some(1L)).map(_.path)
          val last = TxnLake.snapshotFiles(spark, table).map(_.path)
          assert(packed.size == 1 && last.contains(packed.head),
            s"packed history must carry over verbatim: $packed vs $last")
        }
    }
  }

  test("near-dup gate drops a wave-2 doc similar to a committed wave-1 doc") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("cur_stream_nd_spec").toString
    // 30 alpha tokens with English stopwords pass the quality/lang gate;
    // waves here are split by LANDING DIR (not doc_id % 3), so ids are
    // free: doc 1 lands in wave 1, docs 2 (near-dup of 1) and 3 (fresh)
    // in wave 2.
    val toks = Seq("the", "quick", "brown", "fox", "jumps", "over", "his",
      "lazy", "dog", "while", "the", "cat", "naps", "on", "a", "warm",
      "mat", "and", "the", "sun", "sets", "slowly", "behind", "green",
      "hills", "as", "birds", "sing", "their", "songs")
    val w1text = toks.mkString(" ")
    // only the LAST token changed → exactly one 3-gram shingle differs,
    // jaccard ≈ 0.93 — far above 0.7 and near-certain to share a band
    val w2near = toks.updated(29, "owls").mkString(" ")
    val w2fresh = Seq("completely", "different", "words", "for", "another",
      "story", "about", "boats", "on", "rivers", "that", "flow", "to",
      "distant", "seas", "under", "grey", "skies", "where", "sailors",
      "watch", "for", "land", "and", "dream", "of", "home", "ports",
      "every", "night").mkString(" ")
    def land(dir: String, rows: Seq[(Long, String)]): String = {
      rows.toDF("doc_id", "text")
        .select(col("doc_id"), col("text"), lit("en").as("lang"),
          lit("spec").as("source"), length(col("text")).cast("long").as("n_chars"))
        .coalesce(1).write.parquet(dir)
      dir
    }
    val w1 = land(s"$base/w1", Seq(1L -> w1text))
    val w2 = land(s"$base/w2", Seq(2L -> w2near, 3L -> w2fresh))
    val table = s"$base/t"
    CurationStream.ingest(spark, TwoWaves(w1, w2), table, s"$base/ckpt",
      "spec_nd_ingest", Gate.NearDup)
    val rows = TxnLake.read(spark, table)
      .select("doc_id", "ingest_batch").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rows.keySet == Set(1L, 3L),
      s"doc 2 near-dups committed doc 1 and must be dropped; got $rows")
    assert(rows(1L) == 0 && rows(3L) == 1)
    // replay proof: two waves = versions 0 and 1, replay committed nothing
    assert(TxnLake.latestVersion(spark, table).contains(1L))
    // the table carries the scrubbed text (the verification source and
    // the band index's rebuild origin)
    assert(TxnLake.read(spark, table).columns.contains("text"))
    // ---- band-index maintenance (x33's _bindex sibling table) ----
    val bindex = CurationStream.bandIndexPath(table)
    assert(TxnLake.latestVersion(spark, bindex).contains(1L),
      s"bindex versions: ${TxnLake.latestVersion(spark, bindex)}")
    def idxBands() = TxnLake.read(spark, bindex)
      .select("doc_id", "b", "bh").collect().map(_.toString).toSet
    val expB = graft.operators.MinHashDedup
      .bandIndex(TxnLake.read(spark, table).select("doc_id", "text"))
      .select("doc_id", "b", "bh").collect().map(_.toString).toSet
    assert(idxBands() == expB, "band index diverged from recompute")
    // total index loss rebuilds via the corpus-watermark reconciliation
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(bindex))
    CurationStream.ingest(spark, TwoWaves(w1, w2), table, s"$base/ckpt2",
      "spec_nd_ingest", Gate.NearDup)
    assert(TxnLake.latestVersion(spark, table).contains(1L),
      "corpus must not re-commit during the index rebuild")
    assert(idxBands() == expB, "rebuilt band index diverged")
  }

  test("decontam gate excises exactly the committed shared span from a wave-2 doc") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("cur_stream_dc_spec").toString
    // a 13-token run shared verbatim between a wave-1 doc and a wave-2 doc
    val run = Seq("the", "quick", "brown", "fox", "jumps", "over", "the",
      "lazy", "dog", "while", "birds", "sing", "songs")
    val w1text = (run ++ Seq("and", "the", "cat", "naps", "on", "a", "warm",
      "mat", "today", "happily")).mkString(" ")
    val pre = Seq("every", "morning", "in", "summer", "we", "watch", "as",
      "they", "play")
    val post = Seq("before", "dusk", "falls", "again")
    val w2contaminated = (pre ++ run ++ post).mkString(" ")
    val w2fresh = Seq("completely", "different", "words", "for", "another",
      "story", "about", "boats", "on", "rivers", "that", "flow", "to",
      "distant", "seas", "under", "grey", "skies", "where", "sailors",
      "watch", "for", "land", "and", "dream", "of", "home", "ports",
      "every", "night").mkString(" ")
    def land(dir: String, rows: Seq[(Long, String)]): String = {
      rows.toDF("doc_id", "text")
        .select(col("doc_id"), col("text"), lit("en").as("lang"),
          lit("spec").as("source"), length(col("text")).cast("long").as("n_chars"))
        .coalesce(1).write.parquet(dir)
      dir
    }
    val w1 = land(s"$base/w1", Seq(1L -> w1text))
    val w2 = land(s"$base/w2", Seq(2L -> w2contaminated, 3L -> w2fresh))
    val table = s"$base/t"
    CurationStream.ingest(spark, TwoWaves(w1, w2), table, s"$base/ckpt",
      "spec_dc_ingest", Gate.Decontam)
    val rows = TxnLake.read(spark, table)
      .select("doc_id", "ingest_batch", "n_removed", "text").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3))))
      .toMap
    assert(rows.keySet == Set(1L, 2L, 3L), s"got ${rows.keySet}")
    // wave 1 founds the corpus untouched
    assert(rows(1L) == ((0, 0, w1text)))
    // the contaminated doc commits CLEANED: exactly the 13 shared tokens
    // excised (only the window aligned with the run matches — one token
    // either side differs between the docs), survivors re-joined
    assert(rows(2L) == ((1, 13, (pre ++ post).mkString(" "))),
      s"got ${rows(2L)}")
    // the fresh doc passes whole (rebuilt from its tokens, here identical)
    assert(rows(3L) == ((1, 0, w2fresh)))
    // replay proof: exactly versions 0 and 1
    assert(TxnLake.latestVersion(spark, table).contains(1L))
  }

  test("decontam ingest equals the suffix-array decontamination (cross-algorithm)") {
    // x34's 13-window equi-join mask and d53's union-suffix-array mask
    // (SuffixArray.removeSharedSpans) implement the SAME semantics by the
    // exactly-L-window equivalence — two independent algorithms, one
    // answer. Seeded corpus: gate-passing stopword-heavy docs, a 14-token
    // run planted across both waves (longer than the window, so the
    // arbitrary-length path must agree with the fixed-13 mask), every doc
    // made distinct so the exact-dedup stage drops nothing.
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(24601L)
    val vocab = Vector("the", "and", "of", "to", "in", "river", "stone",
      "light", "garden", "window", "carries", "morning", "quiet", "voices")
    val planted = Vector("the", "old", "mill", "by", "the", "river", "turns",
      "slowly", "under", "grey", "skies", "every", "cold", "morning")
    def mkDoc(id: Long, plant: Boolean): (Long, String) = {
      val n = 24 + rnd.nextInt(16)
      val body = Vector.fill(n)(vocab(rnd.nextInt(vocab.size)))
      val withRun =
        if (plant) {
          val at = rnd.nextInt(body.size - 1) + 1
          body.take(at) ++ planted ++ body.drop(at)
        } else body
      // unique head token keeps every fingerprint distinct
      id -> (s"uniq${('a' + id).toChar}doc" +: withRun).mkString(" ")
    }
    val wave1 = (0L until 12L by 2).map(i => mkDoc(i, plant = i % 4 == 0))
    val wave2 = (1L until 12L by 2).map(i => mkDoc(i, plant = i % 3 == 0))
    val base = Files.createTempDirectory("cur_stream_xalg_spec").toString
    def land(dir: String, rows: Seq[(Long, String)]): String = {
      rows.toDF("doc_id", "text")
        .select(col("doc_id"), col("text"), lit("en").as("lang"),
          lit("spec").as("source"), length(col("text")).cast("long").as("n_chars"))
        .coalesce(1).write.parquet(dir)
      dir
    }
    val w1 = land(s"$base/w1", wave1)
    val w2 = land(s"$base/w2", wave2)
    val table = s"$base/t"
    CurationStream.ingest(spark, TwoWaves(w1, w2), table, s"$base/ckpt",
      "spec_xalg_ingest", Gate.Decontam)
    val got = TxnLake.read(spark, table)
      .filter(col("ingest_batch") === 1)
      .select("doc_id", "n_removed", "text").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getString(2)))).toMap
    // suffix-array path over the SAME union corpus, bench = wave 1
    val all = (wave1 ++ wave2).toDF("doc_id", "text")
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("text")).as("toks"))
    val expected = graft.operators.SuffixArray
      .removeSharedSpans(all, col("doc_id") % 2 === 0, minLen = 13)
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(2), r.getString(3)))).toMap
    assert(got.keySet == expected.keySet,
      s"wave-2 survivor sets diverge: ${got.keySet} vs ${expected.keySet}")
    got.keySet.foreach { id =>
      assert(got(id) == expected(id),
        s"doc $id: window-join gave ${got(id)}, suffix array gave ${expected(id)}")
    }
    // the planted run actually bit: some wave-2 doc lost >= 14 tokens
    assert(got.values.exists(_._1 >= 14), s"plant never fired: $got")

    // ---- window-index maintenance on the SAME completed ingest ----
    val windex = CurationStream.windowIndexPath(table)
    // two increments committed, the replay added none
    assert(TxnLake.latestVersion(spark, windex).contains(1L),
      s"index versions: ${TxnLake.latestVersion(spark, windex)}")
    // the index IS the committed corpus' window set (index ≡ recompute)
    def tableWindows() = TxnLake.read(spark, table)
      .select(graft.functions.TextFunctions.tokens(col("text")).as("__t"))
      .select(explode(graft.functions.TextFunctions
        .orderedGrams(col("__t"), 13)).as("__g"))
      .distinct().collect().map(_.getString(0)).toSet
    def indexWindows() = TxnLake.read(spark, windex)
      .select("__g").distinct().collect().map(_.getString(0)).toSet
    val expectedIdx = tableWindows()
    assert(indexWindows() == expectedIdx, "index diverged from recompute")
    // total index loss rebuilds from the corpus via the watermark
    // reconciliation: delete the index table, re-run the SAME ingest
    // (fresh checkpoints; every corpus commit skips as a replay) — the
    // first sink invocation must back-fill BOTH increments
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(windex))
    CurationStream.ingest(spark, TwoWaves(w1, w2), table, s"$base/ckpt2",
      "spec_xalg_ingest", Gate.Decontam)
    assert(TxnLake.latestVersion(spark, table).contains(1L),
      "corpus must not re-commit during the index rebuild")
    assert(TxnLake.latestVersion(spark, windex).contains(1L),
      s"rebuilt index versions: ${TxnLake.latestVersion(spark, windex)}")
    assert(indexWindows() == expectedIdx, "rebuilt index diverged")
  }

  test("a foreign corpus append drops the probe to the recompute path") {
    // the indexCovered guard: rows a DIFFERENT writer appended to the
    // corpus table are invisible to the sibling index (the sink's
    // watermark reconcile is appId-scoped), so the probe must detect the
    // version mismatch and fall back to recomputing windows from the
    // table itself — otherwise the foreign doc's spans silently stop
    // masking
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("cur_stream_foreign_spec").toString
    val run = Seq("the", "quick", "brown", "fox", "jumps", "over", "the",
      "lazy", "dog", "while", "birds", "sing", "songs")
    val filler = Seq("and", "the", "cat", "naps", "on", "a", "warm",
      "mat", "today", "happily", "under", "sun")
    def land(dir: String, rows: Seq[(Long, String)]): String = {
      rows.toDF("doc_id", "text")
        .select(col("doc_id"), col("text"), lit("en").as("lang"),
          lit("spec").as("source"), length(col("text")).cast("long").as("n_chars"))
        .coalesce(1).write.parquet(dir)
      dir
    }
    // waves 1/2 carry only benign docs — the index ends current and empty
    // of the run's windows
    val w1 = land(s"$base/w1", Seq(1L -> (filler ++ filler).mkString(" ")))
    val w2 = land(s"$base/w2",
      Seq(2L -> (filler ++ Seq("but", "never", "twice", "over", "water",
        "this", "evening", "for", "the", "boats")).mkString(" ")))
    val table = s"$base/t"
    CurationStream.ingest(spark, TwoWaves(w1, w2), table, s"$base/ckpt",
      "spec_foreign_ingest", Gate.Decontam)
    // a FOREIGN writer appends a doc carrying the run, bypassing the sink
    val foreign = Seq((9L, "x" * 32, 25,
      0, (run ++ filler).mkString(" "), 7))
      .toDF("doc_id", "fp", "n_tokens", "n_removed", "text", "ingest_batch")
    TxnLake.commit(spark, foreign, table, "append")
    assert(TxnLake.latestVersion(spark, table) !=
      TxnLake.latestVersion(spark, CurationStream.windowIndexPath(table)),
      "precondition: the foreign append must desynchronize the versions")
    // a new batch sharing the run with ONLY the foreign doc must still be
    // cleaned — the probe may not trust the stale index
    val newBatch = Seq((20L,
      (Seq("every", "morning", "we", "watch") ++ run ++
        Seq("before", "dusk", "falls", "again")).mkString(" ")))
      .toDF("doc_id", "text")
    val out = CurationStream.curateBatchDecontam(
        newBatch, table, 2L, "spec_foreign_ingest")
      .select("doc_id", "n_removed").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out(20L) == 13,
      s"foreign doc's span must mask via the recompute fallback: $out")

    // coincidental re-alignment: a foreign append to the INDEX as well
    // makes the two tables' raw version counts equal again — the trap a
    // version-count check falls into. The txn-watermark check must still
    // refuse the index: neither foreign commit carries the app's txns,
    // so the corpus' latest version (2) exceeds the app watermark (1).
    val windex = CurationStream.windowIndexPath(table)
    TxnLake.commit(spark,
      Seq("never committed by the corpus").toDF("__g"), windex, "append")
    assert(TxnLake.latestVersion(spark, table) ==
      TxnLake.latestVersion(spark, windex),
      "precondition: version counts must have coincidentally re-aligned")
    val out2 = CurationStream.curateBatchDecontam(
        newBatch, table, 3L, "spec_foreign_ingest")
      .select("doc_id", "n_removed").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out2(20L) == 13,
      s"re-aligned version counts must not resurrect the stale index: $out2")
  }

  test("maintained ingest: optimize commits keep the indexed probe (x40)") {
    // the version-coverage trust model: in-log maintenance classifies as
    // data-preserving, so the post-maintenance batch probes the index;
    // a FOREIGN append still de-trusts it — and correctness holds either
    // way because the fallback recomputes off the table
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("cur_stream_ndm_spec").toString
    val toks = Seq("the", "quick", "brown", "fox", "jumps", "over", "his",
      "lazy", "dog", "while", "the", "cat", "naps", "on", "a", "warm",
      "mat", "and", "the", "sun", "sets", "slowly", "behind", "green",
      "hills", "as", "birds", "sing", "their", "songs")
    val w2near = toks.updated(29, "owls").mkString(" ")
    val w2fresh = Seq("completely", "different", "words", "for", "another",
      "story", "about", "boats", "on", "rivers", "that", "flow", "to",
      "distant", "seas", "under", "grey", "skies", "where", "sailors",
      "watch", "for", "land", "and", "dream", "of", "home", "ports",
      "every", "night").mkString(" ")
    def land(dir: String, rows: Seq[(Long, String)]): String = {
      rows.toDF("doc_id", "text")
        .select(col("doc_id"), col("text"), lit("en").as("lang"),
          lit("spec").as("source"), length(col("text")).cast("long").as("n_chars"))
        .coalesce(1).write.parquet(dir)
      dir
    }
    val w1 = land(s"$base/w1", Seq(1L -> toks.mkString(" ")))
    val w2 = land(s"$base/w2", Seq(2L -> w2near, 3L -> w2fresh))
    val table = s"$base/t"
    val appId = "spec_ndm_ingest"
    CurationStream.ingest(spark, TwoWaves(w1, w2), table, s"$base/ckpt",
      appId, Gate.NearDup, Maintenance.Optimize(2))
    // same semantic outcome as the unmaintained x33 ingest
    val rows = TxnLake.read(spark, table)
      .select("doc_id", "ingest_batch").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rows.keySet == Set(1L, 3L), s"got $rows")
    // history: every data commit was followed by its maintenance commit,
    // and the checkpoint-loss replay added neither
    assert(TxnLake.history(spark, table).map(_.operation)
      == Seq("append", "optimize", "append", "optimize"))
    assert(TxnLake.lastTxn(spark, table, appId).contains(1L))
    // THE x40 point: batch 1 arrived after an optimize commit and was
    // still served by the delta-vs-index probe — under the pre-x40
    // version arithmetic this would have been "recompute" forever
    assert(CurationStream.probePaths.get((table, 1L)).contains("indexed"),
      s"probe paths: ${CurationStream.probePaths.toMap}")
    // the verified-through markers rode the increment commit into the
    // index log's cumulative txn map (the scan bounds that keep trust
    // evaluation O(new commits) per batch)
    val bindex = CurationStream.bandIndexPath(table)
    assert(TxnLake.lastTxn(spark, bindex, s"$appId#bindex@cov")
      .exists(_ >= 1L), "corpus coverage marker missing")
    assert(TxnLake.lastTxn(spark, bindex, s"$appId#bindex@icov")
      .exists(_ >= 0L), "index coverage marker missing")
    // a FOREIGN append (not a maintenance commit, no app txn) must still
    // fail classification…
    val foreignText = Seq("seven", "silver", "planes", "cross", "the",
      "quiet", "valley", "at", "dawn", "when", "farmers", "walk", "their",
      "long", "fields", "and", "count", "sheep", "beside", "old", "stone",
      "walls", "under", "pale", "morning", "light", "that", "warms",
      "sleeping", "villages").mkString(" ")
    val foreign = Seq((9L, "f" * 32, 30, foreignText, 7))
      .toDF("doc_id", "fp", "n_tokens", "text", "ingest_batch")
    TxnLake.commit(spark, foreign, table, "append")
    // only the LAST token changed → exactly one 3-gram shingle differs,
    // jaccard ≈ 0.93 — far above 0.7 and near-certain to share a band
    val probe = Seq(20L -> foreignText.replace("villages", "hamlets"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("spec").as("source"), length(col("text")).cast("long").as("n_chars"))
    val out = CurationStream.curateBatchNearDup(probe, table, 2L, appId)
      .select("doc_id").collect()
    assert(CurationStream.probePaths.get((table, 2L)).contains("recompute"),
      "a foreign append must drop the probe to the recompute path")
    // …and the recompute path still catches the near-dup of the foreign
    // doc (which the index never saw)
    assert(out.isEmpty,
      s"near-dup of the foreign doc must be dropped via recompute: " +
        out.mkString(","))
  }

  test("an ABOVE-CAP batch keeps its scan pruning with the membership " +
    "decision DISTRIBUTED — identical rows, real skipping counters") {
    // the driver-key bound: above graft.probe.maxDriverKeys, the pruned
    // probes must not collect/broadcast a corpus-sized delta — since r17
    // the kept-file decision itself moves to the executors
    // (readKeyedDistributed: sidecars probed as data), so the probe
    // still PRUNES instead of falling back to the O(index) full scan.
    // Same fixture twice, once with the bound forced to 1, must commit
    // byte-identical tables; the seams record REAL skipping counters
    // (not the retired (-1,-1) full-scan sentinel), the distributed
    // regime flag, and no shuffle-free claim (the broadcast was the
    // below-cap luxury).
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("cur_stream_fb_spec").toString
    val toks = Seq("the", "quick", "brown", "fox", "jumps", "over", "his",
      "lazy", "dog", "while", "the", "cat", "naps", "on", "a", "warm",
      "mat", "and", "the", "sun", "sets", "slowly", "behind", "green",
      "hills", "as", "birds", "sing", "their", "songs")
    def land(dir: String, rows: Seq[(Long, String)]): String = {
      rows.toDF("doc_id", "text")
        .select(col("doc_id"), col("text"), lit("en").as("lang"),
          lit("spec").as("source"),
          length(col("text")).cast("long").as("n_chars"))
        .coalesce(1).write.parquet(dir)
      dir
    }
    val w1 = land(s"$base/w1", Seq(1L -> toks.mkString(" ")))
    val w2 = land(s"$base/w2",
      Seq(2L -> toks.updated(29, "owls").mkString(" "),
        3L -> toks.reverse.mkString(" ")))
    def ingest(table: String, ckpt: String): Set[String] = {
      CurationStream.ingest(spark, TwoWaves(w1, w2), table, ckpt,
        "spec_fb_ingest", Gate.NearDup)
      TxnLake.read(spark, table)
        .select("doc_id", "fp", "n_tokens", "ingest_batch")
        .collect().map(_.toString).toSet
    }
    def ingestDc(table: String, ckpt: String): Set[String] = {
      CurationStream.ingest(spark, TwoWaves(w1, w2), table, ckpt,
        "spec_fb_dc", Gate.Decontam)
      TxnLake.read(spark, table)
        .select("doc_id", "fp", "n_tokens", "n_removed", "text",
          "ingest_batch")
        .collect().map(_.toString).toSet
    }
    val pruned = ingest(s"$base/t_pruned", s"$base/ckpt_pruned")
    val prunedDc = ingestDc(s"$base/tdc_pruned", s"$base/ckpt_dcp")
    spark.conf.set("graft.probe.maxDriverKeys", "1")
    try {
      val fallback = ingest(s"$base/t_fb", s"$base/ckpt_fb")
      assert(fallback == pruned,
        s"above-cap probe diverged from the pruned probe:\n$fallback\nvs\n$pruned")
      val (fpK, fpT) = CurationStream.lastFpSkipping
      assert(fpT > 0 && fpK >= 0 && fpK <= fpT,
        s"fp gate must record REAL distributed-prune counters, got " +
          s"($fpK,$fpT)")
      assert(graft.sources.TxnLake.lastKeyedProbeDistributed,
        "the above-cap membership decision must run distributed")
      assert(!graft.operators.MinHashDedup.lastProbeCandShuffleFree,
        "the above-cap candidate join must not claim shuffle-freedom")
      assert(CurationStream.probePaths.get((s"$base/t_fb", 1L))
        .contains("indexed"),
        "the above-cap probe still rides the INDEX (delta-scaled " +
          "compute) — only the driver collect and broadcast are given up")
      val (bK, bT) = CurationStream.lastBandIndexSkipping
      assert(bT > 0 && bK >= 0 && bK <= bT,
        s"band-index gate must keep pruning above the cap, got ($bK,$bT)")
      val fallbackDc = ingestDc(s"$base/tdc_fb", s"$base/ckpt_dcf")
      assert(fallbackDc == prunedDc,
        s"decontam above-cap diverged:\n$fallbackDc\nvs\n$prunedDc")
      val (wK, wT) = CurationStream.lastWindexSkipping
      assert(wT > 0 && wK >= 0 && wK <= wT,
        s"window gate must keep pruning above the cap, got ($wK,$wT)")
      assert(CurationStream.probePaths.get((s"$base/tdc_fb", 1L))
        .contains("indexed"))
    } finally spark.conf.unset("graft.probe.maxDriverKeys")
  }

  test("a backfill-sized landing drains in BOUNDED micro-batches " +
    "(maxFilesPerTrigger — the ingest's maxFilesPerHop): a mid-drain " +
    "crash resumes convergently through the exactly-once indexed sink, " +
    "and the sliced result equals the unsliced run's") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("cur_stream_backfill").toString
    val toks = Seq("the", "quick", "brown", "fox", "jumps", "over", "his",
      "lazy", "dog", "while", "the", "cat", "naps", "on", "a", "warm",
      "mat", "and", "the", "sun", "sets", "slowly", "behind", "green",
      "hills", "as", "birds", "sing", "their", "songs")
    // 6 single-file landings; doc 4's text DUPLICATES doc 1's, and with
    // cap=2 they land in DIFFERENT slices — the straddle the committed-
    // fingerprint anti-join must catch (earlier slices are committed
    // corpus by the time later ones curate)
    val tails = Seq("songs", "owls", "boats", "songs", "stars", "waves")
    val landing = java.nio.file.Files
      .createDirectories(java.nio.file.Paths.get(s"$base/landing"))
    tails.zipWithIndex.foreach { case (w, i) =>
      val tmp = Files.createTempDirectory("bf_tmp").resolve("out").toString
      Seq(((i + 1).toLong, toks.updated(29, w).mkString(" ")))
        .toDF("doc_id", "text")
        .select(col("doc_id"), col("text"), lit("en").as("lang"),
          lit("spec").as("source"),
          length(col("text")).cast("long").as("n_chars"))
        .coalesce(1).write.parquet(tmp)
      val stream = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
      try {
        import scala.jdk.CollectionConverters._
        val part = stream.iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        java.nio.file.Files.move(part, landing.resolve(f"f$i%02d.parquet"))
      } finally stream.close()
    }
    // reference: the whole landing as ONE batch (no effective cap)
    CurationStream.ingest(spark,
      Backfill(landing.toString, maxFilesPerTrigger = 100),
      s"$base/ref", s"$base/ckpt_ref", "bf_ref", Gate.Decontam)
    assert(TxnLake.lastTxn(spark, s"$base/ref", "bf_ref").contains(0L),
      "fixture: uncapped, the backlog is one micro-batch")
    val refFps = TxnLake.read(spark, s"$base/ref")
      .select("fp").collect().map(_.getString(0)).toSet
    assert(refFps.size == 5, s"fixture: the dup must dedup: ${refFps.size}")
    // capped at 2 files/trigger with a crash after ONE applied batch
    val table = s"$base/t"
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      CurationStream.ingest(spark,
        Backfill(landing.toString, maxFilesPerTrigger = 2, failAfterBatches = 1),
        table, s"$base/ckpt", "bf", Gate.Decontam)
    }
    assert(TxnLake.lastTxn(spark, table, "bf").contains(0L),
      "the crash must park the offset at the first unapplied slice")
    // resume with the SAME checkpoint: the remaining slices drain, the
    // replayed slice no-ops at the (appId, batchId) guard
    CurationStream.ingest(spark,
      Backfill(landing.toString, maxFilesPerTrigger = 2),
      table, s"$base/ckpt", "bf", Gate.Decontam)
    assert(TxnLake.lastTxn(spark, table, "bf").contains(2L),
      "6 files at cap 2 = micro-batches 0..2")
    val rows = TxnLake.read(spark, table)
    assert(rows.select("fp").collect().map(_.getString(0)).toSet == refFps,
      "the sliced drain must converge to the unsliced run's corpus")
    assert(rows.groupBy("fp").count().filter(col("count") > 1).count() == 0,
      "the straddling duplicate must not double-commit")
    assert(rows.select("ingest_batch").distinct().collect()
      .map(_.getInt(0)).toSet == Set(0, 1, 2),
      "every slice must carry its own batch id")
    // the window index reconciled to the corpus watermark — the crashed
    // batch's increment back-filled on resume
    val windex = CurationStream.windowIndexPath(table)
    assert(TxnLake.lastTxn(spark, windex,
      CurationStream.windowIndexTxn("bf")).contains(2L),
      "index increments must reconcile through the crash")
  }
}
