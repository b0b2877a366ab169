package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed suffix-array construction over tokenized documents via
  * prefix doubling (Manber–Myers re-expressed as DataFrame supersteps) —
  * the data structure behind Lee et al.'s exact-substring training-data
  * dedup ("Deduplicating Training Data Makes Language Models Better",
  * §4.1), which finds ARBITRARY-length repeats where the fixed-n gram
  * census (d26/d41) can only see spans of a chosen n.
  *
  * Suffixes are per-document (`(doc_id, pos)` = the token sequence from
  * `pos` to the document's end) but ranked GLOBALLY — equivalent to the
  * suffix array of the sentinel-separated corpus concatenation, because a
  * repeated substring never crosses a document boundary.
  *
  * Algorithm: competition ranks (ties allowed) under an arbitrary fixed
  * total token order; each superstep extends the compared prefix from 2^k
  * to 2^(k+1) tokens by re-ranking on `(rank, rank-of-suffix-2^k-ahead)`
  * — missing lookahead (suffix shorter than 2^k) ranks as 0, before
  * every real rank, because a proper prefix sorts first. Competition
  * (not dense) ranks make the superstep ORDER-CONSISTENT without global
  * renumbering: a tied group's new ranks stay inside the group's
  * reserved [rank, rank+size) interval — so only the still-TIED rows are
  * re-ranked each superstep (refine-only-ties), inside a window
  * partitioned by their group. The loop exits when no ties remain or the
  * prefix length covers the longest document; surviving ties are
  * exactly-identical suffixes.
  *
  * Scale shape: the base ranking runs over each suffix's first 8 tokens
  * as a composite sort key through [[PrefixSum.competitionRankByRange]]
  * (range-partitioned — block frequency skew is absorbed by the sampled
  * range sort, not a group window). Each superstep then touches only the still-TIED positions
  * (refine-only-ties): a group-size window and a within-group re-rank
  * window partitioned by tie group (positions sharing an entire
  * 2^k-token context — a population that collapses geometrically), plus
  * one (doc_id,pos)-keyed lookahead equi-join against the full rank
  * table, the per-superstep full-width cost the classic algorithm also
  * pays. Superstep count is ceil(log2(longest doc)); lineage is pinned
  * per superstep (localCheckpoint, the d13 pattern) and the one driver
  * action per superstep is the tied-set emptiness probe.
  */
object SuffixArray {

  /** Prefix length the base ranking pass covers (a composite 8-token
    * sort key); doubling supersteps start from here. */
  val BaseLen = 8

  /** localCheckpoint + carried-statistics reset — REQUIRED for every
    * superstep/level boundary in this file: Spark 4's localCheckpoint
    * copies the pre-checkpoint plan's size estimate onto the new leaf,
    * and size-only join estimation multiplies child sizes, so across an
    * iterative loop the carried BigInt's bit length DOUBLES per
    * superstep — at ~14 supersteps the driver stalls for minutes in
    * BigInteger.multiply evaluating statistics (observed on a 10⁵-token
    * document). See [[org.apache.spark.sql.GraftCheckpointShim]]. */
  private def pinned(df: DataFrame): DataFrame =
    org.apache.spark.sql.GraftCheckpointShim.pinWithMeasuredStats(df)

  /** doc_id, pos (1-based), tok — one row per token position. */
  def tokenPositions(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), posexplode(col("toks")).as(Seq("pos0", "tok")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("tok"))

  /** Competition ranks of every suffix of every document. Input needs
    * `doc_id` (unique) and `toks` (non-null array<string>). Output:
    * `doc_id, pos, rank` where rank is 1-based, order-consistent with the
    * lexicographic suffix order under the engine's string collation, and
    * two suffixes share a rank iff their token sequences are identical. */
  def suffixRanks(docs: DataFrame): DataFrame =
    suffixRanksWithSnapshots(docs)._1

  /** [[suffixRanks]] plus the per-superstep FULL rank tables keyed by the
    * prefix length they cover (8, 16, 32, …) and the corpus' longest
    * document length (computed here anyway for the loop bound — callers
    * need it for [[adjacentLcpAuto]] and would otherwise re-scan) — the
    * snapshot list is the binary-lifting index
    * [[adjacentLcpLifted]] probes. Each snapshot is localCheckpoint-pinned
    * by the doubling loop itself, so keeping them costs no extra
    * computation; at 100 TB these are exactly the rank tables a
    * production suffix-array pipeline would persist between supersteps
    * anyway. Snapshot invariant: two suffixes share a rank in the
    * prefix-length-L table iff their first min(L, len) tokens are
    * identical AND neither is a proper prefix of the other within L. */
  def suffixRanksWithSnapshots(docs: DataFrame): (DataFrame, Seq[(Long, DataFrame)], Long) = {
    val maxLen = docs.agg(max(size(col("toks")))).collect()(0) match {
      case r if r.isNullAt(0) => 0
      case r => r.getInt(0)
    }
    // Base pass over the first 8 TOKENS of each suffix (prefix length 8):
    // one skew-free range-ranked pass replaces the first three doubling
    // supersteps, and the heavy short-context tie groups ("the ...")
    // never reach a group window — after this base, the only positions
    // still tied are those inside ≥8-token repeated regions. The 8
    // tokens are passed as a COMPOSITE sort key (__k0..__k7), so the
    // induced order is sequence-lexicographic under the engine's plain
    // per-token string collation — one consistent total token order
    // throughout, with no separator artifact. (An earlier draft ranked a
    // space-joined block string, which silently assumes 0x20 sorts below
    // every token character; tokens are only \s+-split, so C0 controls
    // \x00-\x1F inside a token broke that order.) A position past the
    // document end yields NULL, which sorts FIRST under the default asc
    // ordering — exactly the proper-prefix-sorts-first suffix convention.
    val keyCols = (0 until BaseLen).map(k => s"__k$k")
    val tp8 = docs
      // empty documents contribute no suffixes (and sequence(1, 0) would
      // DESCEND, minting phantom positions 1 and 0)
      .filter(size(col("toks")) >= 1)
      .select(col("doc_id"),
        explode(expr("sequence(1, size(toks))")).as("pos"), col("toks"))
      .select(Seq(col("doc_id"), col("pos")) ++
        (0 until BaseLen).map(k =>
          // get() is 0-based and null-safe past the array end (never
          // throws under ANSI, unlike element_at)
          get(col("toks"), col("pos") + lit(k) - 1).as(s"__k$k")): _*)
    val base = pinned(PrefixSum
      .competitionRankByRange(tp8, keyCols, "rank", tiedOut = "__tied")
      .select("doc_id", "pos", "rank", "__tied"))
    // Refine-only-ties: a resolved (unique-rank) suffix stays resolved
    // forever, and new ties only appear INSIDE previously tied groups —
    // so each superstep touches only the still-tied `active` set, which
    // collapses geometrically (the base pass emits its tie flag for
    // free, so even the first superstep starts from the tied minority),
    // while `fullRanks` (resolved pieces ∪ active) serves the lookahead
    // probes read-only.
    var active = base.filter(col("__tied")).select("doc_id", "pos", "rank")
    var resolvedPieces =
      List(base.filter(!col("__tied")).select("doc_id", "pos", "rank"))
    var fullRanks = base.select("doc_id", "pos", "rank")
    var snapshots = List(BaseLen.toLong -> fullRanks)
    var step = BaseLen.toLong
    var done = false
    while (!done && step < maxLen) {
      // Lookahead as a PROBE into the full rank table: the probe side is
      // the (shrinking) tied set, so AQE broadcast-joins it against the
      // big side — the full table is scanned, never shuffled, per
      // superstep. (An active ⟕ shifted(fullRanks) shape could only
      // broadcast the big right side of the left join, forcing a
      // full-width shuffle every superstep.)
      val probe = active.select(col("doc_id"),
        (col("pos") + lit(step)).as("pos"))
      val r2rows = fullRanks.join(probe, Seq("doc_id", "pos"))
        .select(col("doc_id"), (col("pos") - lit(step)).as("pos"),
          col("rank").as("__r2"))
      // One window exchange computes the within-group refinement AND the
      // EXACT post-refinement tie-group size: rows tied after this
      // superstep are exactly those sharing (rank, __r2), and a window
      // partitioned by that finer key reuses the hashpartitioning(rank)
      // exchange (hash exprs ⊆ clustering). Round 19 detected resolution
      // one superstep LATE (group size of the PREVIOUS rank), so every
      // just-resolved row rode one more probe + window + checkpoint;
      // detecting it in the same pass shrinks the active set a full
      // superstep earlier and ends the loop as soon as the last tie
      // breaks (round 20, guide §1.2 — don't compute what you throw
      // away). One materialization per superstep, as before.
      val upd = pinned(active.join(r2rows, Seq("doc_id", "pos"), "left")
        .withColumn("__r2", coalesce(col("__r2"), lit(0L)))
        .withColumn("__c",
          count(lit(1)).over(Window.partitionBy("rank", "__r2")))
        .withColumn("__sub",
          rank().over(Window.partitionBy("rank").orderBy("__r2")))
        .select(col("doc_id"), col("pos"),
          (col("rank") + col("__sub") - 1).as("rank"), col("__c"),
          col("__r2")))
      // A tied group whose probes are ALL past the document end
      // (__r2 = 0: fullRanks holds every position, so a missed probe
      // means pos + step > len) is a set of IDENTICAL end-of-document
      // suffixes: every later superstep re-probes past the end, sub
      // stays 1, the rank never changes again. Round 19 carried these
      // forever-tied rows through every remaining superstep up to
      // log2(maxLen); retiring them here lets the loop END as soon as
      // the last GENUINE tie (distinct suffixes sharing a long prefix)
      // breaks — the superstep count becomes log2(max distinct-pair
      // LCP), not log2(longest document), and the LCP descent tower
      // shrinks by the same levels. Their final ranks are already
      // competition-correct (identical suffixes stay tied, exactly as
      // the run-to-maxLen loop left them).
      resolvedPieces ::= upd.filter(col("__c") === 1 || col("__r2") === 0)
        .select("doc_id", "pos", "rank")
      active = upd.filter(col("__c") > 1 && col("__r2") =!= 0)
        .select("doc_id", "pos", "rank")
      // this superstep extended the compared prefix from `step` to 2·step
      fullRanks = (active :: resolvedPieces).reduce(_ unionByName _)
      step *= 2
      snapshots ::= step -> fullRanks
      if (active.isEmpty) done = true
    }
    (fullRanks, snapshots.reverse, maxLen.toLong)
  }

  /** Resolves [[suffixRanks]] ties (identical suffixes) by `(doc_id,
    * pos)` into the full suffix-array permutation `sa_pos` ∈ 1..n —
    * identical suffixes end up ADJACENT, which the LCP scan relies on.
    *
    * Competition ranks already ARE the positions: rank = 1 + #rows with
    * a strictly smaller key, so a unique-rank row's permutation index is
    * its rank, and a tied group of size g owns exactly [rank, rank+g).
    * One group-keyed window fills the tied intervals — partition size is
    * the identical-suffix multiplicity (rare after exact dedup), not the
    * corpus. */
  def saPositions(ranks: DataFrame): DataFrame =
    ranks.withColumn("sa_pos",
      col("rank") + row_number().over(
        Window.partitionBy("rank").orderBy("doc_id", "pos")) - 1)
      .select("doc_id", "pos", "sa_pos")

  /** One row per suffix-array-adjacent pair with its exact LCP (longest
    * common token prefix). The classic theorem — LCP of ANY two suffixes
    * is the min of adjacent LCPs between them — makes the max adjacent
    * LCP the length of the longest span occurring ≥ 2 times in the
    * corpus. Adjacency is a keyed equi-join on `sa_pos + 1`; the compare
    * materializes each suffix's token slice once (fine at these document
    * lengths; 10^5-token docs would instead binary-lift over the
    * superstep rank snapshots to keep rows narrow). */
  def adjacentLcp(docs: DataFrame, sa: DataFrame): DataFrame = {
    val sfx = sa.join(docs.select("doc_id", "toks"), Seq("doc_id"))
      .select(col("sa_pos"),
        expr("slice(toks, pos, size(toks) - pos + 1)").as("sfx"))
    val right = sfx.select((col("sa_pos") - 1).as("sa_pos"),
      col("sfx").as("sfx_b"))
    sfx.join(right, Seq("sa_pos"))
      .withColumn("__z",
        zip_with(col("sfx"), col("sfx_b"),
          (x, y) => when(x === y, 1).otherwise(0)))
      // array_position = 0 means "no mismatch" → the shorter suffix is a
      // prefix of (or equal to) the other; zip_with pads with null, and
      // null === tok is null → otherwise(0), so padding counts as mismatch
      .withColumn("lcp",
        when(array_position(col("__z"), 0) === 0,
          least(size(col("sfx")), size(col("sfx_b"))))
          .otherwise(array_position(col("__z"), 0) - 1))
      .select("sa_pos", "lcp")
  }

  /** [[adjacentLcp]] via BINARY LIFTING over the superstep rank
    * snapshots — O(log maxLen) keyed probes per adjacent pair instead of
    * materializing each suffix's token slice, whose total size is
    * quadratic in document length (a single 10⁵-token document makes the
    * slice variant materialize ~5·10⁹ cells; this variant touches
    * ~2·17 narrow join rows per suffix).
    *
    * Greedy descent: levels L = topmost snapshot … 8, each tried once.
    * Equal non-null ranks at probe positions (a_pos+off, b_pos+off) in
    * the length-L table mean the next min(L, cap−off) tokens agree, so
    * off advances by that much; a distinct-suffix pair's remaining match
    * after the level pass is < 8 (binary decomposition — any lcp < top
    * snapshot length, else the pair would still be tied there), finished
    * by one bounded 8-token slice compare. Identical suffixes saturate at
    * cap (the shorter length) because every level matches and the advance
    * is min-capped. Each level costs two (doc_id, pos)-keyed equi-joins
    * of the pair table against that snapshot — the full-width-but-keyed
    * shape every superstep of the construction already pays. */
  def adjacentLcpLifted(docs: DataFrame, sa: DataFrame,
                        snapshots: Seq[(Long, DataFrame)]): DataFrame = {
    val withLen = sa
      .join(docs.select(col("doc_id"), size(col("toks")).as("__len")), Seq("doc_id"))
    val aSide = withLen.select(col("sa_pos"), col("doc_id").as("a_doc"),
      col("pos").as("a_pos"), (col("__len") - col("pos") + 1).as("a_len"))
    val bSide = withLen.select((col("sa_pos") - 1).as("sa_pos"),
      col("doc_id").as("b_doc"), col("pos").as("b_pos"),
      (col("__len") - col("pos") + 1).as("b_len"))
    var pairs = pinned(aSide.join(bSide, Seq("sa_pos"))
      .withColumn("cap", least(col("a_len"), col("b_len")).cast("long"))
      .withColumn("off", lit(0L)))
    for ((plen, ranks) <- snapshots.sortBy(-_._1)) {
      val ra = ranks.select(col("doc_id").as("__ad"), col("pos").as("__ap"),
        col("rank").as("__ra"))
      val rb = ranks.select(col("doc_id").as("__bd"), col("pos").as("__bp"),
        col("rank").as("__rb"))
      pairs = pairs
        .join(ra, col("a_doc") === col("__ad") &&
          (col("a_pos") + col("off")) === col("__ap"), "left")
        .join(rb, col("b_doc") === col("__bd") &&
          (col("b_pos") + col("off")) === col("__bp"), "left")
        .withColumn("off",
          when(col("__ra").isNotNull && col("__ra") === col("__rb"),
            least(col("off") + lit(plen), col("cap"))).otherwise(col("off")))
        .drop("__ad", "__ap", "__ra", "__bd", "__bp", "__rb")
      // No pin per level (round 20, guide §1.2): the tower has exactly
      // ONE consumer (each caller checkpoints or aggregates the lcp
      // output once), so the per-level materialization was 5 checkpoint
      // writes of the full pairs table per query for re-execution
      // protection nothing needed — one job now streams the pairs
      // through every level's keyed joins. The carried-stats blowup that
      // forced pins in the CONSTRUCTION loop is bounded here: the nest
      // is log2(maxLen/8) levels deep per query, not iterative across
      // queries, and the initial pairs pin carries a MEASURED size.
    }
    // remainder < BaseLen: one bounded 8-token slice compare (same
    // zip_with convention as the slice variant, cost capped at 8 cells)
    val fin = pairs
      .join(docs.select(col("doc_id").as("a_doc"), col("toks").as("__at")),
        Seq("a_doc"))
      .join(docs.select(col("doc_id").as("b_doc"), col("toks").as("__bt")),
        Seq("b_doc"))
      .withColumn("__s8a",
        slice(col("__at"), (col("a_pos") + col("off")).cast("int"), lit(BaseLen)))
      .withColumn("__s8b",
        slice(col("__bt"), (col("b_pos") + col("off")).cast("int"), lit(BaseLen)))
      .withColumn("__z", zip_with(col("__s8a"), col("__s8b"),
        (x, y) => when(x === y, 1).otherwise(0)))
      .withColumn("__extra",
        when(array_position(col("__z"), 0) === 0,
          least(size(col("__s8a")), size(col("__s8b"))).cast("long"))
          .otherwise(array_position(col("__z"), 0) - 1))
    fin.select(col("sa_pos"),
      least(col("off") + col("__extra"), col("cap")).as("lcp"))
  }

  /** Documents whose length exceeds this use the lifted LCP; shorter
    * corpora keep the slice compare (fewer joins, bounded quadratic). */
  val LcpLiftThreshold = 1024

  /** [[adjacentLcp]] with the implementation chosen by the corpus' longest
    * document: the slice compare's per-document cost is quadratic in
    * length, acceptable only under [[LcpLiftThreshold]]. `maxLen` is the
    * corpus maximum document token count (the caller usually has it). */
  def adjacentLcpAuto(docs: DataFrame, sa: DataFrame,
                      snapshots: Seq[(Long, DataFrame)],
                      maxLen: Long): DataFrame =
    if (maxLen > LcpLiftThreshold)
      adjacentLcpLifted(docs, sa, snapshots)
    else adjacentLcp(docs, sa)

  /** Start positions of corpus-wide repeated spans of length ≥ `minLen`:
    * for every suffix, `lmax` = the longest prefix it shares with ANY
    * other suffix in the corpus — by the adjacency theorem that maximum
    * is achieved against one of its two suffix-array neighbors, so one
    * keyed join against the adjacent-LCP table on each side suffices.
    * A row `(doc_id, pos, lmax)` asserts tokens `[pos, pos+lmax)` occur
    * ≥ 2 times corpus-wide (within-document repeats included). */
  def repeatedSpanStarts(lcp: DataFrame, sa: DataFrame,
                         minLen: Int): DataFrame =
    sa
      .join(lcp.select(col("sa_pos"), col("lcp").as("__dn")), Seq("sa_pos"), "left")
      .join(lcp.select((col("sa_pos") + 1).as("sa_pos"), col("lcp").as("__up")),
        Seq("sa_pos"), "left")
      .select(col("doc_id"), col("pos"),
        greatest(coalesce(col("__dn"), lit(0L)), coalesce(col("__up"), lit(0L)))
          .as("lmax"))
      .filter(col("lmax") >= minLen)

  /** Exact-substring dedup (the actual Lee et al. §4.1 application the
    * suffix array exists for): REMOVE every token covered by a span of
    * ≥ `minLen` tokens occurring ≥ 2 times corpus-wide, and re-join the
    * survivors into cleaned text. Coverage is the union of `[pos,
    * pos+lmax)` over [[repeatedSpanStarts]] rows — complete because any
    * position inside some repeated ≥ minLen window lies inside the
    * interval minted by that window's own start.
    *
    * Scale shape: the interval union is ONE per-document window pass
    * (running max of interval ends over token positions — linear, never
    * an interval explode whose size is quadratic in span length), the
    * rebuild is the d41 collect_list-per-doc pattern, and everything
    * upstream is the suffix machinery's own log-superstep shape. Input
    * needs `doc_id` + `toks`; emits one row per input document:
    * `doc_id, n_toks, n_removed, cleaned_text`. */
  def removeRepeatedSpans(docs: DataFrame, minLen: Int): DataFrame = {
    val (ranks, snapshots, maxLen) = suffixRanksWithSnapshots(docs)
    // pinned: sa feeds the lmax side-joins (twice) and the LCP compare;
    // lcp feeds both side-joins of repeatedSpanStarts — without the pins
    // the post-checkpoint LCP tail and the rank window re-execute per
    // consumer (the d48 caller pins the same way)
    val sa = pinned(saPositions(ranks))
    val lcp = pinned(adjacentLcpAuto(docs, sa, snapshots, maxLen))
    val starts = repeatedSpanStarts(lcp, sa, minLen)
      .select(col("doc_id"), col("pos"), (col("pos") + col("lmax")).as("__end"))
    removeCoveredTokens(docs, starts)
  }

  /** Excises from every document the tokens covered by `spans` (rows
    * `doc_id, pos, __end` — half-open token intervals, at most one per
    * (doc_id, pos)) and re-joins the survivors into cleaned text. The
    * interval union is ONE per-document window pass (running max of
    * interval ends over token positions — linear even when one interval
    * covers most of a document, where an explode of [pos, __end) rows
    * would be quadratic); the rebuild is the d41 collect_list-per-doc
    * pattern. Emits one row per `docs` row:
    * `doc_id, n_toks, n_removed, cleaned_text`. */
  def removeCoveredTokens(docs: DataFrame, spans: DataFrame): DataFrame = {
    // Doc-grain rebuild (optimization round 19, guide §2.3 "shuffle keys
    // and metadata instead of payloads" / §8): the previous form exploded
    // every document into token rows, shuffle-joined them against the
    // span starts on (doc_id, pos), ran a per-document running-max window
    // over the TOKEN rows, and rebuilt the text with a sorted
    // collect_list — four token-grain exchanges per call, O(corpus
    // tokens) rows through every one. Every decision here is
    // per-document: aggregate the span set to one array per document
    // (span-grain exchange — the only rows that move are the hits) and
    // excise with ONE linear kernel pass per document
    // ([[graft.expressions.ExciseCovered]]). Output rows, values, and
    // column types are identical.
    val sp = spans.groupBy("doc_id")
      .agg(collect_list(struct(col("pos").cast("long").as("p"),
        col("__end").cast("long").as("e"))).as("__sp"))
    docs.join(sp, Seq("doc_id"), "left_outer")
      .withColumn("__x", graft.expressions.TextExpressions.exciseCovered(
        col("toks"),
        coalesce(col("__sp"), array().cast("array<struct<p:bigint,e:bigint>>"))))
      .select(col("doc_id"), size(col("toks")).as("n_toks"),
        (size(col("toks")) - col("__x").getField("n_kept")).as("n_removed"),
        col("__x").getField("cleaned").as("cleaned_text"))
  }

  /** Start positions in the NON-bench partition of spans of ≥ `minLen`
    * tokens that ALSO occur somewhere in the bench partition — the
    * cross-set counterpart of [[repeatedSpanStarts]], where "hot" means
    * shared ACROSS the split rather than occurring ≥ 2 times anywhere.
    *
    * Device: at a fixed threshold the suffix array decomposes into
    * maximal RUNS of consecutive entries whose adjacent LCP is ≥ minLen;
    * by the adjacency theorem every two suffixes in a run share their
    * first minLen tokens, and conversely two suffixes sharing minLen
    * tokens sandwich only ≥-minLen adjacencies — so "train suffix shares
    * a ≥ minLen span with the bench set" is EXACTLY "train suffix sits in
    * a run containing a bench suffix". Run ids come from a distributed
    * prefix count of run-boundary flags over `sa_pos`
    * ([[PrefixSum.exclusivePrefixSum]] — dense unique ids, so the fixed
    * bucket grid is perfectly balanced and the only global window runs
    * over #buckets rows, never a corpus-wide ordering); the bench-member
    * test is one run-keyed aggregate joined back.
    *
    * `isBench` is an unbound predicate over `doc_id` (e.g.
    * `col("doc_id") % 40 === 0`). Emits `doc_id, pos` — non-bench rows
    * only, at most one per (doc_id, pos). */
  def crossSetSpanStarts(lcp: DataFrame, sa: DataFrame, isBench: Column,
                         minLen: Int): DataFrame = {
    // suffix at sa_pos s opens a new run iff the adjacency (s-1, s) has
    // LCP < minLen (or has no predecessor); run id = inclusive prefix
    // count of open flags in sa order
    val bnd = sa.join(
      lcp.select((col("sa_pos") + 1).as("sa_pos"), col("lcp").as("__lp")),
      Seq("sa_pos"), "left")
      .withColumn("__b",
        when(coalesce(col("__lp") >= minLen, lit(false)), 0L).otherwise(1L))
      .drop("__lp")
    // pinned: the run table feeds BOTH the bench-member aggregate and
    // the semi-join probe side; unpinned, the boundary join + two-pass
    // prefix sum re-execute per consumer (the removeRepeatedSpans
    // multi-consumer discipline)
    val grouped = pinned(
      PrefixSum.exclusivePrefixSum(bnd, "sa_pos", "__b", "__g0")
        .withColumn("__run", col("__g0") + col("__b"))
        .withColumn("__isb", when(isBench, 1).otherwise(0)))
    // runs are contiguous shared-prefix families; a run with a bench
    // member marks every non-bench member as a contaminated start. The
    // run aggregate is map-side combined; the join back is run-keyed
    // (run size = shared-prefix multiplicity, the same bound every
    // group stage of the suffix machinery already carries).
    val hasBench = grouped.groupBy("__run")
      .agg(max(col("__isb")).as("__hb"))
      .filter(col("__hb") === 1)
      .select("__run")
    grouped.join(hasBench, Seq("__run"), "left_semi")
      .filter(col("__isb") === 0)
      .select("doc_id", "pos")
  }

  /** Benchmark DECONTAMINATION (Lee et al. §4.1 applied across a
    * train/eval split, the arbitrary-length generalization of fixed-n
    * overlap screens à la GPT-3's 13-gram eval dedup): REMOVE from every
    * non-bench document the tokens covered by a span of ≥ `minLen`
    * tokens that also occurs in the bench partition, and re-join the
    * survivors into cleaned text. Coverage by shared ≥ minLen spans
    * equals coverage by shared EXACTLY-minLen windows (any covered
    * position lies in some minLen-sub-window of its span, and a
    * sub-window of a shared span is shared), so fixed-length intervals
    * at [[crossSetSpanStarts]] rows are an exact mask.
    *
    * Input is the FULL corpus (bench ∪ train, `doc_id` + `toks`); output
    * is one row per non-bench document: `doc_id, n_toks, n_removed,
    * cleaned_text`. Scale shape: the suffix machinery's own
    * log-superstep construction over the union, one balanced prefix-sum
    * pass for run ids, one run-keyed aggregate, then the linear
    * per-document mask — no all-pairs stage, and the bench side needs no
    * broadcast (it rides the same suffix array). */
  def removeSharedSpans(docs: DataFrame, isBench: Column,
                        minLen: Int): DataFrame = {
    val (ranks, snapshots, maxLen) = suffixRanksWithSnapshots(docs)
    // same pin discipline as removeRepeatedSpans: sa feeds the boundary
    // join and the LCP compare, lcp feeds the boundary join
    val sa = pinned(saPositions(ranks))
    val lcp = pinned(adjacentLcpAuto(docs, sa, snapshots, maxLen))
    val starts = crossSetSpanStarts(lcp, sa, isBench, minLen)
      .select(col("doc_id"), col("pos"),
        (col("pos") + lit(minLen)).as("__end"))
    removeCoveredTokens(docs.filter(!isBench), starts)
  }
}
