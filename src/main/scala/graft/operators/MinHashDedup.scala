package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** MinHash+LSH near-duplicate detection over a (doc_id, text) DataFrame:
  * word-3-gram shingles → K=16 minhash signature → 4×4 band keys →
  * band-bucket candidate join → exact-Jaccard verification.
  *
  * Scale contract: candidates come from equi-joins on band hashes (one
  * shuffle keyed by (band, bucket)), never an all-pairs cross join; exact
  * set intersection runs only on candidates. The shingle table is cached —
  * it is scanned by both band-join sides and both verification probes
  * (the materialized signature table every production LSH pipeline
  * checkpoints).
  */
object MinHashDedup {

  /** Verified near-dup pairs (doc_a < doc_b, word-3-gram Jaccard ≥
    * threshold). `materialize = false` returns the raw lazy plan and
    * leaves the shingle cache pinned — for plan inspection only.
    *
    * `maxBucketSize` is the MEGA-BUCKET GUARD: a band bucket holding a
    * near-identical cluster of k documents (identical docs share every
    * band, so exact-dup mega-clusters that skipped exact dedup land
    * whole) would emit k·(k−1)/2 candidates — quadratic in the cluster,
    * the one place LSH degenerates at scale. With the guard set, buckets
    * larger than the cap emit a REPRESENTATIVE STAR instead (min doc_id ×
    * each other member): linear in the cluster, connectivity-preserving
    * for downstream component collapse when members verify against the
    * representative (the near-identical case that creates mega-buckets is
    * exactly the case where they do). The tradeoff is documented recall:
    * a bucket-collision pair inside an oversized bucket whose members are
    * similar to each other but NOT to the representative is no longer
    * probed. 0 (default) = unguarded exact candidates. */
  def verifiedPairs(docs: DataFrame, threshold: Double = 0.7,
                    materialize: Boolean = true,
                    maxBucketSize: Int = 0): DataFrame = {
    val sh = docs
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"), shingles(col("toks"), 3).as("s"))
      .filter(size(col("s")) > 0)
      .cache()
    val sig = sh
      .withColumn("h", transform(col("s"), x => hash28(x)))
      .select(col("doc_id"), minhashSignature(col("h")).as("sig"))
    val bands = sig.select(col("doc_id"),
      posexplode(bandKeys(col("sig"), 4, 4)).as(Seq("b", "bh")))
    val cand =
      if (maxBucketSize <= 0)
        bands.as("x")
          .join(bands.as("y"),
            col("x.b") === col("y.b") && col("x.bh") === col("y.bh")
              && col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
          .distinct()
      else {
        // bucket size + representative in ONE bucket-keyed window pass —
        // linear in the bucket even when the bucket is the whole cluster
        val w = org.apache.spark.sql.expressions.Window.partitionBy("b", "bh")
        val sized = bands
          .withColumn("n", count(lit(1)).over(w))
          .withColumn("m", min(col("doc_id")).over(w))
        val small = sized.filter(col("n") <= maxBucketSize)
        val smallPairs = small.as("x")
          .join(small.as("y"),
            col("x.b") === col("y.b") && col("x.bh") === col("y.bh")
              && col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        val starPairs = sized
          .filter(col("n") > maxBucketSize && col("doc_id") =!= col("m"))
          .select(col("m").as("doc_a"), col("doc_id").as("doc_b"))
        smallPairs.unionByName(starPairs).distinct()
      }
    // one-pass native kernel (hash-set intersect + inclusion-exclusion
    // union) — arithmetically identical to the array_intersect/array_union
    // pair on the distinct shingle arrays, without materializing two
    // result arrays per candidate (DistinctSetJaccardSpec pins equality)
    val jac = graft.expressions.TextExpressions
      .distinctSetJaccard(col("sa"), col("sb"))
    // Spread verification across the configured shuffle parallelism. The
    // candidate exchange upstream is AQE-coalesced by BYTE size, and a
    // pair row is 16 bytes while its verification cost is a ~50-element
    // string-array set op — on a dup-storm corpus AQE folded 4.5M pairs
    // into 2 partitions and serialized the one CPU-bound stage (16.0 s →
    // 3.3 s at local[32] from this spread plus the DistinctSetJaccard
    // kernel; an explicit repartition count is exempt from AQE coalescing
    // by contract). On
    // honest corpora the pair set is small and the extra exchange is
    // sub-millisecond noise; at cluster scale shuffle.partitions is the
    // knob deployments already size to the data. Round-robin (not
    // hash(doc_a)) is deliberate: a guarded star's pairs share ONE doc_a,
    // so key-hashing would re-concentrate exactly the storm this spreads.
    // In the sort-merge regime (shingle table too big to broadcast) the
    // verify join re-shuffles by key anyway — there the spread is a cheap
    // 16-byte-row pass-through and AQE's skew-join split governs the
    // star-key concentration instead.
    val spread = cand.repartition(
      docs.sparkSession.sessionState.conf.numShufflePartitions)
    val pairs = spread
      .join(sh.select(col("doc_id").as("doc_a"), col("s").as("sa")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("s").as("sb")), Seq("doc_b"))
      .withColumn("jac", jac)
      .filter(col("jac") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 4).as("jaccard"))
    // The operator releases its own cache: the verified pair set is tiny
    // (near-dup pairs, not the corpus), so pin IT eagerly and free the
    // multi-scanned shingle table instead of leaking it to the session.
    if (!materialize) pairs
    else {
      val pinned = pairs.localCheckpoint()
      sh.unpersist()
      pinned
    }
  }

  /** Near-dup pruning: drop every doc that is the HIGHER id of a verified
    * pair (deterministic canonical-keeps-lowest; chains collapse because
    * each non-minimal member appears as doc_b of some pair). */
  def pruneNearDups(docs: DataFrame, threshold: Double = 0.7): DataFrame = {
    val drop = verifiedPairs(docs, threshold)
      .select(col("doc_b").as("doc_id")).distinct()
    docs.join(drop, Seq("doc_id"), "left_anti")
  }

  private def shingleTable(docs: DataFrame): DataFrame =
    // tokenize + shingle + (downstream) minhash is the CPU-bound per-row
    // stage of every probe: spread an under-partitioned input (a
    // width-adapted micro-batch pin arrives at 1-2 partitions) back to
    // core width first — a no-op at production batch sizes (round 20)
    graft.streaming.CurationStream.spreadForCpu(docs)
    .withColumn("toks", tokens(col("text")))
    .select(col("doc_id"), shingles(col("toks"), 3).as("s"))
    .filter(size(col("s")) > 0)

  private def bandTable(sh: DataFrame): DataFrame = sh
    .withColumn("h", transform(col("s"), x => hash28(x)))
    .select(col("doc_id"), minhashSignature(col("h")).as("sig"))
    .select(col("doc_id"), posexplode(bandKeys(col("sig"), 4, 4)).as(Seq("b", "bh")))

  /** Incremental (delta-vs-index) near-dup matching — the daily-ingest
    * production shape: a NEW batch of documents is checked against the
    * EXISTING corpus without re-pairing the corpus with itself. Band keys
    * of the delta equi-join the corpus band table on (band, bucket) — at
    * scale the corpus side is the precomputed LSH index a pipeline
    * materializes once and only ever probes — and exact Jaccard verifies
    * the collisions. Returns (doc_a = delta id, doc_b = corpus id,
    * jaccard ≥ threshold). Delta×delta pairs are NOT reported: dedup
    * within a batch is [[verifiedPairs]]'s job. `materialize = false`
    * returns the raw lazy plan (plan inspection only). */
  def incrementalMatches(delta: DataFrame, corpus: DataFrame,
                         threshold: Double = 0.7,
                         materialize: Boolean = true): DataFrame = {
    val shD = shingleTable(delta).cache()
    val shC = shingleTable(corpus).cache()
    val cand = bandTable(shD).as("x")
      .join(bandTable(shC).as("y"),
        col("x.b") === col("y.b") && col("x.bh") === col("y.bh"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    verifyIncremental(cand, shD, shC, threshold, materialize)
  }

  /** The persistable LSH band index of `docs` — one (doc_id, b, bh) row
    * per band key, the structure [[incrementalMatchesIndexed]] probes and
    * a production pipeline maintains alongside the corpus (the x33 sink
    * appends each committed batch's rows exactly once). */
  def bandIndex(docs: DataFrame): DataFrame = bandTable(shingleTable(docs))

  /** [[incrementalMatches]] against a PREBUILT [[bandIndex]]: candidates
    * come from one (band, bucket) equi-join of the delta's bands against
    * `index`, and corpus shingle sets are rebuilt ONLY for candidate
    * partners (a doc_id semi-join against `corpus` — candidate
    * multiplicity tracks true matches, the d29 adjudication) — so the
    * per-batch cost is the delta's own minhashing plus candidate-bounded
    * work, never a corpus re-tokenization. Semantics identical to
    * [[incrementalMatches]]: same bands, same exact-Jaccard verify. */
  def incrementalMatchesIndexed(delta: DataFrame, index: DataFrame,
                                corpus: DataFrame, threshold: Double = 0.7,
                                materialize: Boolean = true): DataFrame = {
    val shD = shingleTable(delta).cache()
    indexedProbeFrom(shD, bandTable(shD), index, corpus, threshold,
      materialize)
  }

  /** The shuffle-join delta-vs-index probe over PRECOMPUTED delta
    * shingles/bands — shared by [[incrementalMatchesIndexed]] and the
    * oversized-delta fallback of [[incrementalMatchesIndexedPruned]]
    * (which must not re-minhash the delta it already banded). */
  private def indexedProbeFrom(shD: DataFrame, bandsD: DataFrame,
                               index: DataFrame, corpus: DataFrame,
                               threshold: Double,
                               materialize: Boolean,
                               corpusForIdsDf: DataFrame => DataFrame = null)
      : DataFrame = {
    val candLazy = bandsD.as("x")
      .join(index.as("y"),
        col("x.b") === col("y.b") && col("x.bh") === col("y.bh"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    // pinned: cand feeds BOTH the corpus semi-join (via shC's cache
    // build) and the verification spread — unpinned, the full index
    // equi-join would execute twice per batch, the exact cost the index
    // exists to avoid (the cache boundary blocks exchange reuse)
    val cand = if (materialize) candLazy.localCheckpoint() else candLazy
    val candIds = cand.select(col("doc_b").as("doc_id"))
    // with a distributed id loader, the candidate text rebuild scans only
    // the files whose doc_id sidecars might hold a candidate (superset),
    // re-narrowed to exact candidates by the same delta-scaled semi-join
    // the full-scan shape pays
    val needed =
      if (corpusForIdsDf == null)
        corpus.join(candIds, Seq("doc_id"), "left_semi")
      else corpusForIdsDf(candIds).join(candIds, Seq("doc_id"), "left_semi")
    val shC = shingleTable(needed).cache()
    verifyIncremental(cand, shD, shC, threshold, materialize)
  }

  /** Observability seam: was the most recent
    * [[incrementalMatchesIndexedPruned]] candidate plan free of shuffle
    * exchanges (index streamed, delta broadcast)? The x46 gate reads it. */
  @volatile private[graft] var lastProbeCandShuffleFree: Boolean = false

  /** The SCAN-SCALED [[incrementalMatchesIndexed]] — same bands, same
    * exact-Jaccard verify, but both corpus-sized relations arrive through
    * caller-supplied PRUNED loaders and are joined with the DELTA side
    * broadcast, so the probe neither reads nor shuffles the full index:
    *
    *  - `indexForBands(bhKeys)` loads the band-index rows that might
    *    contain the delta's distinct band hashes (the caller backs it
    *    with [[graft.sources.TxnLake.readKeyed]] — per-file Bloom
    *    sidecars answer "definitely absent" for hash-uniform keys that
    *    min/max stats cannot prune);
    *  - the candidate join streams that pruned index against a BROADCAST
    *    of the delta's bands — zero shuffle exchanges in the candidate
    *    plan (recorded in [[lastProbeCandShuffleFree]]); band-collision
    *    duplicates are deliberately NOT distinct'd here (that would
    *    shuffle the probe) — the checkpointed pair set dedups after;
    *  - `corpusForIds(ids)` loads only the corpus rows that are actual
    *    candidate partners (doc_id-pruned scan), so shingle rebuilds stay
    *    candidate-bounded without an O(corpus) text scan.
    *
    * At a fixed daily delta against a growing corpus this turns the
    * per-batch probe from O(index files read + index shuffle) into
    * O(files that truly share a band hash) — the x39 `vecprune` shape for
    * the text tier. Delta-side driver collects are bounded by the DELTA
    * (4 band keys per doc; candidate ids by true collisions) — the
    * production daily-ingest contract. Beyond the
    * [[graft.plans.ProbePlanner.maxDriverKeys]] bound on band keys
    * (a backfill replaying months at once, a bootstrap wave that IS the
    * corpus) and the caller supplied the DISTRIBUTED loaders, the probe
    * keeps its scan pruning with the membership decision on the
    * executors: `indexForKeysDf(bhDf)` loads the band-index rows whose
    * bh sidecars might contain one of the delta's (distributed) band
    * hashes, and `corpusForIdsDf(idsDf)` the candidate partners' text —
    * no driver collect, no broadcast of a corpus-sized delta, and no
    * full-index scan either (the r16 verdict's ask). Without the
    * loaders the pre-x46 shuffle join against `indexFull`/`corpusFull`
    * remains the fallback — identical semantics either way. */
  def incrementalMatchesIndexedPruned(delta: DataFrame,
                                      indexForBands: Seq[String] => DataFrame,
                                      corpusForIds: Seq[Long] => DataFrame,
                                      indexFull: => DataFrame,
                                      corpusFull: => DataFrame,
                                      threshold: Double = 0.7,
                                      indexForKeysDf: DataFrame => DataFrame = null,
                                      corpusForIdsDf: DataFrame => DataFrame = null): DataFrame = {
    val cap = graft.plans.ProbePlanner.maxDriverKeys(delta.sparkSession)
    val shD = shingleTable(delta).cache()
    // delta bands materialized ONCE: they feed the size probe, the key
    // collect, AND the broadcast build (an unpinned plan would re-minhash
    // the delta for each)
    import graft.plans.JobLabel.labeled
    val sess = delta.sparkSession
    val bandsD = labeled(sess, "neardup:pin-delta-bands") {
      org.apache.spark.sql.GraftCheckpointShim
        .pinWithMeasuredStats(bandTable(shD)) }
    val nBands = labeled(sess, "neardup:band-count") { bandsD.count() }
    if (nBands > cap) {
      lastProbeCandShuffleFree = false
      // distributed-loader regime: prune the index files on the
      // executors, then shrink the candidate join's index side
      // SHUFFLE-FREE with a distributed bloom of the delta's band
      // hashes (driver holds only the sketch; the join's exact b+bh
      // equality absorbs the sketch's false positives)
      val prunedIndex =
        if (indexForKeysDf == null) indexFull
        else {
          val scan = indexForKeysDf(bandsD.select("bh"))
          val sketch = graft.operators.BloomPrune.build(
            bandsD.select(xxhash64(col("bh")).as("__h")), "__h",
            expectedItems = math.max(1L, nBands))
          scan.where(graft.operators.BloomPrune
            .mightContain(sketch, xxhash64(col("bh"))))
        }
      return indexedProbeFrom(shD, bandsD, prunedIndex,
        corpusFull, threshold, materialize = true,
        corpusForIdsDf = corpusForIdsDf)
    }
    val bhKeys = labeled(sess, "neardup:bh-collect") {
      bandsD.select("bh").distinct().collect()
        .map(_.getString(0)).toSeq }
    val candLazy = indexForBands(bhKeys).as("y")
      .join(broadcast(bandsD.as("x")),
        col("x.b") === col("y.b") && col("x.bh") === col("y.bh"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    val cand = labeled(sess, "neardup:pin-candidates") {
      candLazy.localCheckpoint() }
    lastProbeCandShuffleFree = graft.plans.PlanChecks.shuffleFree(candLazy)
    val candIds = cand.select(col("doc_b").as("doc_id")).distinct()
    // candidate partners are true-collision-bounded, but a dup-storm batch
    // can fan out — the SAME unified bound guards the id collect; above
    // it the id membership distributes too (or falls back to the full
    // corpus scan when the caller has no keyed loader)
    val needed =
      if (labeled(sess, "neardup:cand-id-count") { candIds.count() } > cap) {
        val base =
          if (corpusForIdsDf == null) corpusFull else corpusForIdsDf(candIds)
        base.join(candIds, Seq("doc_id"), "left_semi")
      } else {
        val ids = labeled(sess, "neardup:cand-id-collect") {
          candIds.collect().map(_.getLong(0)).toSeq }
        corpusForIds(ids).join(broadcast(candIds), Seq("doc_id"), "left_semi")
      }
    val shC = shingleTable(needed).cache()
    verifyIncremental(cand.distinct(), shD, shC, threshold,
      materialize = true)
  }

  /** Shared exact-Jaccard verification of delta-vs-corpus candidates. */
  private def verifyIncremental(cand: DataFrame, shD: DataFrame,
                                shC: DataFrame, threshold: Double,
                                materialize: Boolean): DataFrame = {
    val jac = graft.expressions.TextExpressions
      .distinctSetJaccard(col("sa"), col("sb"))
    // same verification spread as verifiedPairs: pair rows are 16 bytes,
    // their set-op cost is not — don't let byte-based AQE coalescing
    // serialize a storm batch's probe
    val spread = cand.repartition(
      cand.sparkSession.sessionState.conf.numShufflePartitions)
    val pairs = spread
      .join(shD.select(col("doc_id").as("doc_a"), col("s").as("sa")), Seq("doc_a"))
      .join(shC.select(col("doc_id").as("doc_b"), col("s").as("sb")), Seq("doc_b"))
      .withColumn("jac", jac)
      .filter(col("jac") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 4).as("jaccard"))
    if (!materialize) pairs
    else {
      val pinned = graft.plans.JobLabel.labeled(cand.sparkSession,
        "neardup:pin-verified-pairs") { pairs.localCheckpoint() }
      shD.unpersist(); shC.unpersist()
      pinned
    }
  }
}
