package graft.tools

import java.nio.file.{Files, Paths}
import graft.GraftSession
import graft.SparkEntry

/** Dev tool: dump formatted physical plans of the headline queries to
  * PLANS.md in the working directory — the `.explain("formatted")`
  * evidence for the plan-shape claims (pushdown, pruning, broadcast,
  * codegen spans) that PlanShapeSpec pins. Generated on demand, not
  * committed.
  * Run: sbt "runMain graft.tools.ExplainDump" */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("4")
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"
    val headline = Seq(
      "q02_filter_range" -> "range filter — predicates must reach the scan (PushedFilters)",
      "q04_star_revenue" -> "star join — dims broadcast, one shuffle join, partial aggregation",
      "q03_latest_order_per_customer" -> "window dedup — single hash exchange on the dedup key",
      "v04_emb_ann_topk" -> "ANN top-k — codegen'd dot product + WindowGroupLimit pushdown",
      "d07_doc_neardup_minhash_lsh" -> "MinHash-LSH — band equi-join, no cross join anywhere",
      "q22_asof_click_error" -> "as-of join — one keyed exchange, no range explosion",
      "d10_doc_neardup_ngram_jaccard" -> "exact Jaccard join — prefix-filtered inverted index, no cross join",
      "q36_salted_skew_agg" -> "salted aggregation — two-phase hash aggregates, no hot-key reducer",
      "x08_bucketed_colocated_join" -> "bucketed join — Bucketed: true scans, no key exchange",
      "q39_grouping_sets" -> "GROUPING SETS — one Expand + hash aggregate, no per-level rescan",
      "q41_incremental_upsert" -> "upsert merge — single full-outer key shuffle, both scans pruned",
      "q42_date_gapfill" -> "gap fill — tiny broadcast grid, one full-data aggregate shuffle",
      "q43_global_topk" -> "global top-k — TakeOrderedAndProject, never a full sort",
      "d17_doc_winnowing_fp" -> "winnowing — one narrow codegen pass, no shuffle before the sort",
      "d19_doc_vocab_oov" -> "vocab+OOV — TakeOrderedAndProject vocab, broadcast probe side",
      "q45_topk_aggregator" -> "typed Aggregator top-K — partial ObjectHashAggregate, K-bounded state",
      "v03_emb_neardup_pairs" -> "banded embedding near-dup — SRP (band,bucket) equi-join, no nested loop",
      "d20_contamination_screen" -> "contamination screen — broadcast benchmark gram set, corpus side streams",
      "d21_pii_scrub" -> "PII scrub — pure per-row codegen map, zero exchanges before the output sort",
      "d23_doc_unigram_surprisal" -> "unigram surprisal — one term shuffle, broadcast vocab probe",
      "x16_pq_adc_ann" -> "PQ-ADC ANN — broadcast LUT equi-join on (subspace, code), no corpus×corpus",
      "x17_table_profile" -> "table profile — ONE scan feeds every per-column statistic",
      "q47_scd2_intervals" -> "SCD2 intervals — lag + lead share a single user_id shuffle",
      "d30_doc_bigram_surprisal" -> "bigram surprisal — gram-keyed count shuffles, probe join left to AQE",
      "d31_quality_classifier" -> "hashed-model scoring — zero exchanges, model baked into the row expression",
      "d33_doc_seq_packing" -> "sequence packing — two-pass prefix sum + bounded explode, no single-reducer window",
      "q48_earthquake_pipeline" -> "end-to-end pipeline fact — every dim join broadcast, fact side never shuffles for joins",
      "d34_weighted_priority_sample" -> "priority sampling — TakeOrderedAndProject top-k, no corpus sort/shuffle",
      "d35_hybrid_rrf" -> "hybrid RRF — seeds broadcast in both towers, one token equi-join + one cosine scan",
      "d36_length_batching" -> "length batching — two prefix-sum towers, no single-reducer corpus window",
      "q49_event_funnel" -> "event funnel — every stage join keyed on user_id, scalar-count assembly",
      "q50_cohort_retention" -> "cohort retention — user_id-keyed aggregates, cohort-size side broadcast",
      "x26_incremental_mv" -> "incremental MV — CDF deltas fold into the v0 aggregate, cost scales with changes",
      "v10_ann_recall_eval" -> "ANN recall eval — two bounded result sets joined on (query, neighbor)",
      "d38_lsh_recall_eval" -> "LSH recall eval — PPJoin truth vs banded candidates, pair-keyed equi-join",
      "d42_epoch_shard_plan" -> "epoch sharding — ONE (epoch, shard) hash exchange serves window + census",
      "d43_doc_dedup_survivors" -> "dedup survivors — survivor window runs over the pair-sized cluster graph (checkpoint scan), never the corpus",
      "d45_doc_unicode_scrub" -> "unicode scrub — native NFC expression + builtin strip, zero exchanges before the output sort",
      "d44_doc_containment" -> "containment join — rarest-first probe prefix × full inverted index equi-join, no cross join",
      "v11_kmeans_clusters" -> "k-means — centroids inline as literals (pure-map argmin), vectors never shuffle",
      "x31_image_phash_dedup" -> "image phash dedup — per-row decode+hash, (band, value) equi-join candidates, no cross join",
      "d46_surprisal_bucket_mix" -> "surprisal bucket mix — prefix-sum quartile ranks, broadcast vocab probe, no single-reducer window",
      "d47_curation_pipeline" -> "composed curation pipeline — lazy tail only (upstream stages pin at checkpoint/cache boundaries); shard window partitioned by (epoch, shard)",
      "d48_suffix_lrs" -> "suffix-array LRS — doubling supersteps pin at checkpoints; tail is sa window → adjacency equi-join → broadcast L → span census, no pair cross join",
      "d49_neardup_capped_lsh" -> "mega-bucket-guarded LSH — bucket-keyed window sizes buckets, small buckets equi-join pairs, oversized buckets emit a linear representative star",
      "d50_doc_novelty" -> "n-gram novelty — gram→min(doc) map-side-combined shuffle, join back reuses the gram partitioning, doc-keyed rollup",
      "v12_emb_jl_rerank_ann" -> "JL projection ANN — 16-row Rademacher matrix broadcast, one corpus scan projects, coarse pass scores 16-d, exact math on |Q|*50 candidates",
      "d51_exact_substring_dedup" -> "exact-substring dedup — lazy tail: lmax side-joins on sa_pos → start/token join → per-doc running-max mask window → doc-keyed rebuild; no pair build, no span explode",
      "d52_trained_quality_inference" -> "frozen trained-LR scoring — zero exchanges before the output sort, weights baked into one codegen'd per-token fold",
      "d53_bench_decontaminate" -> "bench decontamination — lazy tail: boundary equi-join on sa_pos → bucket-keyed prefix-count windows + broadcast offsets → run-keyed semi-join → per-doc mask window → rebuild; the only unpartitioned window runs over bucket totals",
      "d54_token_budget_select" -> "token-budget selection — composite-key (quality, doc_id) range-partitioned weighted cumsum (no okey id ceiling), single-partition exchanges carry only partition totals + the 1-row budget")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of headline queries\n\n")
    sb.append("Generated by `graft.tools.ExplainDump` at sf0.001. What to look for\n")
    sb.append("is noted per query; PlanShapeSpec pins these properties in CI.\n")
    // queries that materialize internally would dump as a bare checkpoint
    // scan — substitute the raw lazy plan the materialization executes
    val rawOverrides: Map[String, org.apache.spark.sql.DataFrame] = Map(
      "d10_doc_neardup_ngram_jaccard" -> graft.operators.JaccardJoin
        .exactPairs(graft.sources.Tables.documents(spark, dir), 0.8,
          materialize = false),
      "d07_doc_neardup_minhash_lsh" -> graft.operators.MinHashDedup
        .verifiedPairs(graft.sources.Tables.documents(spark, dir), 0.7,
          materialize = false),
      "d44_doc_containment" -> graft.operators.JaccardJoin
        .containmentPairs(graft.sources.Tables.documents(spark, dir), 0.9,
          materialize = false),
      "d51_exact_substring_dedup" -> graft.operators.SuffixArray
        .removeRepeatedSpans(graft.functions.TextFunctions
          .canonSurvivorToks(graft.sources.Tables.documents(spark, dir)), 50),
      "d53_bench_decontaminate" -> {
        import org.apache.spark.sql.functions.col
        graft.operators.SuffixArray.removeSharedSpans(
          graft.sources.Tables.documents(spark, dir)
            .select(col("doc_id"),
              graft.functions.TextFunctions.tokens(col("text")).as("toks")),
          col("doc_id") % 40 === 0, 13)
      },
      "x16_pq_adc_ann" -> {
        import org.apache.spark.sql.functions.col
        import graft.operators.ProductQuantization
        val emb = graft.sources.Tables.embeddings(spark, dir)
          .select(col("vec_id"), col("label"),
            graft.functions.VectorFunctions.toDouble(col("embedding")).as("v"))
        val cb = ProductQuantization.codebook(emb)
        val dists = ProductQuantization.subspaceDistances(emb, cb)
        ProductQuantization.adcTopK(
          ProductQuantization.encode(dists), dists.filter(col("vec_id") < 5), 10)
      })
    headline.foreach { case (name, note) =>
      val df = rawOverrides.getOrElse(name, SparkEntry.queries(name)(spark, dir))
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $name\n\n_${note}_\n\n```\n$plan```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"[explain] wrote PLANS.md (${headline.size} queries)")
    spark.stop()
  }
}
