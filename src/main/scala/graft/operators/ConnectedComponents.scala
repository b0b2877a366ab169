package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Minimum-label propagation connected components over an undirected edge
  * list — the canonical last step of near-duplicate detection: pair edges
  * (A~B, B~C) collapse into clusters so one canonical document survives
  * per component, not merely per pair.
  *
  * Pregel-style supersteps: every node starts labeled with its own id;
  * each round every node takes the min of its label and its neighbors'
  * labels; stop when a round changes nothing. Each superstep is a
  * distributed join+aggregate (shuffled on node id); the only driver-side
  * value per round is the scalar converged-check. `localCheckpoint`
  * truncates the growing lineage so round N doesn't replay rounds 1..N-1.
  * Rounds needed = graph diameter in label-hops (≤ log for typical dedup
  * graphs of small dense clusters).
  *
  * Storage: the (typically expensive) pair-producing plan is materialized
  * exactly once up front, and every intermediate checkpoint is freed as
  * soon as the next round lands — a session running this repeatedly keeps
  * only the final labels' blocks ([[CheckpointUtils]]).
  */
object ConnectedComponents {

  /** Components of the undirected graph given by (src, dst) pairs.
    * Returns one row per node: (id, cluster_id) where cluster_id is the
    * smallest node id in the component — a deterministic canonical
    * representative.
    *
    * `graphPartitions` sizes the superstep shuffles: the pair graph of a
    * dedup run is orders of magnitude smaller than the corpus that
    * produced it, so supersteps should run at the graph's scale, not the
    * corpus scan's `spark.sql.shuffle.partitions`.
    *
    * Skew defense: every superstep hashes on node id, so a power-law
    * graph (web-scale dedup clusters) hot-keys the star centers — one
    * reducer owns the hub's whole adjacency every round. The edge list is
    * static across supersteps, so the skew census runs ONCE: if any
    * single source key owns ≥ `skewMinFraction` of the directed edges,
    * both per-round joins (neighbor propagation on id, pointer jumping on
    * label — the latter concentrates as components converge) run through
    * [[SkewUtils.saltedJoin]] with `skewSalt` buckets. Row-identical
    * either way; the salted path trades `skewSalt`× replication of the
    * one-row-per-key side for never having a straggler partition. */
  def components(pairs: DataFrame, src: String = "src", dst: String = "dst",
                 graphPartitions: Int = 4, skewSalt: Int = 8,
                 skewMinFraction: Double = 0.25): DataFrame = {
    require(graphPartitions > 0)
    val spark = pairs.sparkSession
    // The pair-producing plan is corpus-scale and must run at the
    // session's partitioning, so it materializes exactly once BEFORE the
    // shuffle width narrows. (A lazy cache() here would let the two union
    // branches race on an unpopulated cache and execute the expensive
    // upstream twice.) The supersteps then run at the GRAPH's scale: every
    // join/agg inside the loop shuffles, and the session-wide partition
    // count multiplies per-superstep task overhead ~8x on a pair graph
    // orders of magnitude smaller than the corpus. The width is restored
    // after — the returned plan is a checkpoint scan, so callers' own
    // shuffles are unaffected.
    val fwd = pairs.select(col(src).as("e_src"), col(dst).as("e_dst"))
      .localCheckpoint()
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", graphPartitions)
    try componentsLoop(fwd, graphPartitions, skewSalt, skewMinFraction)
    finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
  }

  /** Fraction of directed edges owned by the single hottest source key —
    * the one-time skew census (tiny aggregate at graph scale). */
  private[operators] def hottestSourceFraction(edges: DataFrame): Double = {
    val r = edges.groupBy("e_src").agg(count(lit(1)).as("deg"))
      .agg(max(col("deg")).as("mx"), sum(col("deg")).as("ne")).head()
    if (r.isNullAt(1) || r.getLong(1) == 0L) 0.0
    else r.getLong(0).toDouble / r.getLong(1)
  }

  private def componentsLoop(fwd: DataFrame, graphPartitions: Int,
                             skewSalt: Int, skewMinFraction: Double): DataFrame = {
    val edges = fwd
      .union(fwd.select(col("e_dst").as("e_src"), col("e_src").as("e_dst")))
      .distinct()
      .repartition(graphPartitions, col("e_src"))
      .localCheckpoint() // probed every superstep
    CheckpointUtils.unpersistBacking(fwd) // edges now holds everything
    val salted = skewSalt > 1 && hottestSourceFraction(edges) >= skewMinFraction
    var ckpt = edges.select(col("e_src").as("id")).distinct()
      .withColumn("lbl", col("id"))
      .repartition(graphPartitions, col("id"))
      .localCheckpoint()
    var labels = ckpt
    var changed = 1L
    while (changed > 0) {
      // neighbor-min: the propagation step. The min() agg is safe from the
      // hub (map-side partial combine); the JOIN on e_src is what salting
      // defends — unsalted, the hub's whole adjacency lands on one reducer.
      val lblAsSrc = labels.select(col("id").as("e_src"), col("lbl"))
      val nbrMin = (if (salted)
          SkewUtils.saltedJoin(edges, lblAsSrc, Seq("e_src"), skewSalt)
        else edges.join(lblAsSrc, Seq("e_src")))
        .groupBy(col("e_dst").as("id"))
        .agg(min(col("lbl")).as("nbr_lbl"))
      // pointer jumping: also adopt the label OF my label (path
      // compression) — turns O(diameter) rounds into O(log diameter);
      // a 20-hop chain converges in ~5 supersteps instead of 20. As the
      // component converges the lbl key concentrates on the min id, so
      // this join inherits the hub's skew — same defense.
      val jump = labels.select(col("id").as("lbl"), col("lbl").as("j_lbl"))
      val withNbr = labels.join(nbrMin, Seq("id"), "left")
      val step = (if (salted)
          SkewUtils.saltedJoin(withNbr, jump, Seq("lbl"), skewSalt, "left")
        else withNbr.join(jump, Seq("lbl"), "left"))
        .select(col("id"), col("lbl"),
          least(col("lbl"),
            coalesce(col("nbr_lbl"), col("lbl")),
            coalesce(col("j_lbl"), col("lbl"))).as("new_lbl"))
        .localCheckpoint()
      // Convergence probe: a plain count over the materialized checkpoint —
      // partial counts per partition, one-row final exchange, completes
      // without touching the LISTENER bus. Two deliberate non-choices:
      // observe()+Observation.get rode the checkpoint job itself, but get()
      // blocks on a QueryExecutionListener that sits BEHIND the session's
      // event backlog — after a run of heavy queries the wait routinely
      // exceeded the superstep's own cost (2.7 s → 7.5 s on the full
      // registry bench); and filter(...).limit(1).count() plans a
      // GlobalLimit, which forces a single-partition EXCHANGE per probe —
      // a real shuffle where the count's one-row-per-partition agg is
      // effectively free.
      changed = step.filter(col("new_lbl") < col("lbl")).count()
      CheckpointUtils.unpersistBacking(ckpt) // step is materialized; free round N-1
      ckpt = step
      labels = step.select(col("id"), col("new_lbl").as("lbl"))
    }
    CheckpointUtils.unpersistBacking(edges) // returned plan reads only final labels
    labels.select(col("id"), col("lbl").as("cluster_id"))
  }
}
