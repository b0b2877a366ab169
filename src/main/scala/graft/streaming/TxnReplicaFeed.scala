package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.sources.TxnLake

/** Streaming replication consumer over a TxnLake table — the x50 CDC
  * APPLY run CONTINUOUSLY, the lake-native replacement for the
  * reference's overwrite-everything refresh loop
  * (process_silver_to_gold.py:143-150) once the downstream is itself a
  * transactional table: every committed source version is one
  * micro-batch; its change hop ([[TxnLake.tableChanges]], the
  * O(changes-per-commit) walk) becomes a clause-merge batch
  * (`matched AND op='D' → DELETE, matched → UPDATE, not-matched AND
  * op<>'D' → INSERT`) applied to the replica as ONE exactly-once
  * transaction keyed by (appId, version).
  *
  * Offsets are source versions — the log is already a durable, totally
  * ordered offset sequence (the [[TxnCdfFeed]] pattern) — and
  * idempotence lives in the REPLICA's own transaction state: a clause
  * merge is NOT naturally idempotent (re-applying an old batch after a
  * newer one would regress rows), so the replay guard is the
  * SetTransaction marker `txn = (appId, version)` on the merge commit
  * itself, never convergence. A crashed/restarted consumer re-reads
  * [[TxnLake.lastTxn]], replays at most one version, and the replay
  * no-ops at the commit.
  *
  * Maintenance hops (optimize / compaction) emit zero change rows and
  * land as EMPTY marker merges: the offset advances, the replica's
  * data and file layout are untouched — maintenance on the source is
  * observationally invisible downstream, exactly the x40 trust-model
  * property at the replication grain. Version 0 bootstraps from the
  * snapshot (every row an insert); an EMPTY source v0 (or an aged
  * source whose latest snapshot is empty) founds the replica as an
  * empty TYPED table whose marker still lands — the offset must
  * advance even through an empty hop, or every subsequent poll
  * re-pays the founding decision (the fullHistoryLive existence
  * probes) until data appears.
  * Founding against an AGED source — one whose early versions' files
  * were vacuumed, so the v0 replay is impossible (and on a long live
  * log, wasteful) — bootstraps from the LATEST snapshot instead: one
  * O(snapshot) insert merge, marker = latest, only subsequent hops
  * stream. [[TxnLake.fullHistoryLive]] makes the choice; a live
  * history keeps the v0 replay (hop-for-hop replica history).
  *
  * Scale: for append / DML / maintenance hops, per-version cost is the
  * change hop's O(touched files) read plus the clause merge's
  * O(touched + delta) copy-on-write — never O(table) on either side
  * (SCALE.md mode `cdcapply`: flat apply wall, one file rewritten,
  * across 30x replica growth). A SNAPSHOT-REPLACEMENT hop (overwrite,
  * restore) is the exception: it routes through the
  * change feed's snapshot-diff branch — an O(table) source read to
  * derive the diff — though the replica still rewrites only the files
  * the diff's keys scope to, so a daily full refresh whose actual
  * delta is small stays cheap on the replica side.
  *
  * The feed founds its replica COPY-ON-WRITE (deletion vectors off):
  * nothing compacts a replica, and a merge-on-read hop adds one file
  * and rewrites the sidecar of every file it masks, so each hop would
  * scan, mask and log more files than the one before.
  * [[TxnLake.setDeletionVectors]] turns them on for a replica that is
  * optimized.
  *
  * Source SCHEMA EVOLUTION is refused loudly BY DEFAULT, never applied
  * silently (the Delta posture: CDF consumers follow evolution only
  * with autoMerge explicitly on): a hop whose feed carries a column
  * the replica lacks fails the clause engine's unknown-column check
  * and the offset parks just before it — an accidental upstream column
  * (a debug field, half of a misnamed rename) stops replication for
  * review instead of propagating into the replica permanently. Opt in
  * with `followSchema = true` to mirror the source's evolution: the
  * hop applies as an `evolveSchema` merge, the new column joins the
  * replica's log-carried schema, carried replica files null-fill
  * without rewriting, and the replica's narrow history still
  * time-travels (the source's own evolution story, one hop later).
  * Either way a parked consumer resumes exactly where it stopped. */
final class TxnReplicaFeed(source: String, replica: String, appId: String,
                           key: String, followSchema: Boolean = false,
                           maxFilesPerHop: Int = 0,
                           maxVersionsPerPoll: Int = 0) {

  /** Process every source version not yet applied to the replica — one
    * exactly-once clause-merge transaction per version, oldest first.
    * Returns the number of versions newly applied (0 = fully caught
    * up, including after a restart).
    *
    * RATE LIMITS (Delta's maxFilesPerTrigger posture, so a consumer can
    * claim BOUNDED-MEMORY catch-up on any history):
    *  - `maxFilesPerHop` > 0 splits an INSERT-SHAPED hop that exceeds
    *    it — a bootstrap snapshot (v0 replay or aged-source founding)
    *    or a bulk append commit — into file slices of at most that
    *    size, each applied as its OWN exactly-once merge under a slice
    *    marker (`appId#boot<v>@<cap>` / `appId#v<v>@<cap>`, batchId =
    *    slice ordinal — the cap is part of the namespace, so a consumer
    *    restarted with a different cap re-applies convergently instead
    *    of matching ordinals against foreign slice boundaries); the
    *    NORMAL (appId, v) marker lands LAST as an empty
    *    merge, so it is the completion record: a consumer that crashes
    *    mid-hop resumes at the first unapplied slice (earlier slices
    *    replay as marker no-ops) and the offset never advances past a
    *    half-applied hop. The completion commit also GCs the hop's
    *    slice markers (all cap namespaces) from the replica's
    *    cumulative txns map — a long-lived feed's entries stay
    *    O(live consumers), not O(historical slices). DML/maintenance/snapshot-replacement hops are
    *    already O(touched)/O(diff) and apply unsliced.
    *  - `maxVersionsPerPoll` > 0 caps the versions processed per poll:
    *    a consumer waking up to a month of history drains it in bounded
    *    bites, re-polling until 0 versions remain. */
  def poll(spark: SparkSession): Int = {
    val latest = TxnLake.latestVersion(spark, source).getOrElse(return 0)
    var applied = 0
    var stepped = 0
    def budget: Boolean =
      maxVersionsPerPoll <= 0 || stepped < maxVersionsPerPoll
    var v = TxnLake.lastTxn(spark, replica, appId).map(_ + 1).getOrElse {
      if (TxnLake.fullHistoryLive(spark, source)) 0L
      else {
        // founding against an aged source: replay is impossible (early
        // files vacuumed) — one snapshot-insert merge at the latest
        // version, then stream only what commits after it
        if (applySnapshot(spark, latest)) applied += 1
        stepped += 1
        latest + 1
      }
    }
    while (v <= latest && budget) {
      val newlyApplied =
        if (v == 0) applySnapshot(spark, 0L)
        else {
          val (op, adds) = TxnLake.commitAdds(spark, source, v)
          if (op == "append" && maxFilesPerHop > 0
              && adds.size > maxFilesPerHop)
            applySliced(spark, v, adds, s"$appId#v$v")
          else applyHop(spark,
            TxnLake.tableChanges(spark, source, v - 1, v, key)
              .drop("commit_version"), (appId, v),
            // a crashed SLICED run of this hop (under any cap) may have
            // left slice markers; an unsliced resume — cap raised or
            // disabled — must GC them at its completion too, or they
            // orphan in the cumulative map forever
            gcTxnPrefixes = Seq(s"$appId#v$v@"))
        }
      if (newlyApplied) applied += 1
      stepped += 1
      v += 1
    }
    applied
  }

  /** Apply version `v`'s full snapshot as the insert hop — sliced when
    * it exceeds the file cap. */
  private def applySnapshot(spark: SparkSession, v: Long): Boolean = {
    val files = TxnLake.snapshotFiles(spark, source, Some(v)).map(_.path)
    if (maxFilesPerHop > 0 && files.size > maxFilesPerHop)
      applySliced(spark, v, files, s"$appId#boot$v")
    else applyHop(spark,
      TxnLake.readVersion(spark, source, v)
        .withColumn("change_type", lit("insert")), (appId, v),
      // see poll(): an unsliced bootstrap resume GCs a crashed sliced
      // predecessor's boot markers
      gcTxnPrefixes = Seq(s"$appId#boot$v@"))
  }

  /** The job label of the work that reads the source's changes. */
  private val changesLabel =
    s"txn:changes ${new org.apache.hadoop.fs.Path(source).getName}"

  /** Apply an oversized insert hop in `maxFilesPerHop`-file slices,
    * each its own exactly-once merge under `(sliceApp@cap, ordinal)`;
    * the version's NORMAL marker commits last (empty merge) as the
    * completion record. Returns whether the version newly applied
    * (the completion marker's verdict — a replayed hop returns false
    * even if a crashed predecessor left some slices applied).
    *
    * The CAP is part of the slice-marker namespace: slice ordinals are
    * only meaningful under the boundaries that produced them, so a
    * consumer restarted with a DIFFERENT maxFilesPerHop must not match
    * the old run's markers (ordinal 0 of 200-file slices covers files
    * ordinal 0-and-1 of 50-file slices covered — matching it would skip
    * files forever). Under the fresh namespace every slice re-applies;
    * re-inserting rows an earlier cap's slices already landed converges
    * (matched rows update to identical values), so the cross-cap resume
    * is lossless at the price of re-reading the already-applied files.
    *
    * Duplicate source keys refuse BEFORE any slice applies — the
    * unsliced hop refuses them loudly inside the merge (Delta's
    * multiple-matches error), and slicing must not weaken that into
    * silent last-slice-wins when the duplicates straddle a boundary.
    * One column-pruned scan over the hop's files, shuffle-bounded. */
  private def applySliced(spark: SparkSession, v: Long,
                          files: Seq[String], sliceApp: String): Boolean = {
    val dup = graft.plans.JobLabel.labeled(spark, s"$changesLabel dupkeys") {
      TxnLake.readFileSlice(spark, source, v, files)
        .select(col(key)).filter(col(key).isNotNull)
        .groupBy(key).count().filter(col("count") > 1).limit(1).count()
    }
    require(dup == 0,
      s"TxnReplicaFeed: version $v's insert hop carries duplicate " +
        s"'$key' keys across slice boundaries — the unsliced merge " +
        "would refuse this batch (multiple-matches), and slicing must " +
        "not silently apply last-slice-wins")
    val cappedApp = s"$sliceApp@$maxFilesPerHop"
    files.sorted.grouped(maxFilesPerHop).zipWithIndex.foreach {
      case (slice, i) =>
        applyHop(spark,
          TxnLake.readFileSlice(spark, source, v, slice)
            .withColumn("change_type", lit("insert")),
          (cappedApp, i.toLong))
    }
    // completion record: empty batch, txn set — the marker-only merge.
    // It also GARBAGE-COLLECTS the hop's slice markers (every cap
    // namespace `<sliceApp>@…`, a crashed previous run's included):
    // resume never consults slice markers for versions at or below the
    // completed offset, so carrying them in every later entry's
    // cumulative txns map forever would be pure growth (the
    // setTransactionRetentionDuration concern, solved structurally).
    applyHop(spark,
      TxnLake.readVersion(spark, source, v).limit(0)
        .withColumn("change_type", lit("insert")), (appId, v),
      gcTxnPrefixes = Seq(s"$sliceApp@"))
  }

  /** Apply one change hop to the replica as the exactly-once clause
    * merge under `txn`; true iff the merge committed (false = empty
    * hop or replayed marker). */
  private def applyHop(spark: SparkSession,
                       hop: org.apache.spark.sql.DataFrame,
                       txn: (String, Long),
                       gcTxnPrefixes: Seq[String] = Seq.empty): Boolean = {
    import TxnLake.{MergeDelete, MergeInsert, MergeUpdate, sourceCol}
    val cols = hop.columns.filterNot(_ == "change_type").toIndexedSeq
    require(!cols.contains("__op"),
      "TxnReplicaFeed: the source table may not carry a __op column")
    val batch = hop.filter(col("change_type") =!= "update_preimage")
      .select(cols.map(col) :+
        when(col("change_type") === "delete", lit("D")).otherwise(lit("U"))
          .as("__op"): _*)
    val nonKey = cols.filterNot(_ == key)
    val matched =
      if (nonKey.isEmpty) Seq(MergeDelete(Some(sourceCol("__op") === "D")))
      else Seq(MergeDelete(Some(sourceCol("__op") === "D")),
        MergeUpdate(nonKey.map(c => c -> sourceCol(c)).toMap))
    // the merge's pin computes the hop's changes: its jobs keep this label
    graft.plans.JobLabel.labeled(spark, changesLabel) {
      TxnLake.mergeIntoClauses(spark, batch, replica, key,
        matched = matched,
        notMatched = Seq(MergeInsert(cols.map(c => c -> col(c)).toMap,
          Some(col("__op") =!= "D"))),
        txn = Some(txn),
        evolveSchema = followSchema,
        gcTxnPrefixes = gcTxnPrefixes,
        deletionVectors = false).nonEmpty
    }
  }
}
