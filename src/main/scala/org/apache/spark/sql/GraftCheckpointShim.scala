package org.apache.spark.sql

import org.apache.spark.sql.classic.{Dataset => CDataset, SparkSession => CSparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Statistics hygiene for iterative DataFrame algorithms (see
  * [[graft.operators.SuffixArray]]).
  *
  * Spark 4's `Dataset.localCheckpoint` rewrites the new LogicalRDD
  * leaf's statistics to the ORIGINAL plan's estimate
  * (`LogicalRDD.rewriteStatsAndConstraints`). For an iterative
  * superstep loop that is quietly catastrophic: size-only join
  * estimation (`SizeInBytesOnlyStatsPlanVisitor.visitJoin`) MULTIPLIES
  * child sizes, and a superstep's inputs are previous checkpoints —
  * so the carried `sizeInBytes` BigInt roughly squares every superstep,
  * its bit length doubling each time. By superstep ~14 (a 10⁵-token
  * document in the suffix tier) the driver spends minutes inside
  * `BigInteger.multiply` merely *evaluating statistics*, observed as a
  * single-core planner stall with Karatsuba/Toom-Cook frames on the
  * main thread.
  *
  * This shim rebuilds a just-checkpointed Dataset's leaf WITHOUT the
  * carried statistics. The planner then falls back to
  * `spark.sql.defaultSizeInBytes` for the leaf — the honest "unknown"
  * answer — and AQE re-plans joins from true runtime sizes, which is
  * exactly the treatment a materialized intermediate of unknowable size
  * should get. Data, partitioning, and ordering are untouched: the same
  * checkpointed RDD backs the result.
  *
  * Lives in the `org.apache.spark.sql` package solely for
  * `Dataset.ofRows` access; everything else is public Spark API.
  */
object GraftCheckpointShim {

  /** `df` must be freshly `localCheckpoint()`ed (its logical plan a
    * [[LogicalRDD]]); any other plan is returned unchanged. */
  def dropCarriedStats(df: Dataset[Row]): Dataset[Row] =
    df.queryExecution.logical match {
      case lr: LogicalRDD =>
        val session = df.sparkSession.asInstanceOf[CSparkSession]
        val clean = new LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
          lr.outputOrdering, lr.isStreaming, lr.stream)(session, None, None)
        CDataset.ofRows(session, clean)
      case _ => df
    }

  /** Pin `df` with MEASURED statistics (optimization round 20, guide
    * §3.1: size estimates after filters/UDFs are often badly wrong —
    * here they are replaced by a measurement, not an estimate).
    *
    * `Dataset.localCheckpoint()` is eager: by the time it returns, every
    * block of the checkpointed RDD sits in the block manager with a known
    * byte size. Carrying that measured size as the leaf's `sizeInBytes`
    * (instead of the carried estimate `dropCarriedStats` rejects, or the
    * "unknown" default it falls back to) lets every downstream join pick
    * its strategy at PLAN time: a genuinely small pinned intermediate
    * broadcasts immediately — no shuffle map stage, no AQE stage job, no
    * MapStatus round-trip — while a large one keeps the exchange exactly
    * as the honest default would. The iterative-superstep pathology the
    * plain shim exists for cannot return: the measured size is a plain
    * long from the block manager, never a product of child estimates.
    *
    * Deserialized in-memory block sizes overstate the serialized
    * broadcast payload, so the threshold comparison errs conservative.
    * Falls back to the unknown-stats leaf when the blocks cannot be
    * found (nothing cached — e.g. a lazy checkpoint). */
  def pinWithMeasuredStats(df: Dataset[Row]): Dataset[Row] =
    withMeasuredStats(df.localCheckpoint())

  /** `ck` (a local checkpoint) with its blocks' measured size as the
    * leaf's statistics — see [[pinWithMeasuredStats]]. A caller whose
    * first job over the pin reads every row anyway pins lazily
    * (`localCheckpoint(eager = false)`), lets that job cache the blocks,
    * and measures them here afterwards: the pin then costs no job. */
  def withMeasuredStats(ck: Dataset[Row]): Dataset[Row] =
    ck.queryExecution.logical match {
      case lr: LogicalRDD =>
        val session = ck.sparkSession.asInstanceOf[CSparkSession]
        val rddId = lr.rdd.id
        val measured = session.sparkContext.getRDDStorageInfo
          .find(_.id == rddId)
          .map(i => math.max(i.memSize + i.diskSize, 1L))
        val stats = measured.map(bytes =>
          org.apache.spark.sql.catalyst.plans.logical.Statistics(
            sizeInBytes = BigInt(bytes)))
        val clean = new LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
          lr.outputOrdering, lr.isStreaming, lr.stream)(session, stats, None)
        CDataset.ofRows(session, clean)
      case _ => ck
    }

  /** A driver-local frame over `rows`, catalyst rows of `schema` — a
    * local relation, so the optimizer evaluates the projections and
    * filters over it without a job. */
  def localFrame(spark: SparkSession, schema: org.apache.spark.sql.types.StructType,
                 rows: Seq[org.apache.spark.sql.catalyst.InternalRow]): Dataset[Row] = {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.catalyst.types.DataTypeUtils
    val session = spark.asInstanceOf[CSparkSession]
    CDataset.ofRows(session,
      LocalRelation(DataTypeUtils.toAttributes(schema), rows.toIndexedSeq))
  }

  /** Drop the cached blocks behind a local checkpoint `ck` once nothing
    * reads it any more (any other plan: nothing to drop). */
  def release(ck: Dataset[Row]): Unit =
    ck.queryExecution.logical match {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
