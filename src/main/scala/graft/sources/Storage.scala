package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Storage abstractions decoupling the pipeline from concrete formats
  * (SURVEY §7.3): the reference writes Delta on GCS and BigQuery tables;
  * this environment has neither connector, so the default implementations
  * are partitioned parquet — chosen because parquet preserves every
  * observable semantic the reference exercises (overwrite snapshots,
  * partition pruning on year/month, full-table-replace warehouse loads)
  * minus Delta's ACID log, which nothing in the reference reads.
  *
  * Swapping in Delta/BigQuery on a real cluster is a one-line format
  * change behind these traits; job code does not change.
  */
trait LakeFormat {
  def write(df: DataFrame, path: String, partitionBy: Seq[String]): Unit
  /** Read with the schema the caller wrote (partition columns last), so
    * the scan infers nothing and an empty table reads as zero rows of it. */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame
}

/** Warehouse table sink with the reference's overwrite (full replace)
  * semantics (ref: process_silver_to_gold.py:143-150). */
trait WarehouseSink {
  def writeTable(df: DataFrame, table: String): Unit
  def readTable(spark: SparkSession, table: String): DataFrame
}

/** Parquet lake: overwrite snapshots partitioned for pruning
  * (ref: process_bronze_to_silver.py:146's partitionBy(year, month)). */
object ParquetLake extends LakeFormat {
  def write(df: DataFrame, path: String, partitionBy: Seq[String]): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(path)
}

/** Local warehouse: one parquet directory per table under a root.
  *
  * Writes are STAGED — the reference's indirect BigQuery load (ref
  * process_silver_to_gold.py:143-150: job output lands in a staging
  * bucket, the warehouse load step swaps it into the table): data is
  * fully written to a scratch dir first, then swapped in by rename, so a
  * concurrent reader sees the previous table or the new one, never a
  * half-written mix, and a failed write leaves the live table untouched. */
final class ParquetWarehouse(root: String) extends WarehouseSink {
  def writeTable(df: DataFrame, table: String): Unit = {
    val dst = new org.apache.hadoop.fs.Path(s"$root/$table")
    val fs = dst.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val salt = java.util.UUID.randomUUID().toString.take(8)
    val staging = new org.apache.hadoop.fs.Path(s"$root/_staging/$table-$salt")
    df.write.mode("overwrite").parquet(staging.toString)
    val aside = new org.apache.hadoop.fs.Path(s"$root/_staging/$table-$salt-old")
    if (fs.exists(dst)) fs.rename(dst, aside)
    fs.mkdirs(dst.getParent)
    if (!fs.rename(staging, dst)) {
      // restore the previous table rather than leaving none
      if (fs.exists(aside)) fs.rename(aside, dst)
      sys.error(s"ParquetWarehouse: failed to publish $table")
    }
    fs.delete(aside, true)
  }
  def readTable(spark: SparkSession, table: String): DataFrame =
    spark.read.parquet(s"$root/$table")
  /** [[readTable]] with the schema the table was written with: no
    * footer-inference job. */
  def readTable(spark: SparkSession, table: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(s"$root/$table")
}

/** Lake maintenance: small-file compaction (the `OPTIMIZE` analog).
  * Incremental ingest — especially streaming `AvailableNow` micro-batches —
  * accumulates files far below the ~128 MB a scan wants per task; at
  * 100 TB the file-listing and per-file open overhead dominates the read.
  * Rewrites a flat parquet dir into `ceil(bytes / targetBytes)` files and
  * atomically swaps it into place (write to scratch, rename aside, rename
  * in — readers see the old or the new snapshot, never a mix). */
object Compaction {
  def compact(spark: SparkSession, dir: String,
              targetBytes: Long = 128L * 1024 * 1024): Int = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataFiles = fs.listStatus(path)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val totalBytes = dataFiles.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    if (dataFiles.length <= nOut) return dataFiles.length // nothing to gain
    val scratch = s"${dir}_compact_tmp"
    spark.read.parquet(dir).repartition(nOut)
      .write.mode("overwrite").parquet(scratch)
    val aside = new org.apache.hadoop.fs.Path(s"${dir}_compact_old")
    fs.delete(aside, true)
    fs.rename(path, aside)
    fs.rename(new org.apache.hadoop.fs.Path(scratch), path)
    fs.delete(aside, true)
    nOut
  }
}
