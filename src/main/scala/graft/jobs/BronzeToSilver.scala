package graft.jobs

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.EarthquakeSchemas
import graft.plans.JobLabel

/** Bronze → Silver: flatten the GeoJSON FeatureCollection, cast, validate,
  * dedup latest-update-wins, enrich. Re-expresses
  * `scripts/process_bronze_to_silver.py` (ref lines cited per stage) as
  * composable `DataFrame => DataFrame` stages — one lazy Catalyst plan,
  * single shuffle (the event_id window), no driver-side state.
  *
  * Scale: the explode + projections + filter are narrow (pipelined into one
  * whole-stage-codegen span over the scan); the only exchange is
  * hash-partition by event_id for the dedup window, which AQE coalesces.
  * Output is partitioned by (year, month) for downstream partition pruning.
  */
object BronzeToSilver {

  /** Explode features[] and project nested fields ×21 + coordinates
    * (ref: process_bronze_to_silver.py:46-74). */
  def flatten(bronze: DataFrame): DataFrame = {
    val f = col("feature")
    bronze
      .select(explode(col("features")).as("feature"))
      .select(
        f.getField("id").as("event_id_raw"),
        f.getField("properties").getField("mag").as("mag"),
        f.getField("properties").getField("place").as("place_raw"),
        f.getField("properties").getField("time").as("time"),
        f.getField("properties").getField("updated").as("updated"),
        f.getField("properties").getField("url").as("url_raw"),
        f.getField("properties").getField("felt").as("felt"),
        f.getField("properties").getField("cdi").as("cdi"),
        f.getField("properties").getField("mmi").as("mmi"),
        f.getField("properties").getField("alert").as("alert_raw"),
        f.getField("properties").getField("status").as("status_raw"),
        f.getField("properties").getField("tsunami").as("tsunami"),
        f.getField("properties").getField("sig").as("sig"),
        f.getField("properties").getField("net").as("net"),
        f.getField("properties").getField("code").as("code"),
        f.getField("properties").getField("nst").as("nst"),
        f.getField("properties").getField("dmin").as("dmin"),
        f.getField("properties").getField("rms").as("rms"),
        f.getField("properties").getField("gap").as("gap"),
        f.getField("properties").getField("magType").as("magType_raw"),
        f.getField("properties").getField("type").as("type_raw"),
        f.getField("properties").getField("title").as("title_raw"),
        f.getField("geometry").getField("coordinates").getItem(0).as("longitude"),
        f.getField("geometry").getField("coordinates").getItem(1).as("latitude"),
        f.getField("geometry").getField("coordinates").getItem(2).as("depth_km"))
  }

  /** Casts + renames into the silver contract names
    * (ref: process_bronze_to_silver.py:84-100). Epoch-millis → timestamp via
    * double division so fractional seconds survive (SURVEY §7.5.3). */
  def cleanCast(df: DataFrame): DataFrame =
    df.select(
      col("event_id_raw").as("event_id"),
      (col("time") / 1000).cast("timestamp").as("event_timestamp_utc"),
      (col("updated") / 1000).cast("timestamp").as("updated_timestamp_utc"),
      col("mag").cast("double").as("magnitude"),
      col("depth_km").cast("double").as("depth_km"),
      col("latitude").cast("double").as("latitude"),
      col("longitude").cast("double").as("longitude"),
      col("sig").cast("int").as("significance"),
      col("felt").cast("int").as("felt_reports"),
      col("nst").cast("int").as("nst_stations"),
      col("rms").cast("double").as("rms_travel_time"),
      col("gap").cast("double").as("gap_azimuthal"),
      (col("tsunami") === 1).cast("boolean").as("tsunami_warning"),
      col("type_raw").as("event_type"),
      col("magType_raw").as("magType"),
      col("alert_raw").as("alert"),
      col("status_raw").as("status"),
      col("url_raw").as("url"),
      col("title_raw").as("title"),
      col("place_raw").as("place"))

  /** Conjunctive range-validation filter — silently drops out-of-band rows
    * (ref: process_bronze_to_silver.py:103-109). */
  def validate(df: DataFrame): DataFrame =
    df.filter(
      col("event_id").isNotNull &&
      col("event_timestamp_utc").isNotNull &&
      col("magnitude").isNotNull && col("magnitude").between(-2.0, 10.0) &&
      col("latitude").isNotNull && col("latitude").between(-90.0, 90.0) &&
      col("longitude").isNotNull && col("longitude").between(-180.0, 180.0) &&
      col("depth_km").isNotNull && col("depth_km") >= 0.0 && col("depth_km") < 1000.0)

  /** Latest-update-wins dedup (ref: process_bronze_to_silver.py:112-113),
    * tightened with a deterministic secondary sort (SURVEY §7.5.2). */
  def dedupLatest(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_id"))
      .orderBy(col("updated_timestamp_utc").desc, col("event_timestamp_utc").desc)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** 7-way magnitude banding (ref: process_bronze_to_silver.py:119-126). */
  def magnitudeCategory(mag: Column): Column =
    when(mag < 3.0, "Micro").when(mag < 4.0, "Minor").when(mag < 5.0, "Light")
      .when(mag < 6.0, "Moderate").when(mag < 7.0, "Strong").when(mag < 8.0, "Major")
      .otherwise("Great")

  /** 3-way depth banding (ref: process_bronze_to_silver.py:127-130). */
  def depthCategory(depth: Column): Column =
    when(depth <= 70.0, "Shallow").when(depth <= 300.0, "Intermediate").otherwise("Deep")

  /** Region after the first ", " — greedy group to end of string
    * (ref: process_bronze_to_silver.py:138, SURVEY §7.5.5). */
  private val regionRegex = ",\\s*(.*)$"

  /** Derived/enrichment columns (ref: process_bronze_to_silver.py:118-142). */
  def enrich(df: DataFrame): DataFrame = {
    val region = trim(regexp_extract(col("place"), regionRegex, 1))
    df
      .withColumn("magnitude_category", magnitudeCategory(col("magnitude")))
      .withColumn("depth_category", depthCategory(col("depth_km")))
      .withColumn("hemisphere_ns", when(col("latitude") >= 0, "Northern").otherwise("Southern"))
      .withColumn("hemisphere_ew", when(col("longitude") >= 0, "Eastern").otherwise("Western"))
      .withColumn("year", year(col("event_timestamp_utc")))
      .withColumn("month", month(col("event_timestamp_utc")))
      .withColumn("day", dayofmonth(col("event_timestamp_utc")))
      .withColumn("hour", hour(col("event_timestamp_utc")))
      .withColumn("day_of_week", dayofweek(col("event_timestamp_utc")))
      .withColumn("extracted_region_detail", region)
      .withColumn("extracted_country",
        when(region =!= "", region).otherwise(trim(col("place"))))
      .withColumn("silver_processing_timestamp_utc", current_timestamp())
  }

  /** Full bronze→silver transform (pure, testable — no IO). */
  def transform(bronze: DataFrame): DataFrame =
    enrich(dedupLatest(validate(cleanCast(flatten(bronze)))))

  /** End-to-end job: JSON scan → transform → parquet partitioned by
    * (year, month) with overwrite semantics (ref: b2s:38,146; Delta swapped
    * for parquet per SURVEY §7.3 — no delta jars in this environment).
    * Silver reads back with its known schema, so a day with no events
    * writes and returns zero rows of that schema. */
  def run(spark: SparkSession, bronzePath: String, silverPath: String,
          multiLine: Boolean = false,
          lake: graft.sources.LakeFormat = graft.sources.ParquetLake): DataFrame = {
    val bronze = spark.read
      .option("multiLine", multiLine)
      .schema(EarthquakeSchemas.bronzeSchema)
      .json(bronzePath)
    JobLabel.labeled(spark, "b2s:write") {
      lake.write(transform(bronze), silverPath, Seq("year", "month"))
    }
    lake.read(spark, silverPath, EarthquakeSchemas.silverSchema)
  }
}
