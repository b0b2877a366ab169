package graft.jobs

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.KnownNullable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.ColumnBridge
import graft.model.EarthquakeSchemas
import graft.plans.JobLabel
import graft.run.Concurrently

/** Silver → Gold: star-schema dimensional modeling
  * (re-expresses `scripts/process_silver_to_gold.py`).
  *
  * Deviations from the reference, per SURVEY §4.3:
  *  - DimDate is built engine-side with sequence+explode instead of a
  *    driver-side Python loop (s2g:61-78) — O(days) inside the engine;
  *  - surrogate keys are `xxhash64(natural key)` instead of
  *    `monotonically_increasing_id` (s2g:86,101,106), which is
  *    nondeterministic across runs/partitionings. xxhash64 is stable,
  *    distributed (no global ordering shuffle), and keys stay opaque —
  *    star-schema semantics unchanged;
  *  - the fact has no `dropDuplicates(["EventID"])` (s2g:139): silver's
  *    `event_id` is already unique.
  *
  * Scale: each dim is a distinct (one shuffle each, AQE-coalesced); the fact
  * computes its dim keys from silver's natural keys instead of joining the
  * dims back, so it does not shuffle. Silver is cached once and the five
  * table writes overlap.
  */
object SilverToGold {

  /** DimDate spanning [min(event ts), max(event ts) + 30 days]
    * (ref: process_silver_to_gold.py:52-78). */
  def dimDate(silver: DataFrame): DataFrame = {
    val fd = col("FullDate")
    silver
      .agg(min(to_date(col("event_timestamp_utc"))).as("mn"),
           date_add(max(to_date(col("event_timestamp_utc"))), 30).as("mx"))
      .select(explode(sequence(col("mn"), col("mx"))).as("FullDate"))
      .select(
        date_format(fd, "yyyyMMdd").cast("int").as("DateKey"),
        fd.as("FullDate"),
        year(fd).as("Year"),
        quarter(fd).as("Quarter"),
        month(fd).as("Month"),
        date_format(fd, "MMMM").as("MonthName"),
        dayofmonth(fd).as("DayOfMonth"),
        dayofweek(fd).as("DayOfWeek"),
        date_format(fd, "EEEE").as("DayName"),
        dayofweek(fd).isin(1, 7).as("IsWeekend"))
  }

  /** Distinct-location dimension with stable surrogate key
    * (ref: process_silver_to_gold.py:82-86). */
  def dimLocation(silver: DataFrame): DataFrame =
    silver
      .select(col("latitude"), col("longitude"), col("place"),
        col("extracted_country").as("ExtractedCountry"),
        col("extracted_region_detail").as("ExtractedRegionDetail"),
        col("hemisphere_ns").as("HemisphereNS"),
        col("hemisphere_ew").as("HemisphereEW"))
      .distinct()
      .withColumn("LocationKey",
        xxhash64(col("latitude"), col("longitude"), col("place")))

  /** Static 8-row magnitude-band dimension, including the NULL-band
    * "Unknown" row (ref: process_silver_to_gold.py:90-101). Band bounds
    * match the reference exactly (disjoint .9 uppers); Description text is
    * our own English phrasing (the reference's is Spanish prose — a display
    * attribute no query or relationship touches). */
  def dimMagnitude(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("Micro", Some(-2.0), Some(2.9), "Usually not felt"),
      ("Minor", Some(3.0), Some(3.9), "Often felt, rarely causes damage"),
      ("Light", Some(4.0), Some(4.9), "Noticeable shaking, minor damage"),
      ("Moderate", Some(5.0), Some(5.9), "Can damage poorly built structures"),
      ("Strong", Some(6.0), Some(6.9), "Damage in populated areas"),
      ("Major", Some(7.0), Some(7.9), "Serious widespread damage"),
      ("Great", Some(8.0), Some(10.0), "Severe destruction"),
      ("Unknown", None, None, "Magnitude not determined"))
      .toDF("MagnitudeCategory", "MinMagnitude", "MaxMagnitude", "Description")
      .withColumn("MagnitudeKey", xxhash64(col("MagnitudeCategory")))
  }

  /** Distinct (event_type, magType) dimension (ref: process_silver_to_gold.py:105-106). */
  def dimEventType(silver: DataFrame): DataFrame =
    silver
      .select(col("event_type").as("EventType"), col("magType").as("MagType"))
      .distinct()
      .withColumn("EventTypeKey", xxhash64(col("EventType"), col("MagType")))

  /** Fact assembly: DateKey derivation + the three dimension keys + final
    * projection (ref: process_silver_to_gold.py:112-139). The reference
    * joins each dim back by natural key; here every surrogate key is
    * `xxhash64` of that natural key, so it is computed straight from the
    * silver row and nothing joins. The filter is the reference's inner-join
    * drop rule: a row with a NULL in any natural key finds no dim row, so
    * NULL magType rows drop — intentional reference semantics (SURVEY
    * §7.5.4). `xxhash64` hashes -0.0 and 0.0 alike, as the join's equality
    * matches them, so the keys equal the ones the dims carry. No dedup:
    * silver is written by `BronzeToSilver.run`, whose `dedupLatest` keeps
    * one row per `event_id`, so `EventID` is already unique. */
  def factEarthquakeEvents(silver: DataFrame): DataFrame = {
    // the surrogate keys are never null, but the gold fact's schema,
    // which its readers see, marks them nullable
    def nullable(c: Column): Column =
      ColumnBridge.column(KnownNullable(ColumnBridge.expression(c)))
    silver
      .filter(Seq("latitude", "longitude", "place", "magnitude_category", "event_type",
        "magType").map(col(_).isNotNull).reduce(_ && _))
      .select(
        col("event_id").as("EventID"),
        date_format(col("event_timestamp_utc"), "yyyyMMdd").cast("int").as("DateKey"),
        nullable(xxhash64(col("latitude"), col("longitude"), col("place")))
          .as("LocationKey"),
        nullable(xxhash64(col("magnitude_category"))).as("MagnitudeKey"),
        nullable(xxhash64(col("event_type"), col("magType"))).as("EventTypeKey"),
        col("event_timestamp_utc").as("EventTimestamp"),
        col("magnitude").as("Magnitude"),
        col("depth_km").as("DepthKm"),
        col("significance").as("Significance"),
        col("felt_reports").as("FeltReports"),
        col("nst_stations").as("NstStations"),
        col("rms_travel_time").as("RmsTravelTime"),
        col("gap_azimuthal").as("GapAzimuthal"),
        col("tsunami_warning").as("TsunamiWarning"),
        col("latitude"), col("longitude"),
        current_timestamp().as("GoldProcessingTimestamp"))
  }

  /** All six gold tables from a silver DataFrame. */
  def buildAll(spark: SparkSession, silver: DataFrame): Map[String, DataFrame] =
    Map(
      "dim_date" -> dimDate(silver),
      "dim_location" -> dimLocation(silver),
      "dim_magnitude" -> dimMagnitude(spark),
      "dim_event_type" -> dimEventType(silver),
      "fact_earthquake_events" -> factEarthquakeEvents(silver))

  /** End-to-end job: silver scan → star schema → warehouse sink
    * (overwrite = BigQuery full-table-replace semantics, SURVEY §2.1 S7).
    * The five table writes are independent, so they run concurrently;
    * the returned tables read back with the schemas just written. An
    * empty silver writes nothing and returns no table. */
  def run(spark: SparkSession, silverPath: String, goldPath: String,
          lake: graft.sources.LakeFormat = graft.sources.ParquetLake): Map[String, DataFrame] = {
    val warehouse = new graft.sources.ParquetWarehouse(goldPath)
    // cache: every table write re-executes the silver lineage otherwise
    // (the reference re-runs it 5×, SURVEY §4.3.1)
    val silver = lake.read(spark, silverPath, EarthquakeSchemas.silverSchema).cache()
    try {
      // one count both fills the cache and probes for emptiness; filled
      // before the fan-out, so the writers do not queue on the same blocks
      if (JobLabel.labeled(spark, "s2g:silver")(silver.count()) == 0) Map.empty
      else {
        val tables = buildAll(spark, silver)
        Concurrently(spark)(tables.toSeq.map { case (name, df) =>
          () => JobLabel.labeled(spark, s"s2g:$name")(warehouse.writeTable(df, name))
        }: _*)
        tables.map { case (name, df) => name -> warehouse.readTable(spark, name, df.schema) }
      }
    } finally silver.unpersist()
  }
}
