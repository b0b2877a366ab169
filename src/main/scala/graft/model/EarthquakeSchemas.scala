package graft.model

import org.apache.spark.sql.types._

/** Explicit schemas for the earthquake pipeline's layers.
  *
  * Bronze mirrors the USGS GeoJSON FeatureCollection the reference ingests
  * (ref: cloud_function/main.py:64-70, process_bronze_to_silver.py:46-74).
  * Schema inference remains supported (`spark.read.json` without a schema),
  * but the explicit StructType is the test-deterministic contract
  * (SURVEY.md §1.2).
  */
object EarthquakeSchemas {

  /** One GeoJSON feature's `properties` struct — the 21 fields the silver
    * job projects (ref: process_bronze_to_silver.py:48-70). */
  val propertiesSchema: StructType = StructType(Seq(
    StructField("mag", DoubleType),
    StructField("place", StringType),
    StructField("time", LongType),
    StructField("updated", LongType),
    StructField("url", StringType),
    StructField("felt", LongType),
    StructField("cdi", DoubleType),
    StructField("mmi", DoubleType),
    StructField("alert", StringType),
    StructField("status", StringType),
    StructField("tsunami", LongType),
    StructField("sig", LongType),
    StructField("net", StringType),
    StructField("code", StringType),
    StructField("nst", LongType),
    StructField("dmin", DoubleType),
    StructField("rms", DoubleType),
    StructField("gap", DoubleType),
    StructField("magType", StringType),
    StructField("type", StringType),
    StructField("title", StringType)))

  val featureSchema: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("id", StringType),
    StructField("properties", propertiesSchema),
    StructField("geometry", StructType(Seq(
      StructField("type", StringType),
      // [longitude, latitude, depth_km] (ref: process_bronze_to_silver.py:71-73)
      StructField("coordinates", ArrayType(DoubleType)))))))

  /** Top-level FeatureCollection document (one bronze blob = one row). */
  val bronzeSchema: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("metadata", StructType(Seq(
      StructField("generated", LongType),
      StructField("count", LongType)))),
    StructField("features", ArrayType(featureSchema))))

  /** The 32 silver columns in contract order (SURVEY.md §1.3). */
  val silverColumns: Seq[String] = Seq(
    "event_id", "event_timestamp_utc", "updated_timestamp_utc",
    "magnitude", "depth_km", "latitude", "longitude",
    "significance", "felt_reports", "nst_stations",
    "rms_travel_time", "gap_azimuthal",
    "tsunami_warning", "event_type", "magType", "alert", "status",
    "url", "title", "place",
    "magnitude_category", "depth_category", "hemisphere_ns", "hemisphere_ew",
    "year", "month", "day", "hour", "day_of_week",
    "extracted_region_detail", "extracted_country",
    "silver_processing_timestamp_utc")

  /** Silver as stored: the [[silverColumns]] with the types
    * `BronzeToSilver.transform` gives them, the `year`/`month` partition
    * columns last (where a partitioned parquet read puts them). Reading
    * with it skips the footer-inference job and reads a day with no
    * events as zero rows instead of failing. */
  val silverSchema: StructType = StructType.fromDDL(
    "event_id STRING, event_timestamp_utc TIMESTAMP, updated_timestamp_utc TIMESTAMP, " +
    "magnitude DOUBLE, depth_km DOUBLE, latitude DOUBLE, longitude DOUBLE, " +
    "significance INT, felt_reports INT, nst_stations INT, " +
    "rms_travel_time DOUBLE, gap_azimuthal DOUBLE, " +
    "tsunami_warning BOOLEAN, event_type STRING, magType STRING, alert STRING, status STRING, " +
    "url STRING, title STRING, place STRING, " +
    "magnitude_category STRING, depth_category STRING, hemisphere_ns STRING, hemisphere_ew STRING, " +
    "day INT, hour INT, day_of_week INT, " +
    "extracted_region_detail STRING, extracted_country STRING, " +
    "silver_processing_timestamp_utc TIMESTAMP, year INT, month INT")
}
