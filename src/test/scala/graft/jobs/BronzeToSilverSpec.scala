package graft.jobs

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ingest.UsgsGeoJson
import graft.model.EarthquakeSchemas

class BronzeToSilverSpec extends SparkSpec {

  private lazy val lake = Files.createTempDirectory("b2s_spec").toString
  private lazy val silver = {
    UsgsGeoJson.writeBronze(s"$lake/bronze/raw_earthquakes.json")
    BronzeToSilver.run(SparkSpec.session,
      s"$lake/bronze/raw_earthquakes.json", s"$lake/silver")
  }

  test("silver has the 32-column contract") {
    assert(silver.columns.toSet == EarthquakeSchemas.silverColumns.toSet)
  }

  test("validation drops every bad branch, keeps all valid events") {
    val ids = silver.select("event_id").collect().map(_.getString(0)).toSet
    assert(ids == Set("ev01", "ev02", "ev03", "ev04", "ev05", "ev06",
      "ev07", "ev08", "ev09", "ev10", "ev11"))
  }

  test("latest-update-wins dedup keeps the newer ev08 revision") {
    val mag = silver.filter(col("event_id") === "ev08")
      .select("magnitude").collect().map(_.getDouble(0))
    assert(mag.toSeq == Seq(4.2))
  }

  test("tied updated timestamps resolve deterministically (later event ts wins)") {
    val ts = silver.filter(col("event_id") === "ev09")
      .select(unix_millis(col("event_timestamp_utc"))).collect().map(_.getLong(0))
    assert(ts.length == 1)
    // fixture: two rows, event ts differs by 500 ms, updated tied → later wins
    assert(ts.head % 1000 == 500)
  }

  test("magnitude bands cover the 7-way chain") {
    val got = silver.filter(col("event_id").startsWith("ev"))
      .filter(col("event_id") <= "ev07")
      .select("event_id", "magnitude_category").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map(
      "ev01" -> "Micro", "ev02" -> "Minor", "ev03" -> "Light",
      "ev04" -> "Moderate", "ev05" -> "Strong", "ev06" -> "Major",
      "ev07" -> "Great"))
  }

  test("depth bands and hemispheres") {
    val r = silver.filter(col("event_id") === "ev03")
      .select("depth_category", "hemisphere_ns", "hemisphere_ew").head()
    assert((r.getString(0), r.getString(1), r.getString(2)) == ("Deep", "Northern", "Eastern"))
    val r5 = silver.filter(col("event_id") === "ev05")
      .select("depth_category", "hemisphere_ns", "hemisphere_ew").head()
    assert((r5.getString(0), r5.getString(1), r5.getString(2)) == ("Shallow", "Southern", "Western"))
  }

  test("region extraction: after-comma capture, trim, and no-comma fallback") {
    val got = silver.select("event_id", "extracted_region_detail", "extracted_country")
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(got("ev01") == ("Alaska", "Alaska"))
    // trailing-space place: "near  Coast, Mexico " → trimmed
    assert(got("ev08") == ("Mexico", "Mexico"))
    // no comma → empty region, fallback to trimmed place
    assert(got("ev09") == ("", "Plateau region"))
  }

  test("epoch-millis division preserves fractional seconds") {
    val ms = silver.filter(col("event_id") === "ev09")
      .select(unix_millis(col("event_timestamp_utc"))).head().getLong(0)
    assert(ms % 1000 == 500)
  }

  test("tsunami flag encodes as boolean") {
    val got = silver.select("event_id", "tsunami_warning").collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(got("ev05") && got("ev06") && !got("ev01"))
  }

  test("silver is partitioned by year/month on disk") {
    val dirs = new java.io.File(s"$lake/silver").listFiles().map(_.getName)
    assert(dirs.exists(_.startsWith("year=2023")) && dirs.exists(_.startsWith("year=2024")))
  }

  test("schema inference path reads the same document (S3 inference support)") {
    val inferred = SparkSpec.session.read.json(s"$lake/bronze/raw_earthquakes.json")
    val viaInferred = BronzeToSilver.transform(inferred)
    assert(viaInferred.count() == silver.count())
  }

  test("multiLine mode reads a pretty-printed FeatureCollection identically") {
    // same document, pretty-printed across many lines (the non-json-lines
    // shape multiLine=true exists for)
    val doc = UsgsGeoJson.fixtureDocument()
    val pretty = doc.replace("},{", "},\n  {").replace("\"features\":[", "\"features\": [\n  ")
    val path = s"$lake/bronze_pretty/raw.json"
    UsgsGeoJson.writeBronze(path, pretty)
    val viaMulti = BronzeToSilver.run(SparkSpec.session, path,
      s"$lake/silver_pretty", multiLine = true)
    assert(viaMulti.count() == silver.count())
  }

  test("typed Dataset[SilverEvent] view supports compile-checked access") {
    import graft.model.SilverEvent
    val ds = SilverEvent.typed(silver)
    val strong = ds.filter(e => e.magnitude >= 6.0).collect()
    assert(strong.map(_.event_id).toSet == Set("ev05", "ev06", "ev07"))
    assert(strong.forall(e => e.magnitude_category == "Strong"
      || e.magnitude_category == "Major" || e.magnitude_category == "Great"))
  }

  test("band boundary values: 2.999→Micro, 3.0→Minor, 7.999→Major, 8.0→Great") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val s = SparkSpec.session
    val df = s.createDataFrame(
      java.util.List.of(Row(2.999), Row(3.0), Row(7.999), Row(8.0)),
      StructType(Seq(StructField("m", DoubleType))))
    val got = df.select(BronzeToSilver.magnitudeCategory(col("m")).as("c"))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("Micro", "Minor", "Major", "Great"))
  }

  test("silver reads back with the stored schema: types and partition columns last") {
    assert(silver.schema == EarthquakeSchemas.silverSchema)
    assert(SparkSpec.session.read.parquet(s"$lake/silver").schema == EarthquakeSchemas.silverSchema)
  }

  test("a day with no events, or none valid, gives an empty silver and no gold") {
    val s = SparkSpec.session
    val invalid = """{"type":"Feature","id":"bad1","properties":{"mag":11.0,"time":1704067200000,""" +
      """"updated":1704067200000,"tsunami":0},"geometry":{"type":"Point","coordinates":[1.0,2.0,10.0]}}"""
    Seq("none" -> "", "invalid" -> invalid).foreach { case (name, features) =>
      val dir = s"$lake/empty_$name"
      UsgsGeoJson.writeBronze(s"$dir/bronze.json",
        s"""{"type":"FeatureCollection","features":[$features]}""")
      val empty = BronzeToSilver.run(s, s"$dir/bronze.json", s"$dir/silver")
      assert(empty.count() == 0, name)
      assert(empty.columns.toSet == EarthquakeSchemas.silverColumns.toSet, name)
      assert(SilverToGold.run(s, s"$dir/silver", s"$dir/gold").isEmpty, name)
      assert(!new java.io.File(s"$dir/gold").exists(), name)
    }
  }
}
