package graft.jobs

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.run.ConcurrentlySpec
import graft.ingest.UsgsGeoJson
import graft.queries.GoldQueries
import graft.queries.GoldQueries.SlicerState

class SilverToGoldSpec extends SparkSpec {

  private lazy val lake = Files.createTempDirectory("s2g_spec").toString
  private lazy val silver = {
    UsgsGeoJson.writeBronze(s"$lake/bronze/raw.json")
    BronzeToSilver.run(SparkSpec.session, s"$lake/bronze/raw.json", s"$lake/silver")
  }
  private lazy val gold = {
    silver.count() // force the bronze→silver write first
    SilverToGold.run(SparkSpec.session, s"$lake/silver", s"$lake/gold")
  }

  test("all six gold tables materialize") {
    assert(gold.keySet == Set("dim_date", "dim_location", "dim_magnitude",
      "dim_event_type", "fact_earthquake_events"))
  }

  test("dim_date spans min event date to max+30d with correct attributes") {
    val d = gold("dim_date")
    val row = d.orderBy("DateKey").head()
    // min event: 2023-07-01
    assert(row.getAs[Int]("DateKey") == 20230701)
    val mx = d.agg(max("DateKey")).head().getInt(0)
    // max event 2024-01-08 + 30d = 2024-02-07
    assert(mx == 20240207)
    val jul1 = d.filter(col("DateKey") === 20230701).head()
    assert(jul1.getAs[String]("MonthName") == "July")
    assert(jul1.getAs[String]("DayName") == "Saturday")
    assert(jul1.getAs[Boolean]("IsWeekend"))
    assert(jul1.getAs[Int]("Quarter") == 3)
  }

  test("dim_location is distinct over the 7-col natural key with stable keys") {
    val d = gold("dim_location")
    assert(d.count() == d.select("latitude", "longitude", "place").distinct().count())
    // stable surrogate: re-deriving yields identical keys (xxhash64, not MID)
    val again = SilverToGold.dimLocation(silver).select("LocationKey").collect().map(_.getLong(0)).toSet
    assert(again == d.select("LocationKey").collect().map(_.getLong(0)).toSet)
  }

  test("dim_magnitude has 8 static rows including the NULL-band Unknown") {
    val d = gold("dim_magnitude")
    assert(d.count() == 8)
    val unknown = d.filter(col("MagnitudeCategory") === "Unknown").head()
    assert(unknown.isNullAt(unknown.fieldIndex("MinMagnitude")))
  }

  test("fact: one row per EventID; null magType drops via inner join (J4)") {
    val f = gold("fact_earthquake_events")
    assert(f.select("EventID").distinct().count() == f.count())
    val ids = f.select("EventID").collect().map(_.getString(0)).toSet
    assert(!ids.contains("ev10")) // null magType → dropped
    assert(ids.contains("ev11")) // non-earthquake type still in fact
    assert(f.count() == 10)
  }

  test("fact EventIDs are unique without a dedup: one per null-key-passing silver row") {
    val f = gold("fact_earthquake_events")
    val n = f.count()
    assert(f.select("EventID").distinct().count() == n)
    val passing = silver.filter(Seq("latitude", "longitude", "place",
      "magnitude_category", "event_type", "magType").map(col(_).isNotNull)
      .reduce(_ && _)).count()
    assert(n == passing)
    // the written schema keeps the surrogate keys nullable
    assert(SilverToGold.factEarthquakeEvents(silver).schema
      .filter(_.name.endsWith("Key")).forall(_.nullable))
  }

  test("fact FKs resolve against their dimensions") {
    val f = gold("fact_earthquake_events")
    val orphans = f.join(gold("dim_location"), Seq("LocationKey"), "left_anti").count() +
      f.join(gold("dim_magnitude"), Seq("MagnitudeKey"), "left_anti").count() +
      f.join(gold("dim_event_type"), Seq("EventTypeKey"), "left_anti").count() +
      f.join(gold("dim_date"), Seq("DateKey"), "left_anti").count()
    assert(orphans == 0)
  }

  test("BI cards: total / avg / max / warnings") {
    val f = gold("fact_earthquake_events")
    assert(GoldQueries.totalEvents(f).head().getLong(0) == 10)
    assert(GoldQueries.maxMagnitude(f).head().getDouble(0) == 8.5)
    assert(GoldQueries.tsunamiWarningsIssued(f).head().getLong(0) == 3)
    val avg = GoldQueries.avgMagnitude(f).head().getDouble(0)
    assert(math.abs(avg - 4.89) < 0.01) // (2.6+3.5+4.5+5.5+6.5+7.5+8.5+4.2+3.1+2.9)/10
  }

  test("events by country sorts count desc") {
    val rows = GoldQueries.eventsByCountry(gold("fact_earthquake_events"),
      gold("dim_location")).collect()
    val counts = rows.map(_.getAs[Long]("EventCount"))
    assert(counts.toSeq == counts.sortBy(-_).toSeq)
  }

  test("date drill hierarchy: year level groups 2023 vs 2024") {
    val rows = GoldQueries.eventsByDateLevel(gold("fact_earthquake_events"),
      gold("dim_date"), "Year").collect()
    val byYear = rows.map(r => r.getAs[Int]("Year") -> r.getAs[Long]("EventCount")).toMap
    assert(byYear == Map(2023 -> 3, 2024 -> 7))
  }

  test("slicers compose through the relationship graph") {
    val f = gold("fact_earthquake_events")
    val sliced = GoldQueries.slicedFact(f, gold("dim_date"), gold("dim_magnitude"),
      SlicerState(dateFrom = Some("2024-01-01"), tsunamiWarning = Some(false),
        magnitudeCategories = Some(Seq("Micro", "Minor"))))
    val ids = sliced.select("EventID").collect().map(_.getString(0)).toSet
    // 2024 events, no tsunami, mag < 4: ev01(2.6), ev02(3.5), ev09(3.1), ev11(2.9)
    assert(ids == Set("ev01", "ev02", "ev09", "ev11"))
  }

  test("magnitude map aggregates sum per location/category") {
    val rows = GoldQueries.magnitudeMap(gold("fact_earthquake_events"),
      gold("dim_location"), gold("dim_magnitude")).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(!_.isNullAt(3)))
  }

  test("fact keys equal the keys joined from each dim, -0.0 and NULL keys included") {
    val s = SparkSpec.session
    val ev01 = silver.filter(col("event_id") === "ev01")
    def variant(id: String, c: String, v: org.apache.spark.sql.Column) =
      ev01.withColumn("event_id", lit(id)).withColumn(c, v)
    val in = Seq(
      variant("lat+0", "latitude", lit(0.0)),
      variant("lat-0", "latitude", lit(-0.0)),
      variant("noplace", "place", lit(null).cast("string")),
      variant("nomagtype", "magType", lit(null).cast("string"))).foldLeft(silver)(_ unionByName _)
    val joined = in
      .join(SilverToGold.dimLocation(in).select("LocationKey", "latitude", "longitude", "place"),
        Seq("latitude", "longitude", "place"))
      .join(SilverToGold.dimMagnitude(s).select("MagnitudeKey", "MagnitudeCategory"),
        col("magnitude_category") === col("MagnitudeCategory"))
      .join(SilverToGold.dimEventType(in).select(col("EventTypeKey"),
          col("EventType").as("et"), col("MagType").as("mt")),
        col("event_type") === col("et") && col("magType") === col("mt"))
    def keys(df: org.apache.spark.sql.DataFrame, id: String) =
      df.select(id, "LocationKey", "MagnitudeKey", "EventTypeKey").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val want = keys(joined, "event_id")
    val got = keys(SilverToGold.factEarthquakeEvents(in), "EventID")
    assert(got == want)
    assert(got.contains("lat-0") && got("lat-0") == got("lat+0"))
    assert(!got.contains("noplace") && !got.contains("nomagtype"))
  }

  test("nothing outlives a run: no cached RDD, no helper thread") {
    val s = SparkSpec.session
    // a silver path no earlier run read, so its cache cannot pre-exist
    BronzeToSilver.run(s, s"$lake/bronze/raw.json", s"$lake/silver_fresh")
    val before = s.sparkContext.getPersistentRDDs.keySet
    assert(SilverToGold.run(s, s"$lake/silver_fresh", s"$lake/gold_fresh").size == 5)
    assert(s.sparkContext.getPersistentRDDs.keySet == before)
    assert(ConcurrentlySpec.liveHelpers.isEmpty)
  }
}
