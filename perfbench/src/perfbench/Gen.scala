package perfbench

import java.time.{Instant, LocalDate, ZoneOffset}

/** Seeded input generators. The engine only ever sees what these produce;
  * the same seed always yields byte-identical inputs (see `test_perfbench.py`). */
object Gen {

  // ---------------------------------------------------------------- bronze

  /** Shares of the generated bronze, per event drawn. */
  val DupLaterShare = 0.04   // a second copy with a later `updated` (it wins)
  val DupTiedShare = 0.02    // a second copy with the same `updated`, later `time`
  val InvalidShare = 0.02    // one of the eight validation-drop branches
  val NullMagTypeShare = 0.01
  val NonQuakeShare = 0.03

  val Jan2024 = 1704067200000L
  val DayMs = 86400000L

  private val Towns = Array("Plateau", "Ridge", "Trench", "Harbor", "Mesa", "Delta",
    "Summit", "Canyon", "Lagoon", "Basin", "Fjord", "Atoll")
  private val Countries = Array("Alaska", "Chile", "Japan", "Peru", "Mexico", "Tonga",
    "Indonesia", "Greece", "Turkey", "Iran", "New Zealand", "Fiji", "Vanuatu",
    "Papua New Guinea", "Philippines", "Italy", "California", "Nevada", "Hawaii",
    "Ecuador", "Guatemala", "Argentina", "Russia", "China")
  private val Regions = Array("Fiji region", "Mid-Atlantic Ridge", "South Sandwich Islands region",
    "Kermadec Islands region", "central East Pacific Rise", "Sea of Okhotsk")
  private val Dirs = Array("N", "S", "E", "W", "NE", "NW", "SE", "SW")
  private val MagTypes = Array("ml", "md", "mb", "mww", "mwr")
  private val OtherTypes = Array("quarry blast", "explosion", "ice quake")
  val Categories = Array("Micro", "Minor", "Light", "Moderate", "Strong", "Major", "Great")

  /** The silver magnitude band (BronzeToSilver.magnitudeCategory). */
  def category(mag: Double): String =
    if (mag < 3.0) "Micro" else if (mag < 4.0) "Minor" else if (mag < 5.0) "Light"
    else if (mag < 6.0) "Moderate" else if (mag < 7.0) "Strong" else if (mag < 8.0) "Major"
    else "Great"

  /** One valid, deduplicated event as silver will hold it. */
  final case class Event(id: String, mag: Double, place: String, time: Long, updated: Long,
                         tsunami: Boolean, magType: String, typ: String,
                         lon: Double, lat: Double, depth: Double, sig: Int) {
    def date: LocalDate = Instant.ofEpochMilli(time).atZone(ZoneOffset.UTC).toLocalDate
  }

  /** Counts the pipeline must reproduce from this bronze. */
  final case class Truth(features: Int, silver: Long, fact: Long, dimDate: Long,
                         dimLocation: Long, dimMagnitude: Long, dimEventType: Long,
                         predictions: Long, tsunami: Long)

  final case class Bronze(document: String, events: IndexedSeq[Event], truth: Truth) {
    /** Rows of the gold fact: silver rows with a magType (the J4 inner join). */
    def fact: IndexedSeq[Event] = events.filter(_.magType != null)
  }

  // same shape and key order as graft.ingest.UsgsGeoJson's fixture features
  private def feature(id: String, mag: java.lang.Double, place: String,
                      time: java.lang.Long, updated: Long, tsunami: Int,
                      magType: String, typ: String, lon: Double, lat: Double,
                      depth: Double, felt: Int, nst: Int, sig: Int): String = {
    def jnum(x: Any): String = if (x == null) "null" else x.toString
    def jstr(x: String): String = if (x == null) "null" else "\"" + x + "\""
    s"""{"type":"Feature","id":${jstr(id)},"properties":{"mag":${jnum(mag)},"place":${jstr(place)},"time":${jnum(time)},"updated":$updated,"url":"https://example.org/eventpage/$id","felt":$felt,"cdi":3.4,"mmi":4.0,"alert":"green","status":"reviewed","tsunami":$tsunami,"sig":$sig,"net":"us","code":"$id","nst":$nst,"dmin":1.1,"rms":0.7,"gap":40.0,"magType":${jstr(magType)},"type":${jstr(typ)},"title":${jstr(if (mag == null) place else s"M $mag - $place")}},"geometry":{"type":"Point","coordinates":[$lon,$lat,$depth]}}"""
  }

  private def featureOf(e: Event, rnd: java.util.Random): String =
    feature(e.id, e.mag, e.place, e.time, e.updated, if (e.tsunami) 1 else 0, e.magType,
      e.typ, e.lon, e.lat, e.depth, rnd.nextInt(200), 5 + rnd.nextInt(300), e.sig)

  /** A FeatureCollection of `n` distinct drawn events plus their duplicate
    * copies and invalid features, in a seeded order, on one line. */
  def bronze(seed: Long, n: Int): Bronze = {
    val rnd = new java.util.Random(seed * 1000003L + 17L)
    val valid = IndexedSeq.newBuilder[Event]
    val parts = Array.newBuilder[String]
    var invalid = 0
    for (i <- 0 until n) {
      val id = f"bk$seed%d_$i%07d"
      val r = rnd.nextDouble()
      if (r < InvalidShare) {
        // the eight validation-drop branches, in turn
        val (mag, lat, lon, depth, time, fid): (java.lang.Double, Double, Double, Double, java.lang.Long, String) =
          invalid % 8 match {
            case 0 => (null, 0.0, 0.0, 1.0, Jan2024, id)
            case 1 => (10.5, 0.0, 0.0, 1.0, Jan2024, id)
            case 2 => (4.0, 95.0, 0.0, 1.0, Jan2024, id)
            case 3 => (4.0, 0.0, -190.0, 1.0, Jan2024, id)
            case 4 => (4.0, 0.0, 0.0, -1.0, Jan2024, id)
            case 5 => (4.0, 0.0, 0.0, 1200.0, Jan2024, id)
            case 6 => (4.0, 0.0, 0.0, 1.0, null, id)
            case _ => (4.0, 0.0, 0.0, 1.0, Jan2024, null)
          }
        invalid += 1
        parts += feature(fid, mag, "Invalid, Nowhere", time, Jan2024 + 1, 0, "ml",
          "earthquake", lon, lat, depth, 0, 0, 1)
      } else {
        // magnitudes 2.5..9.0 in tenths, heavy toward the small end
        val mag = math.min(90, 25 + (-math.log(1 - rnd.nextDouble()) * 9).toInt) / 10.0
        val quake = rnd.nextDouble() >= NonQuakeShare
        val tsunami = quake && (if (mag >= 6.5) rnd.nextDouble() < 0.6 else rnd.nextDouble() < 0.004)
        val place =
          if (rnd.nextInt(8) == 0) Regions(rnd.nextInt(Regions.length))
          else s"${1 + rnd.nextInt(120)} km ${Dirs(rnd.nextInt(Dirs.length))} of " +
            s"${Towns(rnd.nextInt(Towns.length))}, ${Countries(rnd.nextInt(Countries.length))}"
        // avoid the last second of a day so a tied copy's +500 ms keeps its date
        val time = Jan2024 + rnd.nextInt(365).toLong * DayMs + rnd.nextInt(86398000)
        val e0 = Event(id, mag, place, time, time + 60000L + rnd.nextInt(3600000), tsunami,
          if (rnd.nextDouble() < NullMagTypeShare) null else MagTypes(rnd.nextInt(MagTypes.length)),
          if (quake) "earthquake" else OtherTypes(rnd.nextInt(OtherTypes.length)),
          (rnd.nextInt(360000) - 180000) / 1000.0, (rnd.nextInt(180000) - 90000) / 1000.0,
          rnd.nextInt(700000) / 1000.0, 10 + rnd.nextInt(990))
        val d = rnd.nextDouble()
        val winner =
          if (d < DupLaterShare) {
            // the later update revises the magnitude; it must win
            val later = e0.copy(mag = math.min(9.0, e0.mag + 0.2), updated = e0.updated + 5000L)
            parts += featureOf(e0, rnd)
            parts += featureOf(later, rnd)
            later
          } else if (d < DupLaterShare + DupTiedShare) {
            // tied `updated`: the secondary key (event time) decides
            val later = e0.copy(time = e0.time + 500L)
            parts += featureOf(e0, rnd)
            parts += featureOf(later, rnd)
            later
          } else {
            parts += featureOf(e0, rnd)
            e0
          }
        valid += winner
      }
    }
    val features = parts.result()
    shuffle(features, rnd)
    val events = valid.result()
    val fact = events.filter(_.magType != null)
    val dates = events.map(_.date)
    val (dMin, dMax) = (dates.min, dates.max)
    val truth = Truth(
      features = features.length,
      silver = events.size,
      fact = fact.size,
      dimDate = dMax.toEpochDay - dMin.toEpochDay + 31,
      dimLocation = events.map(e => (e.lat, e.lon, e.place)).distinct.size,
      dimMagnitude = 8,
      dimEventType = events.map(e => (e.typ, e.magType)).distinct.size,
      predictions = events.count(_.typ == "earthquake"),
      tsunami = events.count(e => e.typ == "earthquake" && e.tsunami))
    val doc = s"""{"type":"FeatureCollection","metadata":{"generated":${Jan2024 + 400 * DayMs},"count":${features.length}},"features":[${features.mkString(",")}]}"""
    Bronze(doc, events, truth)
  }

  private def shuffle[T](a: Array[T], rnd: java.util.Random): Unit = {
    var i = a.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
  }

  // --------------------------------------------------------- slicer states

  final case class Slicer(dateFrom: Option[LocalDate], dateTo: Option[LocalDate],
                          tsunami: Option[Boolean], categories: Option[Seq[String]],
                          level: String) {
    def key: String =
      s"${dateFrom.getOrElse("")}|${dateTo.getOrElse("")}|${tsunami.getOrElse("")}|" +
        s"${categories.map(_.mkString("+")).getOrElse("")}|$level"
    def keeps(e: Event): Boolean =
      dateFrom.forall(d => !e.date.isBefore(d)) && dateTo.forall(d => !e.date.isAfter(d)) &&
        tsunami.forall(_ == e.tsunami) && categories.forall(_.contains(category(e.mag)))
  }

  val Levels = Array("Year", "Quarter", "Month", "Day")

  /** A pool of `n` slicer states over 2024's date range. */
  def slicerPool(seed: Long, n: Int): IndexedSeq[Slicer] = {
    val rnd = new java.util.Random(seed * 7919L + 3L)
    val y0 = LocalDate.of(2024, 1, 1)
    (0 until n).map { _ =>
      val ranged = rnd.nextInt(4) != 0
      val from = y0.plusDays(rnd.nextInt(300))
      val to = from.plusDays(14 + rnd.nextInt(120))
      val tsu = rnd.nextInt(4) match { case 0 => Some(true); case 1 => Some(false); case _ => None }
      val cats =
        if (rnd.nextBoolean()) None
        else Some(Categories.filter(_ => rnd.nextInt(3) == 0).toSeq match {
          case Seq() => Seq(Categories(rnd.nextInt(4)))
          case s => s
        })
      Slicer(if (ranged) Some(from) else None, if (ranged) Some(to) else None, tsu, cats,
        Levels(rnd.nextInt(Levels.length)))
    }
  }

  // ------------------------------------------------------------ CDC deltas

  /** One row of the lake_cdc table. */
  final case class Row(event_id: String, magnitude: Double, depth_km: Double,
                       latitude: Double, longitude: Double, place: String,
                       tsunami_warning: Boolean, updated_ms: Long, step: Int)

  private def row(rnd: java.util.Random, id: String, step: Int): Row =
    Row(id, (25 + rnd.nextInt(60)) / 10.0, rnd.nextInt(700000) / 1000.0,
      (rnd.nextInt(180000) - 90000) / 1000.0, (rnd.nextInt(360000) - 180000) / 1000.0,
      s"${1 + rnd.nextInt(120)} km ${Dirs(rnd.nextInt(Dirs.length))} of " +
        s"${Towns(rnd.nextInt(Towns.length))}, ${Countries(rnd.nextInt(Countries.length))}",
      rnd.nextInt(50) == 0, Jan2024 + step * DayMs + rnd.nextInt(86400000), step)

  def cdcId(seed: Long, i: Int): String = f"ck$seed%d_$i%08d"

  /** The founding snapshot: `n` rows with ids 0 until n. */
  def cdcBase(seed: Long, n: Int): IndexedSeq[Row] = {
    val rnd = new java.util.Random(seed * 31L + 11L)
    (0 until n).map(i => row(rnd, cdcId(seed, i), 0))
  }

  /** Daily delta `step` (1-based) against a table holding ids 0 until
    * `live`: `updates` distinct existing ids revised, `inserts` new ids
    * appended. Keys are unique within the delta. */
  def cdcDelta(seed: Long, step: Int, live: Int, updates: Int, inserts: Int): IndexedSeq[Row] = {
    val rnd = new java.util.Random(seed * 1000033L + step)
    val picked = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (picked.size < math.min(updates, live)) picked += rnd.nextInt(live)
    picked.toIndexedSeq.map(i => row(rnd, cdcId(seed, i), step)) ++
      (live until live + inserts).map(i => row(rnd, cdcId(seed, i), step))
  }

  // ---------------------------------------------------------------- corpus

  /** The token vocabulary of the engine's `documents` test table. */
  private val Vocab = Array("spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
    "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a",
    "scan", "batch")
  private val Langs = Array("en", "en", "en", "zh", "es", "fr", "de")

  val ExactDupShare = 0.02
  val NearDupShare = 0.05
  val EditDupShare = 0.03

  final case class Doc(docId: Long, text: String, lang: String, source: String)

  /** `n` seeded documents in the `documents` table's shape, with injected
    * exact copies, near-duplicates (a trailing " dup" token) and one-token
    * edits of earlier documents. */
  def corpus(seed: Long, n: Int): IndexedSeq[Doc] = {
    val rnd = new java.util.Random(seed * 104729L + 5L)
    val docs = scala.collection.mutable.ArrayBuffer.empty[Doc]
    for (i <- 0 until n) {
      val r = rnd.nextDouble()
      val text =
        if (i > 10 && r < ExactDupShare) docs(rnd.nextInt(docs.size)).text
        else if (i > 10 && r < ExactDupShare + NearDupShare) docs(rnd.nextInt(docs.size)).text + " dup"
        else if (i > 10 && r < ExactDupShare + NearDupShare + EditDupShare) {
          val toks = docs(rnd.nextInt(docs.size)).text.split(" ")
          toks(rnd.nextInt(toks.length)) = Vocab(rnd.nextInt(Vocab.length))
          toks.mkString(" ")
        } else Array.fill(10 + rnd.nextInt(91))(Vocab(rnd.nextInt(Vocab.length))).mkString(" ")
      docs += Doc(i.toLong, text, Langs(rnd.nextInt(Langs.length)), s"src${i % 5}")
    }
    docs.toIndexedSeq
  }
}
