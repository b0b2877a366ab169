package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import java.util.Locale
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.ingest.UsgsGeoJson
import graft.jobs.{BronzeToSilver, CurateCorpus, SilverToGold, TrainTsunamiModel}
import graft.queries.GoldQueries
import graft.sources.{ParquetWarehouse, TxnLake}
import graft.streaming.TxnReplicaFeed
import Trace.{Calls, median}

/** Input sizes, fixed here so every run of a workload does the same work. */
object Sizes {
  val QuakeEvents = 20000          // the reference fetch's cap (limit=20000)
  // Warm-up days, untimed: the first over a small bronze takes the cold
  // start (class loading, first compilations: 15 to 17 s), the rest are
  // full-size, as later small days cost as much as full ones and warm less.
  // With one full-size warm-up day the timed days' median spread 15% over
  // ten seeds, with two 6%.
  val QuakeWarmEvents = 2000
  val QuakeWarmDays = 3
  val SlicerPool = 12              // distinct slicer states the pages draw from
  val CdcBaseRows = 25000
  val CdcUpdates = 190             // per daily delta, with CdcInserts: 1% of the table
  val CdcInserts = 60
  val CdcMaintenanceEvery = 3      // optimize + readWhere every this many steps
  // Untimed steps before the timed ones: merges keep getting faster over
  // the first ten or so steps of a session.
  val CdcWarmSteps = 7
  // TxnLake writes a checkpoint at every this many versions. A traced run
  // pads the founded table with empty commits, so that its first timed
  // merge writes such a version.
  val CdcCheckpointEvery = 10
  val CorpusDocs = 2500
}

object Digest {
  /** Order-insensitive digest of collected rows; doubles at 6 decimals.
    * `perfbench/checks.py` renders DuckDB rows the same way. */
  def rows(rs: Array[Row]): String = {
    def cell(v: Any): String = v match {
      case null => "null"
      case d: Double => String.format(Locale.ROOT, "%.6f", Double.box(d))
      case f: Float => String.format(Locale.ROOT, "%.6f", Double.box(f.toDouble))
      case d: java.sql.Date => d.toLocalDate.toString
      case other => other.toString
    }
    val lines = rs.map(r => r.toSeq.map(cell).mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.digest(lines.mkString("\n").getBytes(StandardCharsets.UTF_8)).map(b => f"$b%02x").mkString
  }
}

object Listing {
  /** Regular files under `dir` with their sizes. */
  def sizes(dir: Path): Map[String, Long] =
    if (!Files.exists(dir)) Map.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }
}

// ------------------------------------------------------------------ quake

/** The reference DAG, one client, sequential days on fresh directories. A
  * traced run follows each day's DAG with one dashboard refresh over the
  * gold it wrote, as Power BI's DirectQuery reads it: the five gold tables
  * through the warehouse and the ten visuals under one slicer state. */
final class QuakePipeline(spark: SparkSession, seed: Long, rec: Recorder, trace: Trace,
                          corrupt: Boolean, traced: Boolean) extends Workload {
  def primary = "dag"
  private var bronze, warmBronze: Gen.Bronze = _
  private var root: Path = _
  private val pool = Gen.slicerPool(seed, Sizes.SlicerPool)
  private val runs = mutable.ArrayBuffer.empty[(String, Path, Gen.Truth)]
  private var day = 0
  private val GoldTables = Seq("fact_earthquake_events", "dim_date", "dim_location",
    "dim_magnitude", "dim_event_type")

  def generate(): Unit = {
    bronze = Gen.bronze(seed, Sizes.QuakeEvents)
    warmBronze = Gen.bronze(seed, Sizes.QuakeWarmEvents)
  }
  def build(dir: Path): Unit = root = dir

  def warm(): Unit = {
    dayOf("warm0", warmBronze)
    (1 until Sizes.QuakeWarmDays).foreach(k => dayOf(s"warm$k", bronze))
  }
  def unit(client: Int, i: Int): Unit = dayOf(s"u$i", bronze)

  /** The slicer state of a day's page: drawn with replacement from the pool. */
  private def stateOf(day: Int): Gen.Slicer =
    pool(new java.util.Random(seed * 65537L + day).nextInt(pool.size))

  private def dayOf(id: String, bronze: Gen.Bronze): Unit = {
    val d = root.resolve(id)
    val bronzePath = d.resolve("bronze/raw_earthquakes.json").toString
    val ok = rec.timed("dag", "dag", id, bronze.truth.features) {
      trace.span("dag") {
        trace.span("ingest.write") { UsgsGeoJson.writeBronze(bronzePath, bronze.document) }
        val silver = trace.span("jobs.b2s") { BronzeToSilver.run(spark, bronzePath, s"$d/silver") }
        trace.span("jobs.s2g") { SilverToGold.run(spark, s"$d/silver", s"$d/gold") }
        val res = trace.span("jobs.train") { TrainTsunamiModel.run(spark, silver, Some(s"$d/model")) }
        trace.span("jobs.predict") {
          res.predictions.write.mode("overwrite").parquet(s"$d/predictions")
        }
      }
    }(_ => None)
    Files.deleteIfExists(Paths.get(bronzePath))
    runs += ((id, d, bronze.truth))
    day += 1
    if (ok.isDefined && traced) page(id, d.resolve("gold"), stateOf(day), bronze)
  }

  private def cards(s: Gen.Slicer, bronze: Gen.Bronze): Map[String, Any] = {
    val f = bronze.fact.filter(s.keeps)
    Map("total_events" -> f.size.toLong,
      "avg_magnitude" -> (if (f.isEmpty) null else f.map(_.mag).sum / f.size),
      "max_magnitude" -> (if (f.isEmpty) null else f.map(_.mag).max),
      "tsunami_warnings" -> f.count(_.tsunami).toLong)
  }

  private def checkCard(name: String, want: Any, rows: Array[Row]): Option[String] = {
    val got = if (rows.length == 1) rows(0).get(0) else s"${rows.length} rows"
    val same = (got, want) match {
      case (g: Double, w: Double) => math.abs(g - w) <= 1e-9 * math.max(1.0, math.abs(w))
      case (g, w) => g == w
    }
    if (same) None else Some(s"$name = $got, expected $want")
  }

  /** One page load; cards are checked against the generator's ground
    * truth, grouped visuals later against DuckDB over the same gold. */
  private def page(unitId: String, gold: Path, s: Gen.Slicer, bronze: Gen.Bronze): Unit = {
    val want = cards(s, bronze)
    val wh = new ParquetWarehouse(gold.toString)
    val read = GoldTables.map(t => rec.timed("read", t, unitId, 0) {
      trace.span("sources.warehouse.read") { wh.readTable(spark, t) }
    }(_ => None))
    if (read.exists(_.isEmpty)) return
    val Seq(fact, dimDate, dimLoc, dimMag, _) = read.map(_.get)
    val sliced = GoldQueries.slicedFact(fact, dimDate, dimMag, GoldQueries.SlicerState(
      s.dateFrom.map(_.toString), s.dateTo.map(_.toString), s.tsunami, s.categories))
    val visuals: Seq[(String, () => DataFrame)] = Seq(
      "total_events" -> (() => GoldQueries.totalEvents(sliced)),
      "avg_magnitude" -> (() => GoldQueries.avgMagnitude(sliced)),
      "max_magnitude" -> (() => GoldQueries.maxMagnitude(sliced)),
      "tsunami_warnings" -> (() => GoldQueries.tsunamiWarningsIssued(sliced)),
      "events_by_date" -> (() => GoldQueries.eventsByDateLevel(sliced, dimDate, s.level)),
      "events_by_country" -> (() => GoldQueries.eventsByCountry(sliced, dimLoc)),
      "magnitude_map" -> (() => GoldQueries.magnitudeMap(sliced, dimLoc, dimMag)),
      "date_slicer" -> (() => GoldQueries.sliceValues(dimDate)),
      "tsunami_slicer" -> (() => GoldQueries.tsunamiSliceValues(fact)),
      "magnitude_slicer" -> (() => GoldQueries.magnitudeSliceValues(dimMag)))
    visuals.foreach { case (name, mk) =>
      val card = want.get(name)
      rec.timed("visual", name, unitId, 0, if (card.isDefined) "" else s"${s.key}#$name") {
        trace.span(s"queries.gold.$name") { mk().collect() }
      }(rows => card.flatMap(w => checkCard(name, w, rows)),
        rows => if (card.isDefined) "" else Digest.rows(rows))
    }
  }

  private var silverRows = 0L

  override def check(ops: Seq[Op]): Seq[Op] = {
    val bad = runs.map { case (id, d, t) =>
      def n(p: String) = spark.read.parquet(s"$d/$p").count()
      val pred = spark.read.parquet(s"$d/predictions")
      val silver = if (corrupt && id == "u0") t.silver + 1 else t.silver
      val got = Seq(
        "silver" -> (n("silver"), silver),
        "fact" -> (n("gold/fact_earthquake_events"), t.fact),
        "dim_date" -> (n("gold/dim_date"), t.dimDate),
        "dim_location" -> (n("gold/dim_location"), t.dimLocation),
        "dim_magnitude" -> (n("gold/dim_magnitude"), t.dimMagnitude),
        "dim_event_type" -> (n("gold/dim_event_type"), t.dimEventType),
        "predictions" -> (pred.count(), t.predictions),
        "tsunami" -> (pred.filter(col("actual_tsunami_warning")).count(), t.tsunami))
      if (!id.startsWith("warm")) silverRows = got.head._2._1
      id -> got.collect { case (what, (g, want)) if g != want => s"$what: $g rows, expected $want" }
    }.toMap
    ops.map(op => bad.get(op.unit) match {
      case Some(errs) if errs.nonEmpty && op.ok && op.kind == "dag" =>
        op.copy(ok = false, err = errs.mkString("; "))
      case _ => op
    })
  }

  override def layers(trace: Trace, ops: Seq[Op]): Map[String, Double] = {
    def gold(d: Path): Double = Listing.sizes(d.resolve("gold")).keys
      .count(p => p.endsWith(".parquet") && !p.contains("_staging")).toDouble
    val b2s = trace.perCall("jobs.b2s")
    val s2g = trace.perCall("jobs.s2g")
    val train = trace.perCall("jobs.train")
    val predict = trace.perCall("jobs.predict")
    val names = Seq("total_events", "avg_magnitude", "max_magnitude", "tsunami_warnings",
      "events_by_date", "events_by_country", "magnitude_map", "date_slicer", "tsunami_slicer",
      "magnitude_slicer")
    val per = names.map(n => n -> trace.perCall(s"queries.gold.$n")).toMap
    val calls = per.values.map(_.n).sum.max(1)
    def mean(f: Calls => Double): Double = per.values.map(c => f(c) * c.n).sum / calls
    Map(
      "ingest.write_s" -> trace.perCall("ingest.write").wallMsP50 / 1000,
      "ingest.bronze_mb" -> bronze.document.length / Trace.MB) ++
      Layers.job("jobs.b2s", b2s, Seq("wall_s", "jobs", "tasks", "task_s", "input_mb",
        "shuffle_mb", "spill_mb", "driver_gap_s")) ++
      Map("jobs.b2s.rows_out" -> silverRows.toDouble) ++
      Layers.job("jobs.s2g", s2g, Seq("wall_s", "jobs", "tasks", "task_s", "shuffle_mb",
        "driver_gap_s")) ++
      Map("jobs.s2g.files_out" -> runs.lastOption.map(r => gold(r._2)).getOrElse(0.0)) ++
      Layers.job("jobs.train", train, Seq("wall_s", "jobs", "task_s", "driver_gap_s")) ++
      Layers.job("jobs.predict", predict, Seq("wall_s", "jobs", "task_s", "driver_gap_s")) ++
      names.map(n => s"queries.gold.$n.ms_p50" -> per(n).wallMsP50).toMap ++ Map(
        "queries.gold.jobs_per_visual" -> mean(_.jobs),
        "queries.gold.task_ms_per_visual" -> mean(_.taskMs),
        "queries.gold.sched_wait_ms_per_visual" -> mean(_.schedWaitMs),
        "queries.gold.driver_gap_ms_per_visual" -> mean(_.driverGapMs),
        "sources.warehouse.read_ms_p50" -> trace.perCall("sources.warehouse.read").wallMsP50)
  }

  override def extra: Map[String, Any] = Map(
    "gold_dirs" -> runs.map { case (id, d, _) => id -> d.resolve("gold").toString }.toMap,
    "states" -> pool.map(s => s.key -> Map(
      "date_from" -> s.dateFrom.map(_.toString), "date_to" -> s.dateTo.map(_.toString),
      "tsunami" -> s.tsunami, "categories" -> s.categories, "level" -> s.level)).toMap)
}

object Layers {
  /** The named per-call figures of one layer. */
  def job(prefix: String, c: Calls, names: Seq[String]): Map[String, Double] = {
    val all = Map(
      "wall_s" -> c.wallMsP50 / 1000, "jobs" -> c.jobs, "tasks" -> c.tasks,
      "task_s" -> c.taskMs / 1000, "input_mb" -> c.inputMb, "shuffle_mb" -> c.shuffleMb,
      "spill_mb" -> c.spillMb, "driver_gap_s" -> c.driverGapMs / 1000)
    names.map(n => s"$prefix.$n" -> all(n)).toMap
  }

  /** Phase labels as metric-name fragments: digits collapse to N so a
    * label carrying a batch id stays one name. */
  def phaseName(desc: String): String =
    if (desc.isEmpty) "unlabeled"
    else desc.replaceAll("[0-9]+", "N").replaceAll("[^A-Za-z0-9_.-]+", "_").take(40)
}

// --------------------------------------------------------------- lake CDC

/** Daily deltas merged into a TxnLake table, each followed by one replica
  * hop; periodic optimize and point lookups. One closed-loop writer. A
  * traced run also commits one curated corpus into the lake at the end of
  * its traced section, so the curation tier's layers are measured too. */
final class LakeCdc(spark: SparkSession, seed: Long, rec: Recorder, trace: Trace,
                    corrupt: Boolean, traced: Boolean) extends Workload {
  import spark.implicits._
  def primary = "merge"
  private val curation = if (traced) Some(new CorpusCuration(spark, seed, rec, trace)) else None
  private var src, rep: String = _
  private var feed: TxnReplicaFeed = _
  private val model = mutable.HashMap.empty[String, Gen.Row]
  private var live = 0
  private var step = 0
  private var firstTimedHop = true
  private val mergeVersion = mutable.HashMap.empty[String, Long] // unit -> version its merge wrote
  // traced-section bookkeeping for the per-commit layer figures
  private var files = Map.empty[String, Long]
  private val added = mutable.ArrayBuffer.empty[(Int, Long, Int)] // (data files, log bytes, delta rows)
  private var writtenBytes = 0L

  private var base: IndexedSeq[Gen.Row] = _

  def generate(): Unit = {
    base = Gen.cdcBase(seed, Sizes.CdcBaseRows)
    curation.foreach(_.generate())
  }

  /** Version written by the merge of step `s`: one per merge, one per optimize. */
  private def versionOf(s: Int, pads: Int): Int = pads + s + (s - 1) / Sizes.CdcMaintenanceEvery

  def build(dir: Path): Unit = {
    src = dir.resolve("source").toString
    rep = dir.resolve("replica").toString
    TxnLake.commit(spark, base.toDF(), src, "overwrite")
    val every = Sizes.CdcCheckpointEvery
    val pads = if (traced) (every - versionOf(Sizes.CdcWarmSteps + 1, 0) % every) % every else 0
    val empty = base.take(0).toDF()
    (1 to pads).foreach(_ => TxnLake.commit(spark, empty, src, "append"))
    feed = new TxnReplicaFeed(src, rep, "perfbench-replica", "event_id")
    require(feed.poll(spark) == pads + 1, "replica bootstrap must apply every version")
    model.clear()
    base.foreach(r => model(r.event_id) = r)
    live = base.size
    step = 0
    curation.foreach(_.build(dir.resolve("curation")))
  }

  def warm(): Unit = {
    (1 to Sizes.CdcWarmSteps).foreach(k => unit(0, -k))
    curation.foreach(_.warm())
  }

  override def tracedTail(): Unit = curation.foreach(_.unit(0, 0))

  /** Files a commit wrote under the source table since the last call
    * (traced sections only: listing is not free). */
  private def relist(): Map[String, Long] =
    if (!trace.enabled) Map.empty
    else {
      val now = Listing.sizes(Paths.get(src))
      val fresh = now.filter { case (p, sz) => !files.get(p).contains(sz) }
      writtenBytes += fresh.values.sum
      files = now
      fresh
    }

  def unit(client: Int, i: Int): Unit = {
    step += 1
    val unitId = s"s$step"
    val d = Gen.cdcDelta(seed, step, live, Sizes.CdcUpdates, Sizes.CdcInserts)
    val df = d.toDF()
    if (trace.enabled && files.isEmpty) files = Listing.sizes(Paths.get(src))
    val v = rec.timed("merge", "merge", unitId, d.size) {
      trace.span("sources.txnlake.merge") { TxnLake.mergeInto(spark, df, src, "event_id") }
    }(_ => None)
    v.foreach(mergeVersion(unitId) = _)
    if (trace.enabled) {
      val (log, data) = relist().partition(_._1.contains("_txn_log"))
      added += ((data.keys.count(_.endsWith(".parquet")), log.values.sum, d.size))
    }
    d.foreach(r => model(r.event_id) = r)
    live += Sizes.CdcInserts
    hop(unitId)
    if (step % Sizes.CdcMaintenanceEvery == 0) {
      rec.timed("optimize", "optimize", unitId, 0) {
        trace.span("sources.txnlake.optimize") { TxnLake.optimize(spark, src) }
      }(_ => None)
      relist()
      hop(unitId)
      val id = Gen.cdcId(seed, new java.util.Random(seed + step).nextInt(live))
      rec.timed("readwhere", "readwhere", unitId, 0) {
        trace.span("sources.txnlake.readwhere") {
          TxnLake.readWhere(spark, src, col("event_id") === id).as[Gen.Row].collect()
        }
      } { rows =>
        if (rows.toSeq == Seq(model(id))) None else Some(s"readWhere($id) = ${rows.toSeq}")
      }
    }
  }

  private def hop(unitId: String): Unit = {
    val want = if (corrupt && firstTimedHop && rec.section != "warm") 2 else 1
    if (rec.section != "warm") firstTimedHop = false
    rec.timed("hop", "hop", unitId, 0) {
      trace.span("streaming.replica.hop") { feed.poll(spark) }
    }(n => if (n == want) None else Some(s"hop applied $n versions, expected $want"))
  }

  override def check(ops: Seq[Op]): Seq[Op] = {
    def rows(t: String) = TxnLake.read(spark, t).as[Gen.Row].collect().map(r => r.event_id -> r).toMap
    val want = model.toMap
    val errs = Seq(
      if (rows(src) != want) Some("source differs from the latest-per-key model") else None,
      if (rows(rep) != want) Some("replica differs from the latest-per-key model") else None,
      Some(feed.poll(spark)).filter(_ != 0).map(n => s"final poll applied $n versions")).flatten
    val checked = curation.fold(ops)(_.check(ops))
    if (errs.isEmpty) checked
    else checked.map(op => if (op.kind == "merge" && op.ok) op.copy(ok = false, err = errs.mkString("; ")) else op)
  }

  override def layers(trace: Trace, ops: Seq[Op]): Map[String, Double] = {
    val m = trace.perCall("sources.txnlake.merge")
    val h = trace.perCall("streaming.replica.hop")
    val detail = TxnLake.describeDetail(spark, src)
    // merges that wrote a checkpoint, from all three timed sections: the
    // traced half alone holds one or two merges
    val ckptMs = ops.collect { case op if op.kind == "merge" && op.ok && op.section != "warm" &&
      mergeVersion.get(op.unit).exists(_ % Sizes.CdcCheckpointEvery == 0) => (op.endNs - op.startNs) / 1e6 }
    val userBytes = added.map(_._3).sum * detail.sizeBytes.toDouble / math.max(1L, detail.numRows)
    val n = math.max(1, added.size)
    Map(
      "sources.txnlake.merge_ms_p50" -> m.wallMsP50,
      "sources.txnlake.merge_ms_p50_ckpt" -> median(ckptMs),
      "sources.txnlake.jobs_per_commit" -> m.jobs,
      "sources.txnlake.task_ms_per_commit" -> m.taskMs,
      "sources.txnlake.driver_gap_ms_per_commit" -> m.driverGapMs,
      "sources.txnlake.files_added_per_commit" -> added.map(_._1).sum.toDouble / n,
      "sources.txnlake.log_kb_per_commit" -> added.map(_._2).sum / 1024.0 / n,
      "sources.txnlake.optimize_ms" -> trace.perCall("sources.txnlake.optimize").wallMsP50,
      "sources.txnlake.readwhere_ms" -> trace.perCall("sources.txnlake.readwhere").wallMsP50,
      "sources.txnlake.files_live" -> detail.numFiles.toDouble,
      "sources.txnlake.write_amp" -> (if (userBytes > 0) writtenBytes / userBytes else 0.0),
      "streaming.replica.hop_ms_p50" -> h.wallMsP50,
      "streaming.replica.jobs_per_hop" -> h.jobs,
      "streaming.replica.task_ms_per_hop" -> h.taskMs,
      "streaming.replica.driver_gap_ms_per_hop" -> h.driverGapMs) ++
      curation.fold(Map.empty[String, Double])(_.layers(trace, ops))
  }

  override def extra: Map[String, Any] =
    Map("merge_versions" -> mergeVersion.toMap) ++ curation.fold(Map.empty[String, Any])(_.extra)
}

// --------------------------------------------------------------- curation

/** `CurateCorpus.run`s over one seeded corpus, each into a fresh TxnLake
  * table: the curation tier, run by `LakeCdc`'s traced runs. */
final class CorpusCuration(spark: SparkSession, seed: Long, rec: Recorder, trace: Trace)
  extends Workload {
  import spark.implicits._
  def primary = "curate"
  private var corpusDir: String = _
  private var root: Path = _
  private var docs: IndexedSeq[Gen.Doc] = _
  private val tables = mutable.ArrayBuffer.empty[(String, String)]
  private val summaries = mutable.LinkedHashMap.empty[String, Seq[Seq[Any]]]

  def generate(): Unit = docs = Gen.corpus(seed, Sizes.CorpusDocs)
  private def write(ds: Seq[Gen.Doc], dir: String): Unit =
    ds.map(d => (d.docId, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  def build(dir: Path): Unit = {
    root = dir
    corpusDir = dir.resolve("corpus").toString
    write(docs, corpusDir)
  }

  /** One untimed run over the same corpus: after a warm-up over a
    * 500-document corpus the first run after it was still 25% slower. */
  def warm(): Unit = run("warm", 0L)
  def unit(client: Int, i: Int): Unit = run(s"u$i", i + 1L)

  private def run(id: String, batch: Long): Unit = {
    val t = root.resolve("tables").resolve(id).toString
    rec.timed("curate", "curate", id, Sizes.CorpusDocs) {
      trace.span("jobs.curate") { CurateCorpus.run(spark, corpusDir, t, batchId = batch) }
    }(r => if (r.exists(_.quarantined == 0)) None else Some(s"expectations result $r"))
    tables += id -> t
  }

  /** Each committed table's (epoch, shard) summary, recomputed from the lake
    * as CurateCorpusSpec does; the Python side compares it with the d47
    * oracle SQL run by DuckDB over the same corpus. */
  override def check(ops: Seq[Op]): Seq[Op] = {
    tables.foreach { case (id, t) =>
      summaries(id) = TxnLake.read(spark, t)
        .groupBy("epoch", "shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_red_chars")).as("sum_red_chars"),
          sum(col("n_toks")).as("sum_toks"),
          sum(col("sum_bits")).as("sum_bits"),
          min_by(col("doc_id"), col("perm")).as("head_doc"),
          max_by(col("doc_id"), col("perm")).as("tail_doc"),
          sum(col("pos") * col("doc_id") % 1000000007L).as("order_sig"))
        .orderBy("epoch", "shard").collect().toSeq.map(_.toSeq)
    }
    ops
  }

  override def layers(trace: Trace, ops: Seq[Op]): Map[String, Double] = {
    val c = trace.perCall("jobs.curate")
    val spans = trace.named("jobs.curate")
    val phases = spans.flatMap(s => trace.jobsUnder(s.id))
      .groupBy(j => Layers.phaseName(j.desc))
      .map { case (p, js) =>
        val ms = js.map(j => math.max(0L, j.end - j.start)).sum.toDouble
        val known = if (CorpusCuration.Phases.contains(p)) p else "other"
        known -> ms / math.max(1, spans.size)
      }
      .groupBy(_._1).map { case (p, xs) => p -> xs.values.sum }
    Layers.job("jobs.curate", c, Seq("wall_s", "jobs", "tasks", "task_s", "shuffle_mb",
      "spill_mb", "driver_gap_s")) ++
      (CorpusCuration.Phases :+ "other").map(p => s"jobs.curate.phase.$p.ms" -> phases.getOrElse(p, 0.0))
  }

  override def extra: Map[String, Any] = Map(
    "corpus_dir" -> corpusDir,
    "d47_sql" -> graft.SparkEntry.oracleSql("d47_curation_pipeline"),
    "d47_columns" -> Seq("epoch", "shard", "n_docs", "sum_red_chars", "sum_toks", "sum_bits",
      "head_doc", "tail_doc", "order_sig"),
    "summaries" -> summaries.toMap)
}

object CorpusCuration {
  /** Job labels the curation path sets today (sanitised); any other label
    * is summed under `other`. */
  val Phases: Seq[String] = Seq("unlabeled", "expect_quarantine-count_bN", "txn_overwrite_write_uN")
}

// ----------------------------------------------------------------- inputs

/** Writes a workload's generated inputs to files, for determinism tests. */
object Inputs {
  def write(workload: String, seed: Long, dir: Path): Unit = {
    def put(name: String, s: String): Unit =
      Files.write(dir.resolve(name), s.getBytes(StandardCharsets.UTF_8))
    workload match {
      case "quake_pipeline" =>
        UsgsGeoJson.writeBronze(dir.resolve("bronze.json").toString,
          Gen.bronze(seed, Sizes.QuakeEvents).document)
        put("slicers.txt", Gen.slicerPool(seed, Sizes.SlicerPool).map(_.key).mkString("\n"))
      case "lake_cdc" =>
        put("base.txt", Gen.cdcBase(seed, Sizes.CdcBaseRows).mkString("\n"))
        put("deltas.txt", (1 to 3).map(s => Gen.cdcDelta(seed, s, Sizes.CdcBaseRows +
          (s - 1) * Sizes.CdcInserts, Sizes.CdcUpdates, Sizes.CdcInserts).mkString("\n")).mkString("\n--\n"))
        put("corpus.txt", Gen.corpus(seed, Sizes.CorpusDocs).mkString("\n"))
      case other => sys.error(s"unknown workload $other")
    }
  }
}
