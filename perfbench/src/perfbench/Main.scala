package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** One timed call. `unit` groups the calls that make one unit of user work
  * (a DAG run, a page load, a CDC step, a curation run); the unit's
  * `unitItems` count only when every call in it succeeded. */
final case class Op(kind: String, name: String, section: String, client: Int, unit: String,
                    unitItems: Long, startNs: Long, endNs: Long, ok: Boolean,
                    err: String, key: String = "", digest: String = "")

/** Collects ops from any client thread. */
final class Recorder {
  private val ops = ArrayBuffer.empty[Op]
  @volatile var section = "plain"
  /** The closed-loop client the calling thread runs. */
  val client: ThreadLocal[Int] = ThreadLocal.withInitial(() => 0)
  def add(op: Op): Unit = synchronized { ops += op }
  def all: Seq[Op] = synchronized { ops.toList }

  /** Time `body`, recording it as failed (and keeping its time out of every
    * statistic) if it throws or if `check` rejects its result. */
  def timed[T](kind: String, name: String, unit: String, unitItems: Long, key: String = "")
              (body: => T)(check: T => Option[String], digest: T => String = (_: T) => ""): Option[T] = {
    val t0 = System.nanoTime()
    val res = try Right(body) catch { case e: Throwable => Left(e) }
    val t1 = System.nanoTime()
    res match {
      case Right(v) =>
        val bad = try check(v) catch { case e: Throwable => Some(s"check threw: $e") }
        add(Op(kind, name, section, client.get, unit, unitItems, t0, t1, bad.isEmpty, bad.getOrElse(""), key,
          if (bad.isEmpty) digest(v) else ""))
        if (bad.isEmpty) Some(v) else None
      case Left(e) =>
        add(Op(kind, name, section, client.get, unit, unitItems, t0, t1, ok = false, Main.describe(e), key))
        None
    }
  }
}

/** A workload: input generation (repeated, to time set-up steadily), a
  * one-time build of engine-side state from those inputs, an untimed
  * warm-up, then units of work from `clients` closed-loop clients until time
  * or an op budget runs out; checks run after the timed section. */
trait Workload {
  def clients: Int = 1
  /** The op kind whose latency is `op_ms_p50`. */
  def primary: String
  /** Generate this run's inputs from the seed. */
  def generate(): Unit
  /** Build the engine-side state the units start from, under `dir`. */
  def build(dir: Path): Unit
  /** Untimed units before the timed section. */
  def warm(): Unit
  /** Run unit `i` on `client`. */
  def unit(client: Int, i: Int): Unit
  /** Extra work at the end of a traced run's traced section, still traced. */
  def tracedTail(): Unit = ()
  /** Checks outside the timed section; marks failed ops in the returned list. */
  def check(ops: Seq[Op]): Seq[Op] = ops
  /** Per-layer metrics from the traced section. */
  def layers(trace: Trace, ops: Seq[Op]): Map[String, Double] = Map.empty
  /** Extra result fields for the Python side (oracle inputs). */
  def extra: Map[String, Any] = Map.empty
}

object Main {

  def describe(e: Throwable): String = {
    val msg = Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString
    s"${e.getClass.getSimpleName}: ${msg.take(300)}"
  }

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, ops: Int, corrupt: Boolean, genOnly: Boolean)

  private def parse(args: Array[String]): Opts = {
    val m = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("trace", "0") == "1", Paths.get(m("work")), m.getOrElse("ops", "0").toInt,
      args.contains("--corrupt"), args.contains("--gen-only"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(o.work)
    if (o.genOnly) { Inputs.write(o.workload, o.seed, o.work); return }
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count() // executor threads and the first job's class loading
    val sessionS = (System.nanoTime() - t0) / 1e9
    // "prime" only starts the session, for the build's class-data-sharing archive
    try if (o.workload != "prime") run(spark, o, sessionS) finally spark.stop()
  }

  private def secs(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  private def run(spark: SparkSession, o: Opts, sessionS: Double): Unit = {
    val rec = new Recorder
    val trace = new Trace(spark, s"${o.workload}-${o.seed}")
    val w: Workload = o.workload match {
      case "quake_pipeline" => new QuakePipeline(spark, o.seed, rec, trace, o.corrupt, o.trace)
      case "lake_cdc" => new LakeCdc(spark, o.seed, rec, trace, o.corrupt, o.trace)
      case other => sys.error(s"unknown workload $other")
    }
    val genS = (0 until GenReps).map(_ => secs(w.generate()))
    val buildS = secs(w.build(o.work.resolve("state")))
    rec.section = "warm"
    val warmS = secs(w.warm())

    // Untraced: the whole run is one timed section. Traced: untraced, traced,
    // untraced again, so a drift of the JVM's warm-up over the run cancels
    // out of the traced-versus-untraced difference (the tracing overhead).
    val sections =
      if (o.trace) Seq("plain" -> o.seconds / 4, "traced" -> o.seconds / 2, "plain2" -> o.seconds / 4)
      else Seq("plain" -> o.seconds)
    val opBudget = if (o.ops > 0) o.ops / sections.size max 1 else Int.MaxValue
    var heapMb = 0.0
    var before, after = Trace.jvmSnap()
    val starts = scala.collection.mutable.Map.empty[String, Long]
    val next = new java.util.concurrent.atomic.AtomicInteger(0) // unit ids run on across sections
    val wall = sections.map { case (name, seconds) =>
      rec.section = name
      val sampler = new Trace.HeapSampler
      if (name == "traced") { trace.start(); before = Trace.jvmSnap(); sampler.start() }
      val first = next.get()
      val t0 = System.nanoTime()
      starts(name) = t0
      val deadline = t0 + (seconds * 1e9).toLong
      val threads = (0 until w.clients).map { c =>
        val th = new Thread(() => {
          rec.client.set(c)
          var i = next.getAndIncrement()
          while (System.nanoTime() < deadline && i - first < opBudget) {
            w.unit(c, i)
            i = next.getAndIncrement()
          }
        }, s"perfbench-client-$c")
        th.start(); th
      }
      threads.foreach(_.join())
      val secs = (System.nanoTime() - t0) / 1e9
      if (name == "traced") {
        w.tracedTail()
        heapMb = sampler.finish() / Trace.MB
        after = Trace.jvmSnap()
        trace.stop()
      }
      name -> secs
    }.toMap

    val ops = w.check(rec.all)
    val layers =
      if (!o.trace) Map.empty[String, Double]
      else w.layers(trace, ops) ++ Map(
        "session.codegen.compiles" -> (after.compiles - before.compiles).toDouble,
        "session.codegen.compile_ms" -> (after.compileNs - before.compileNs) / 1e6,
        "session.jvm.gc_s" -> (after.gcMs - before.gcMs) / 1000.0,
        "session.jvm.gc_count" -> (after.gcCount - before.gcCount).toDouble,
        "session.stream_batches" -> trace.streamBatchCount.toDouble,
        "session.jvm.heap_peak_mb" -> heapMb)

    val sc = spark.sparkContext
    val out = Map[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "primary" -> w.primary,
      "setup" -> Map("session_s" -> sessionS, "generate_s" -> genS, "build_s" -> buildS,
        "warm_s" -> warmS),
      "wall_s" -> wall,
      "host" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "spark_cpus" -> graft.GraftSession.resolvedCpus,
        "default_parallelism" -> sc.defaultParallelism,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
        // whether the JVM mapped the build's class-data-sharing archive
        "cds_used" -> java.lang.management.ManagementFactory
          .getPlatformMXBean(classOf[com.sun.management.HotSpotDiagnosticMXBean])
          .getVMOption("UseSharedSpaces").getValue.toBoolean,
        "jdk" -> System.getProperty("java.version"),
        "spark" -> spark.version),
      "ops" -> ops.map(op => Map(
        "kind" -> op.kind, "name" -> op.name, "section" -> op.section, "client" -> op.client,
        "unit" -> op.unit, "unit_items" -> op.unitItems, "ms" -> (op.endNs - op.startNs) / 1e6,
        "end_s" -> (op.endNs - starts.getOrElse(op.section, op.startNs)) / 1e9, "ok" -> op.ok,
        "err" -> op.err, "key" -> op.key, "digest" -> op.digest)),
      "layers" -> layers) ++ w.extra
    Files.write(o.work.resolve("raw.json"), Json(out).getBytes(StandardCharsets.UTF_8))
    if (o.trace)
      Files.write(o.work.resolve("trace.json"), Json(trace.dump()).getBytes(StandardCharsets.UTF_8))
  }

  /** Input generation repeats this often; `setup_s` takes the median. */
  val GenReps = 3
}

/** Minimal JSON rendering for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
