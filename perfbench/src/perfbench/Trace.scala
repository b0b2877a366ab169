package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans around each call into an engine layer, plus the Spark jobs,
  * stages and tasks each span caused. A span stamps its id on the calling
  * thread's Spark local properties, so a job is attributed to the span
  * that submitted it even when several clients run at once. Everything is
  * kept in memory and read only after the listener bus has drained. */
final class Trace(spark: SparkSession, val runId: String) {
  import Trace._

  private val sc: SparkContext = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  val spans = new ConcurrentLinkedQueue[Span]()
  @volatile var enabled = false

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val streamBatches = new AtomicLong(0)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong).getOrElse(-1L)
      val desc = props.flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      val j = new Job(e.jobId, span, desc, e.time, e.stageIds.size)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.put(s, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = stageJob.get(e.stageId)
      val m = e.taskMetrics
      if (j != null && m != null) j.synchronized {
        j.tasks += 1
        j.taskMs += m.executorRunTime
        j.inputBytes += m.inputMetrics.bytesRead
        j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.diskBytesSpilled
        val sub = stageSubmit.get(e.stageId)
        if (sub != null && e.taskInfo != null) j.schedWaitMs += math.max(0L, e.taskInfo.launchTime - sub)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      streamBatches.incrementAndGet()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
    enabled = true
  }

  /** Stop recording and wait until every queued listener event is delivered. */
  def stop(): Unit = {
    enabled = false
    org.apache.spark.GraftListenerShim.waitUntilListenerBusEmpty(sc)
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }

  def streamBatchCount: Long = streamBatches.get()

  /** Run `body` as span `name`; untraced runs only pay the branch. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      val prevProp = sc.getLocalProperty(SpanProp)
      stack.set(id :: parents)
      sc.setLocalProperty(SpanProp, id.toString)
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var ok = false
      try { val r = body; ok = true; r }
      finally {
        val t1 = System.nanoTime()
        sc.setLocalProperty(SpanProp, prevProp)
        stack.set(parents)
        spans.add(Span(id, parents.headOption.getOrElse(0L), name, runId, t0, t1, w0,
          w0 + (t1 - t0) / 1000000L, ok))
      }
    }

  /** Completed spans called `name`. */
  def named(name: String): Seq[Span] = spans.asScala.filter(s => s.name == name && s.ok).toSeq

  /** Mean Spark work per call of the spans called `name`. */
  def perCall(name: String): Calls = {
    val ss = named(name)
    val per = ss.map { s =>
      val js = jobsUnder(s.id)
      val busy = unionMs(js.map(j => (math.max(j.start, s.startMs), math.min(j.end, s.endMs))))
      (js, math.max(0.0, s.ms - busy))
    }
    def mean(f: Seq[Job] => Double): Double =
      if (per.isEmpty) 0.0 else per.map(p => f(p._1)).sum / per.size
    Calls(ss.size, median(ss.map(_.ms)),
      mean(_.size.toDouble), mean(_.map(_.tasks).sum.toDouble),
      mean(_.map(_.taskMs).sum.toDouble), mean(_.map(_.inputBytes).sum / MB),
      mean(_.map(_.shuffleBytes).sum / MB), mean(_.map(_.spillBytes).sum / MB),
      mean(_.map(_.schedWaitMs).sum.toDouble),
      if (per.isEmpty) 0.0 else per.map(_._2).sum / per.size)
  }

  /** Every span with the Spark work attributed to it, for `trace.json`. */
  def dump(): Seq[Map[String, Any]] = {
    val byspan = jobs.values.asScala.groupBy(_.span)
    spans.asScala.toSeq.sortBy(_.id).map { s =>
      val js = byspan.getOrElse(s.id, Nil).toSeq.sortBy(_.id)
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "run" -> s.runId,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "ok" -> s.ok,
        "jobs" -> js.map(j => Map("id" -> j.id, "desc" -> j.desc, "stages" -> j.stages,
          "tasks" -> j.tasks, "task_ms" -> j.taskMs, "start_ms" -> j.start, "end_ms" -> j.end)))
    }
  }

  /** Jobs whose span is `spanId` or one of its descendants. */
  def jobsUnder(spanId: Long): Seq[Job] = {
    val children = spans.asScala.groupBy(_.parent)
    def walk(s: Long): Seq[Long] = s +: children.getOrElse(s, Nil).toSeq.flatMap(c => walk(c.id))
    val all = walk(spanId).toSet
    jobs.values.asScala.filter(j => all(j.span)).toSeq
  }
}

object Trace {
  val SpanProp = "perfbench.span"

  final case class Span(id: Long, parent: Long, name: String, runId: String,
                        startNs: Long, endNs: Long, startMs: Long, endMs: Long, ok: Boolean) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  /** Per-call means over a layer's spans (`wallMsP50` is the median). */
  final case class Calls(n: Int, wallMsP50: Double, jobs: Double, tasks: Double,
                         taskMs: Double, inputMb: Double, shuffleMb: Double, spillMb: Double,
                         schedWaitMs: Double, driverGapMs: Double)

  val MB = 1048576.0

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 when there are no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  final class Job(val id: Int, val span: Long, val desc: String, val start: Long, val stages: Int) {
    @volatile var end: Long = -1L
    var tasks = 0L
    var taskMs = 0L
    var inputBytes = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var schedWaitMs = 0L
  }

  /** Length of the union of [start, end] intervals, in ms. */
  def unionMs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(i => i._2 >= i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** JVM-wide counters read at the edges of a timed section. */
  final case class JvmSnap(gcCount: Long, gcMs: Long, compiles: Long, compileNs: Long)

  def jvmSnap(): JvmSnap = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    JvmSnap(gcs.map(_.getCollectionCount.max(0L)).sum, gcs.map(_.getCollectionTime.max(0L)).sum,
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)
  }

  /** Samples used heap every 20 ms while running. */
  final class HeapSampler extends Thread("perfbench-heap") {
    setDaemon(true)
    @volatile private var running = true
    @volatile var peakBytes = 0L
    private val mem = ManagementFactory.getMemoryMXBean
    override def run(): Unit =
      while (running) {
        peakBytes = math.max(peakBytes, mem.getHeapMemoryUsage.getUsed)
        Thread.sleep(20)
      }
    def finish(): Long = { running = false; join(); peakBytes }
  }
}
