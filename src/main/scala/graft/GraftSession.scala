package graft

import org.apache.spark.sql.SparkSession

/** One place to build a correctly-configured local session.
  *
  * These settings mirror what a production cluster deployment would set per
  * job (shuffle parallelism sized to cores, AQE on for runtime re-planning,
  * UTC session time zone for oracle parity). `nanosAsLong` is required to
  * scan the driver-generated `events` table (nanosecond parquet timestamps).
  */
object GraftSession {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new graft.expressions.GraftExtensions)
      .master(s"local[$cpus]")
      // shuffle parallelism follows core count locally; a cluster scales
      // this with data volume (or lets AQE coalesce from a high target) —
      // the override exists so ScaleStress can demonstrate exactly that
      // (SCALE.md factor-100: spill at 32 partitions is the pinned-knob
      // artifact, not an operator property)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      // Spark 4 keys the generated-class cache by (classloader, source) and
      // gives every session clone an isolated artifact classloader — so each
      // streaming-query start (and this engine's lifecycle queries start
      // several per invocation) recompiled its entire per-batch plan suite:
      // measured 7/7/7 Janino compilations for three starts of an IDENTICAL
      // pipeline (a codegen-counting probe, round 20), ~80 recompiles per x46/x63
      // invocation burning ~1 s of task time each run. This engine adds no
      // session artifacts, so isolation buys nothing; sharing the classloader
      // restores cross-start codegen cache hits. Any long-lived driver that
      // starts many streams wants this unless it actually ships session jars.
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Spark 4 walks the JVM stack on EVERY DataFrame/Column operation
      // to attach a call-site fragment to potential error messages
      // (DataFrameQueryContext). This engine builds tens of thousands of
      // Column expressions per lifecycle query (stack sampling caught
      // StackTraceElement.initStackTraceElements under
      // CurrentOrigin.withOrigin on the stream-execution thread); the
      // context is diagnostics-only — semantics and results are
      // unaffected — so a throughput-oriented driver turns it off.
      .config("spark.sql.dataFrameQueryContext.enabled", "false")
      // managed (bucketed) tables land in tmp, not the repo working dir;
      // per-process suffix so concurrent JVMs never race on table dirs
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft_warehouse_${ProcessHandle.current().pid()}")
      .config("spark.ui.enabled", "false")
      // The app-status listeners retain job/stage/SQL-execution history
      // even with the UI off; across a 90+-query session the listener bus
      // cost grows and taxes every job submission — iterative operators
      // (30+ jobs per run) inflate ~2x in-session vs isolated. Keep only a
      // small rolling window; a long-lived production driver wants this too.
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "8")
      // The generated-class cache defaults to 100 entries; a 100+-query
      // session holds several codegen units per query, so by late session
      // every execution thrashes the cache and pays Janino recompilation
      // on plans that ran minutes ago. Long-lived drivers (Thrift server,
      // notebook, this registry) want the cache sized to the workload —
      // the classes themselves live in the (already sized) code cache.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // Fork-free local FS (see graft.sources.NioLocalFileSystem): without
      // libhadoop, RawLocalFileSystem forks a chmod PROCESS per created
      // file; a streaming-ingest lifecycle creates 100+ files (parquet
      // parts, .crc twins, log entries, sidecars, checkpoint files) and
      // burned ~0.5-1 s/query in fork+exec. java.nio chmod instead. The
      // FileSystem handle cache key is unchanged by the custom impl.
      .config("spark.hadoop.fs.file.impl", "graft.sources.NioLocalFileSystem")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "graft.sources.NioLocalFs")

  /** Default executor-thread count = every host core (the deployment
    * contract: one local[N] JVM using the whole box, shuffle partitions
    * to match). The old default of 4 silently capped every harness main
    * that forgot SPARK_GRAFT_CPUS — measured 3x inflation on CPU-bound
    * verification stages — while the test suites pin their own 4-thread
    * session explicitly and are unaffected. */
  def resolvedCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors().toString)

  def local(cpus: String = resolvedCpus): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
