package graft.sources

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions._
import scala.util.chaining._

/** Concurrent-DML conflict matrix (the r18 verdict's item 6): for each
  * racing pair, the outcome must be SOME serial order of the two
  * operations — or a loud ConcurrentModificationException when the
  * loser's retries exhaust — never a silent lost update or a torn
  * state. Identity-minting and rename-vs-writer races are covered by
  * their own suites (TxnLakeIdentitySpec, TxnLakeRenameSpec); this
  * matrix drives the remaining pairs the verdict named through one
  * shared race harness: DV-delete vs merge, update vs OPTIMIZE,
  * rename vs a CDF reader, restore vs append. A deterministic row
  * drives every writer of the optimistic loop through the
  * `withBeforeCommit` seam: one racing append, then a racer on every
  * attempt. */
class TxnLakeConflictMatrixSpec extends SparkSpec {

  private def fresh(): String =
    Files.createTempDirectory("txnlake_matrix").resolve("t").toString

  /** Found a 40-row (k, v) table in two files. */
  private def found(t: String): Unit = {
    import spark.implicits._
    (0 until 2).foreach { h =>
      TxnLake.commit(spark,
        (0 until 20).map(j => (h * 20L + j, s"v${h * 20 + j}"))
          .toDF("k", "v").coalesce(1), t, "append")
    }
  }

  /** Run the two operations CONCURRENTLY from a common barrier; each
    * side reports whether it committed (None) or threw (Some). An
    * IllegalArgument/IllegalState/ConcurrentModification escape is a
    * legal race outcome (a loud refusal); anything else rethrows. */
  private def race(opA: () => Unit, opB: () => Unit)
      : (Option[Throwable], Option[Throwable]) = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val gate = new java.util.concurrent.CyclicBarrier(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    def side(op: () => Unit) = scala.concurrent.Future {
      gate.await()
      try { op(); None }
      catch {
        case e @ (_: IllegalArgumentException | _: IllegalStateException |
                  _: java.util.ConcurrentModificationException) => Some(e)
      }
    }
    val (fa, fb) = (side(opA), side(opB))
    try scala.concurrent.Await.result(
      fa.zip(fb), scala.concurrent.duration.Duration(300, "s"))
    finally pool.shutdown()
  }

  /** One matrix row: race the pair, then require the final state to be
    * a member of the serial-order outcomes consistent with which sides
    * committed. `outcomes` maps (aCommitted, bCommitted) to the set of
    * acceptable (sorted) row collections. */
  private case class Pair(
      name: String,
      opA: String => () => Unit,
      opB: String => () => Unit,
      outcomes: (Boolean, Boolean) => Set[Seq[(Long, String)]])

  private def rowsOf(t: String): Seq[(Long, String)] =
    TxnLake.read(spark, t).select("k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq

  private val base: Seq[(Long, String)] =
    (0 until 40).map(i => (i.toLong, s"v$i"))

  private def updated(rows: Seq[(Long, String)],
                      lo: Long, hi: Long): Seq[(Long, String)] =
    rows.map { case (k, v) => if (k >= lo && k <= hi) (k, "u") else (k, v) }

  test("conflict matrix: every racing DML pair serializes or refuses " +
    "loudly — never a silent lost update") {
    import spark.implicits._
    val pairs = Seq(
      // DV-delete k<25 vs merge-update k in 20..29: both serial orders
      // agree (deleted rows' updates are moot), so the only acceptable
      // committed-committed state is rows 25..39 with 25..29 updated
      Pair("dv-delete vs merge",
        t => () => { TxnLake.deleteWhere(spark, t, col("k") < 25L); () },
        t => () => {
          TxnLake.mergeIntoClauses(spark,
            (20L to 29L).map(k => (k, "u")).toDF("k", "v"), t, "k",
            matched = Seq(TxnLake.MergeUpdate(
              Map("v" -> TxnLake.sourceCol("v")))))
          ()
        },
        (a, b) => Set(
          (if (a) base.filter(_._1 >= 25L) else base)
            .pipe(r => if (b) updated(r, 20L, 29L) else r))),
      // update vs OPTIMIZE: optimize is row-preserving, so the rows
      // depend only on whether the update landed
      Pair("update vs optimize",
        t => () => {
          TxnLake.updateWhere(spark, t, col("k") === 5L,
            Map("v" -> lit("u")))
          ()
        },
        t => () => { TxnLake.optimize(spark, t, numFiles = 2); () },
        (a, _) => Set(if (a) updated(base, 5L, 5L) else base)),
      // restore-to-v0 vs append: restore-then-append keeps the new row,
      // append-then-restore discards it — BOTH are serial orders
      Pair("restore vs append",
        t => () => { TxnLake.restore(spark, t, 0L); () },
        t => () => {
          TxnLake.commit(spark,
            Seq((999L, "new")).toDF("k", "v").coalesce(1), t, "append")
          ()
        },
        (a, b) => {
          val v0 = base.take(20) // founding commit = first 20 rows
          val post = if (a) v0 else base
          if (b) Set(post, post :+ (999L, "new")) else Set(post)
        }))
    pairs.foreach { p =>
      val t = fresh()
      found(t)
      val (ea, eb) = race(p.opA(t), p.opB(t))
      val got = rowsOf(t)
      val allowed = p.outcomes(ea.isEmpty, eb.isEmpty)
      assert(allowed.exists(_ == got),
        s"[${p.name}] final state is no serial order of the race " +
          s"(A=${ea.map(_.getClass.getSimpleName)}, " +
          s"B=${eb.map(_.getClass.getSimpleName)}): got ${got.take(8)}… " +
          s"size ${got.size}, allowed sizes ${allowed.map(_.size)}")
    }
  }

  /** One writer routed through the optimistic loop: `run(t, n)` drives it
    * with `maxAttempts = n` on a [[found]] table (after `prep`), and
    * `expect` maps the rows the table holds when it starts to the rows
    * the writer must leave. `dv` writers land `_dv/<salt>` sidecars;
    * `cow` writers run on a table with deletion vectors turned off. */
  private case class Writer(api: String, run: (String, Int) => Unit,
                            expect: Seq[(Long, String)] => Seq[(Long, String)],
                            prep: String => Unit = _ => (),
                            dv: Boolean = false, cow: Boolean = false) {
    def name: String = if (cow) s"$api (copy-on-write)" else api
  }

  private def saltDirs(t: String): Int = {
    val dv = new java.io.File(t, "_dv")
    if (dv.isDirectory) dv.listFiles().count(_.isDirectory) else 0
  }

  test("conflict matrix: every routed writer recomputes over an append " +
    "racing its first attempt, and refuses loudly — naming op and table " +
    "— when a racer beats every attempt") {
    import spark.implicits._
    val race = (1000L, "race")
    def append(t: String): Long = TxnLake.commit(spark,
      Seq(race).toDF("k", "v").coalesce(1), t, "append")
    val fresh2k = Seq((2000L, "c"))
    val writers = Seq(
      Writer("commit", (t, n) => TxnLake.commit(spark,
          fresh2k.toDF("k", "v").coalesce(1), t, "append", maxAttempts = n),
        _ ++ fresh2k),
      Writer("commitOnce", (t, n) => TxnLake.commitOnce(spark,
          fresh2k.toDF("k", "v").coalesce(1), t, "append", "app", 1L,
          maxAttempts = n),
        _ ++ fresh2k),
      Writer("optimize",
        (t, n) => TxnLake.optimize(spark, t, numFiles = 2, maxAttempts = n),
        identity),
      Writer("optimizeWhere",
        (t, n) => TxnLake.optimizeWhere(spark, t, col("k") < 40L,
          maxAttempts = n), identity),
      Writer("compactSmallFiles",
        (t, n) => TxnLake.compactSmallFiles(spark, t, 1L << 30,
          maxAttempts = n), identity),
      Writer("deleteWhere",
        (t, n) => TxnLake.deleteWhere(spark, t, col("k") === 5L, n),
        _.filterNot(_._1 == 5L), cow = true),
      Writer("deleteWhere",
        (t, n) => TxnLake.deleteWhere(spark, t, col("k") === 5L, n),
        _.filterNot(_._1 == 5L), dv = true),
      Writer("updateWhere",
        (t, n) => TxnLake.updateWhere(spark, t, col("k") === 5L,
          Map("v" -> lit("u")), n),
        updated(_, 5L, 5L), cow = true),
      Writer("updateWhere",
        (t, n) => TxnLake.updateWhere(spark, t, col("k") === 5L,
          Map("v" -> lit("u")), n),
        updated(_, 5L, 5L), dv = true),
      // a merge-on-read MERGE: masks k = 5 and 6, adds the post-image of
      // 5 and the insert of 3000 in one commit
      Writer("mergeIntoClauses",
        (t, n) => TxnLake.mergeIntoClauses(spark,
          Seq((5L, "u", "U"), (6L, "", "D"), (3000L, "n", "U"))
            .toDF("k", "v", "op"), t, "k",
          matched = Seq(
            TxnLake.MergeDelete(Some(TxnLake.sourceCol("op") === "D")),
            TxnLake.MergeUpdate(Map("v" -> TxnLake.sourceCol("v")))),
          notMatched = Seq(TxnLake.MergeInsert(
            Map("k" -> col("k"), "v" -> col("v")))),
          maxAttempts = n),
        rows => (updated(rows, 5L, 5L).filterNot(_._1 == 6L) :+
          ((3000L, "n"))).sortBy(_._1), dv = true),
      Writer("purgeDeletionVectors",
        (t, n) => TxnLake.purgeDeletionVectors(spark, t, n),
        identity, prep = t => TxnLake.deleteWhere(spark, t, col("k") === 7L)),
      Writer("addColumn",
        (t, n) => TxnLake.addColumn(spark, t, "extra",
          org.apache.spark.sql.types.StringType, n), identity),
      // restore-to-v0 recomputed AFTER the append is the serial order
      // append-then-restore: the racer's rows leave the snapshot, its
      // commit stays in the history
      Writer("restore", (t, n) => TxnLake.restore(spark, t, 0L, n),
        _ => base.take(20)))
    writers.foreach { w =>
      def setUp(t: String): Unit = {
        found(t)
        if (w.cow) TxnLake.setDeletionVectors(spark, t, enabled = false)
        w.prep(t)
      }
      val t = fresh()
      setUp(t)
      val pre = rowsOf(t)
      var racer = -1L
      var attempts = 0
      TxnLake.withBeforeCommit { () =>
        attempts += 1
        if (racer < 0) racer = append(t)
      } { w.run(t, 10) }
      assert(attempts == 2 &&
        TxnLake.latestVersion(spark, t).contains(racer + 1),
        s"[${w.name}] must conflict once and recompute on top of the " +
          s"racer (attempts=$attempts, racer=v$racer, " +
          s"latest=${TxnLake.latestVersion(spark, t)})")
      assert(rowsOf(t) == w.expect((pre :+ race).sortBy(_._1)),
        s"[${w.name}] lost or mangled rows: ${rowsOf(t).take(8)}…")
      assert(TxnLake.readVersion(spark, t, racer).collect().length ==
        pre.size + 1, s"[${w.name}] the racer's commit must stay in history")
      val entry = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        Files.readString(java.nio.file.Paths.get(t, "_txn_log",
          s"v${racer + 1}.json")))
      assert(Seq("protocol", "ts", "schema", "txns").forall(entry.has) &&
        entry.get("protocol").get("reader").asInt() == 2,
        s"[${w.name}] its entry must carry the protocol-2 state: $entry")
      if (w.dv) assert(saltDirs(t) == 1,
        s"[${w.name}] the conflicted attempt's sidecars must be removed")

      val t2 = fresh()
      setUp(t2)
      val dvBefore = saltDirs(t2)
      val e = intercept[java.util.ConcurrentModificationException] {
        TxnLake.withBeforeCommit(() => { append(t2); () }) { w.run(t2, 2) }
      }
      assert(e.getMessage.contains(s"TxnLake.${w.api}:") &&
        e.getMessage.contains(t2), s"[${w.name}] ${e.getMessage}")
      assert(saltDirs(t2) == dvBefore,
        s"[${w.name}] an exhausted writer must leave no sidecar dir behind")
    }
  }

  test("conflict matrix: a CDF reader racing a rename sees ONE coherent " +
    "naming per result — either era, never a phantom mix") {
    import spark.implicits._
    val t = fresh()
    found(t)
    TxnLake.updateWhere(spark, t, col("k") === 3L, Map("v" -> lit("u")))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val renamer = scala.concurrent.Future {
      Thread.sleep(20)
      TxnLake.renameColumn(spark, t, "v", "val", maxAttempts = 200)
    }
    val readers = scala.concurrent.Future {
      (0 until 6).map { _ =>
        val latest = TxnLake.latestVersion(spark, t).get
        val feed = TxnLake.tableChanges(spark, t, 0L, latest, "k")
        val cols = feed.columns.toSeq
        val dataCol = if (cols.contains("val")) "val" else "v"
        val nulls = feed.filter(col(dataCol).isNull).count()
        (cols, nulls)
      }
    }
    val results = try scala.concurrent.Await.result(
      readers, scala.concurrent.duration.Duration(300, "s"))
    finally {
      scala.concurrent.Await.ready(renamer,
        scala.concurrent.duration.Duration(300, "s"))
      pool.shutdown()
    }
    results.foreach { case (cols, nulls) =>
      assert(cols.contains("v") ^ cols.contains("val"),
        s"a feed must speak exactly one era's naming: $cols")
      assert(nulls == 0L,
        s"no hop may null-fill into a phantom column: $cols")
    }
  }
}
