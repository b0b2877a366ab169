package graft.streaming

import java.nio.file.Files
import graft.SparkSpec
import graft.sources.{Tables, TxnLake}

/** Exactly-once contract of the transactional streaming sink: foreachBatch
  * is at-least-once (a crash between the batch side effect and the offset
  * commit re-delivers the batch), so the table must dedupe on
  * (appId, batchId) itself — TxnLake's `txn` action. These tests drive the
  * real sink end to end and then replay batches directly to prove the
  * idempotence holds at the log layer, not just the happy path. */
class TxnSinkSpec extends SparkSpec {

  private def landEvents(dir: String): Long = {
    val df = Tables.events(SparkSpec.session, "/root/testdata/sf0.001")
      .select("event_id", "event_time", "user_id", "event_type", "value")
    df.coalesce(1).write.mode("append").parquet(dir)
    df.count()
  }

  test("streamed batches land in the txn table exactly once across restarts") {
    val s = SparkSpec.session
    val landing = Files.createTempDirectory("txnsink_landing").toString
    val table = Files.createTempDirectory("txnsink_table").toString + "/t"
    val ckpt = Files.createTempDirectory("txnsink_ckpt").toString
    val n = landEvents(landing)
    def runOnce(): Unit = EventStream.runToTxnSink(
      EventStream.readEvents(s, landing), table, ckpt, appId = "txnsink_spec")
    runOnce()
    assert(TxnLake.read(s, table).count() == n)
    // restart over the same landing dir: source offsets are committed, the
    // AvailableNow run produces no batch, the table gains no version
    val v1 = TxnLake.latestVersion(s, table)
    runOnce()
    assert(TxnLake.read(s, table).count() == n)
    assert(TxnLake.latestVersion(s, table) == v1)
    // new files land → exactly the delta is appended as the next batch
    val n2 = landEvents(landing)
    runOnce()
    assert(TxnLake.read(s, table).count() == n + n2)
  }

  test("a replayed (appId, batchId) commit is a no-op at the table") {
    val s = SparkSpec.session
    val table = Files.createTempDirectory("txnonce_table").toString + "/t"
    val batch = Tables.events(s, "/root/testdata/sf0.001").limit(10)
    val first = TxnLake.commitOnce(s, batch, table, "append", "replay_spec", 0L)
    assert(first.isDefined)
    val rows = TxnLake.read(s, table).count()
    // the crash-replay twin: same app, same batch id → skipped entirely
    val replay = TxnLake.commitOnce(s, batch, table, "append", "replay_spec", 0L)
    assert(replay.isEmpty)
    assert(TxnLake.read(s, table).count() == rows)
    assert(TxnLake.latestVersion(s, table).contains(first.get))
    // a DIFFERENT batch id from the same app is a genuine new commit
    val nextBatch = TxnLake.commitOnce(s, batch, table, "append", "replay_spec", 1L)
    assert(nextBatch.isDefined)
    assert(TxnLake.read(s, table).count() == rows * 2)
  }

  test("txn state survives interleaved plain commits and stays monotone") {
    val s = SparkSpec.session
    val table = Files.createTempDirectory("txncarry_table").toString + "/t"
    val batch = Tables.events(s, "/root/testdata/sf0.001").limit(5)
    assert(TxnLake.commitOnce(s, batch, table, "append", "carry_spec", 3L).isDefined)
    // plain (txn-less) commits in between must CARRY the cumulative map —
    // the O(1) replay check reads only the last entry
    TxnLake.commit(s, batch, table, "append")
    TxnLake.commit(s, batch, table, "overwrite")
    // replay of the old batch, and of any EARLIER batch id (monotone
    // foreachBatch contract), is still detected after the interleaving
    assert(TxnLake.commitOnce(s, batch, table, "append", "carry_spec", 3L).isEmpty)
    assert(TxnLake.commitOnce(s, batch, table, "append", "carry_spec", 2L).isEmpty)
    // a different app is independent state
    assert(TxnLake.commitOnce(s, batch, table, "append", "other_app", 0L).isDefined)
    // and the original app moves forward normally
    assert(TxnLake.commitOnce(s, batch, table, "append", "carry_spec", 4L).isDefined)
  }

  test("racing replay twins commit once under version conflicts") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val s = SparkSpec.session
    val table = Files.createTempDirectory("txnrace_table").toString + "/t"
    val batch = Tables.events(s, "/root/testdata/sf0.001").limit(5)
    // two threads delivering the SAME (appId, batchId) concurrently — at
    // most one may win; the loser must observe the winner's txn on retry
    val attempts = Await.result(Future.sequence(Seq(
      Future(TxnLake.commitOnce(s, batch, table, "append", "race_spec", 7L)),
      Future(TxnLake.commitOnce(s, batch, table, "append", "race_spec", 7L)))),
      5.minutes)
    assert(attempts.count(_.isDefined) == 1, attempts.toString)
    assert(TxnLake.read(s, table).count() == 5)
  }
}
