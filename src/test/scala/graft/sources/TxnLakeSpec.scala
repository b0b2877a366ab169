package graft.sources

import graft.SparkSpec
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** The transaction-log lake protocol: atomic overwrite snapshots,
  * snapshot-isolated concurrent readers, time travel, append, optimistic
  * multi-writer commits, and vacuum reclamation. */
class TxnLakeSpec extends SparkSpec {

  private def freshTable(): String =
    Files.createTempDirectory("txnlake_spec").resolve("t").toString

  test("overwrite commits snapshots; latest wins; old versions time-travel") {
    import spark.implicits._
    val t = freshTable()
    val v0 = TxnLake.commit(spark, Seq(1, 2, 3).toDF("x"), t, "overwrite")
    val v1 = TxnLake.commit(spark, Seq(10, 20).toDF("x"), t, "overwrite")
    assert(v0 == 0 && v1 == 1)
    assert(TxnLake.read(spark, t).collect().map(_.getInt(0)).sorted.toSeq == Seq(10, 20))
    assert(TxnLake.readVersion(spark, t, 0).collect().map(_.getInt(0)).sorted.toSeq
      == Seq(1, 2, 3))
  }

  test("TIMESTAMP AS OF resolves to the latest commit at-or-before the " +
    "instant and refuses a pre-history timestamp") {
    import spark.implicits._
    val t = freshTable()
    TxnLake.commit(spark, Seq(1, 2, 3).toDF("x"), t, "append") // v0
    val t0 = TxnLake.commitTimestamp(spark, t, 0L)
    // force a strictly-later mtime for v1 (ms-resolution local fs)
    while (System.currentTimeMillis() <= t0 + 1) Thread.sleep(2)
    TxnLake.commit(spark, Seq(10, 20).toDF("x"), t, "append") // v1
    val t1 = TxnLake.commitTimestamp(spark, t, 1L)
    assert(t1 > t0, "fixture: distinct commit instants")
    assert(TxnLake.versionAsOf(spark, t, t0).contains(0L)
      && TxnLake.versionAsOf(spark, t, t1 - 1).contains(0L)
      && TxnLake.versionAsOf(spark, t, t1).contains(1L)
      && TxnLake.versionAsOf(spark, t, t1 + 60000).contains(1L),
      "latest version at-or-before the instant wins")
    assert(TxnLake.readAsOf(spark, t, t0).collect().map(_.getInt(0)).sorted
      .toSeq == Seq(1, 2, 3))
    assert(TxnLake.readAsOf(spark, t, t1).count() == 5)
    assert(TxnLake.versionAsOf(spark, t, t0 - 1).isEmpty)
    val e = intercept[IllegalArgumentException] {
      TxnLake.readAsOf(spark, t, t0 - 1)
    }
    assert(e.getMessage.contains("predates the first commit")
      && e.getMessage.contains(t0.toString),
      s"the refusal must name the earliest readable instant: ${e.getMessage}")
    // IN-COMMIT timestamps: the instant lives in the entry bytes, so a
    // migration/copy that rewrites log-file mtimes (the object-store
    // hazard) cannot corrupt time travel
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(t, "_txn_log", "v0.json"),
      java.nio.file.attribute.FileTime.fromMillis(0L))
    assert(TxnLake.commitTimestamp(spark, t, 0L) == t0,
      "the commit instant must survive an mtime rewrite")
    assert(TxnLake.versionAsOf(spark, t, t0).contains(0L))
  }

  test("RESTORE TO TIMESTAMP rolls back to the instant's snapshot " +
    "metadata-only; a pre-history instant refuses") {
    import spark.implicits._
    val t = freshTable()
    TxnLake.commit(spark, Seq(1, 2, 3).toDF("x"), t, "append") // v0
    val t0 = TxnLake.commitTimestamp(spark, t, 0L)
    while (System.currentTimeMillis() <= t0 + 1) Thread.sleep(2)
    TxnLake.commit(spark, Seq(10, 20).toDF("x"), t, "append") // v1
    val vR = TxnLake.restoreAsOf(spark, t, t0)
    assert(vR == 2L && TxnLake.read(spark, t).count() == 3,
      "the restore lands as a new metadata commit at the t0 snapshot")
    assert(TxnLake.readVersion(spark, t, 1L).count() == 5,
      "the rolled-past version still time-travels")
    intercept[IllegalArgumentException] {
      TxnLake.restoreAsOf(spark, t, t0 - 1)
    }
  }

  test("an in-flight reader keeps its snapshot across a concurrent overwrite") {
    import spark.implicits._
    val t = freshTable()
    TxnLake.commit(spark, Seq(1, 2, 3).toDF("x"), t, "overwrite")
    // reader resolves the log ONCE here (the isolation contract): the
    // DataFrame is bound to v0's immutable files
    val reader = TxnLake.read(spark, t)
    TxnLake.commit(spark, Seq(99).toDF("x"), t, "overwrite")
    assert(reader.collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 3),
      "overwrite mutated a resolved reader's snapshot")
    assert(TxnLake.read(spark, t).collect().map(_.getInt(0)).toSeq == Seq(99))
  }

  test("an EMPTY append still records its txn and keeps the table readable") {
    // the index-reconciliation edge (x33/x34 sinks): a batch whose rows
    // were all quarantined commits an empty index increment — the txn
    // MUST land (or the watermark never advances and every later sink
    // invocation re-runs the rebuild), and reads must survive a version
    // with zero data rows
    import spark.implicits._
    val t = freshTable()
    TxnLake.commitOnce(spark, Seq((1L, "a")).toDF("k", "v"), t, "append",
      "spec_empty", 0L)
    val empty = Seq.empty[(Long, String)].toDF("k", "v")
    val v = TxnLake.commitOnce(spark, empty, t, "append", "spec_empty", 1L)
    assert(v.contains(1L), s"empty append must commit a version, got $v")
    assert(TxnLake.lastTxn(spark, t, "spec_empty").contains(1L),
      "empty append must advance the app's txn watermark")
    assert(TxnLake.read(spark, t).collect().map(_.getLong(0)).toSeq == Seq(1L),
      "table with an empty version must read back its real rows")
    // replay of the empty batch is still a no-op
    assert(TxnLake.commitOnce(spark, empty, t, "append", "spec_empty", 1L).isEmpty)
  }

  test("append accumulates rows across versions") {
    import spark.implicits._
    val t = freshTable()
    TxnLake.commit(spark, Seq(1).toDF("x"), t, "append")
    TxnLake.commit(spark, Seq(2).toDF("x"), t, "append")
    TxnLake.commit(spark, Seq(3).toDF("x"), t, "append")
    assert(TxnLake.read(spark, t).collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 3))
  }

  test("racing appenders all commit under optimistic concurrency, no lost rows") {
    import spark.implicits._
    val t = freshTable()
    val threads = 4
    val perThread = 3
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = (0 until threads).flatMap { th =>
        (0 until perThread).map { i =>
          pool.submit(new java.util.concurrent.Callable[Long] {
            def call(): Long =
              TxnLake.commit(spark, Seq(th * 100 + i).toDF("x"), t, "append",
                maxAttempts = 50)
          })
        }
      }
      val versions = futures.map(_.get())
      assert(versions.distinct.length == threads * perThread,
        s"duplicate committed versions: $versions")
    } finally pool.shutdown()
    val rows = TxnLake.read(spark, t).collect().map(_.getInt(0)).sorted.toSeq
    assert(rows.length == threads * perThread, s"lost commits: $rows")
  }

  test("txnVersion locates each batch's commit and proves absence early") {
    import spark.implicits._
    val t = freshTable()
    // app txns interleaved with plain commits: the bounded newest-first
    // scan must keep walking past non-matching entries whose cumulative
    // map still records batch >= target, and stop (None) the moment the
    // map proves the target batch hadn't committed yet
    val va = TxnLake.commitOnce(spark, Seq(1).toDF("x"), t, "append", "appA", 0L)
    TxnLake.commit(spark, Seq(2).toDF("x"), t, "append")
    val vb = TxnLake.commitOnce(spark, Seq(3).toDF("x"), t, "append", "appA", 1L)
    TxnLake.commit(spark, Seq(4).toDF("x"), t, "append")
    assert(TxnLake.txnVersion(spark, t, "appA", 0L) == va)
    assert(TxnLake.txnVersion(spark, t, "appA", 1L) == vb)
    // beyond the app's watermark and unknown app: absent, proven from the
    // FIRST entry's cumulative map without scanning the history
    assert(TxnLake.txnVersion(spark, t, "appA", 2L).isEmpty)
    assert(TxnLake.txnVersion(spark, t, "appB", 0L).isEmpty)
  }

  test("compactSmallFiles packs only small files; big files carry over verbatim") {
    import spark.implicits._
    val t = freshTable()
    TxnLake.commit(spark, (0 until 5000).toDF("x").coalesce(1), t, "append")
    (0 until 4).foreach { i =>
      TxnLake.commit(spark, Seq(10000 + i).toDF("x").coalesce(1), t, "append")
    }
    val preV = TxnLake.latestVersion(spark, t).get
    val sized = TxnLake.snapshotFileSizes(spark, t)
    assert(sized.size == 5)
    val bigPath = sized.maxBy(_._2)._1
    val v = TxnLake.compactSmallFiles(spark, t,
      minFileBytes = sized.map(_._2).max)
    assert(v.isDefined)
    val after = TxnLake.snapshotFiles(spark, t)
    // the big file's PHYSICAL path carries over — incremental compaction
    // must never rewrite bytes it did not pack
    assert(after.exists(_.path == bigPath), after.map(_.path).mkString(","))
    assert(after.size == 2, after.map(_.path).mkString(","))
    val rows = TxnLake.read(spark, t).collect().map(_.getInt(0)).sorted
    assert(rows.length == 5004 && rows.takeRight(4).toSeq ==
      Seq(10000, 10001, 10002, 10003))
    // pre-compaction version still time-travels (the log carries deltas)
    assert(TxnLake.readVersion(spark, t, preV).count() == 5004)
    // a single remaining small file is NOT re-packed forever
    assert(TxnLake.compactSmallFiles(spark, t,
      minFileBytes = sized.map(_._2).max).isEmpty)
  }

  test("vacuum reclaims dead files inside still-live dirs (compaction debt)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    // one commit writes a MIXED dir — a big file and a small file (skewed
    // range split) — then a single-file append provides the second small
    // file; compaction packs the two smalls, so the mixed dir stays LIVE
    // (big file referenced) while carrying one dead file
    val mixed = (0 until 5000).map(i => (if (i < 4900) 0 else 1, i))
      .toDF("k", "x").repartitionByRange(2, col("k"))
    TxnLake.commit(spark, mixed, t, "append")
    TxnLake.commit(spark, Seq((9, 99999)).toDF("k", "x").coalesce(1), t, "append")
    val sized = TxnLake.snapshotFileSizes(spark, t)
    assert(sized.size == 3, sized.mkString(","))
    val bigPath = sized.maxBy(_._2)._1
    TxnLake.compactSmallFiles(spark, t, minFileBytes = sized.map(_._2).max)
    val reclaimed = TxnLake.vacuum(spark, t, retainVersions = 1)
    assert(reclaimed == 2,
      s"both packed-away small files must reclaim (one inside a live dir), " +
        s"got $reclaimed")
    // the mixed dir survives with ONLY the big file physically present…
    val after = TxnLake.snapshotFiles(spark, t)
    assert(after.exists(_.path == bigPath))
    val bigDir = new java.io.File(t, bigPath.split("/").take(2).mkString("/"))
    assert(bigDir.listFiles().count(_.getName.endsWith(".parquet")) == 1,
      bigDir.listFiles().map(_.getName).mkString(","))
    // …content intact, and time travel to the partially-reclaimed version
    // raises the GUIDED error (a dir-granular liveness check would pass
    // and fail mid-scan instead)
    assert(TxnLake.read(spark, t).count() == 5001)
    val e = intercept[IllegalStateException] {
      TxnLake.readVersion(spark, t, 0)
    }
    assert(e.getMessage.contains("vacuumed"), e.getMessage)
  }

  test("vacuum reclaims only versions outside the retention window") {
    import spark.implicits._
    val t = freshTable()
    TxnLake.commit(spark, Seq(1).toDF("x"), t, "overwrite")
    TxnLake.commit(spark, Seq(2).toDF("x"), t, "overwrite")
    TxnLake.commit(spark, Seq(3).toDF("x"), t, "overwrite")
    val reclaimed = TxnLake.vacuum(spark, t, retainVersions = 1)
    assert(reclaimed == 2)
    assert(TxnLake.read(spark, t).collect().map(_.getInt(0)).toSeq == Seq(3))
    // the reclaimed snapshot's files are gone — time travel past retention fails
    intercept[Exception] {
      TxnLake.readVersion(spark, t, 0).collect()
    }
  }

  test("mergeInto upserts delta rows, inserts unmatched, null updates win") {
    import spark.implicits._
    val t = freshTable()
    TxnLake.commit(spark,
      Seq((1L, Option("a")), (2L, Option("b")), (3L, Option("c")))
        .toDF("k", "v"), t, "overwrite")
    // update k=2 (to null — must WIN over "b"), update k=3, insert k=4
    val v = TxnLake.mergeInto(spark,
      Seq((2L, Option.empty[String]), (3L, Option("C")), (4L, Option("d")))
        .toDF("k", "v"), t, "k")
    val got = TxnLake.read(spark, t).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got == Map(1L -> Some("a"), 2L -> None, 3L -> Some("C"), 4L -> Some("d")))
    // one commit: the pre-merge snapshot still time-travels
    assert(TxnLake.readVersion(spark, t, v - 1).count() == 3)
    // merge into an absent table is a plain insert
    val t2 = freshTable()
    TxnLake.mergeInto(spark, Seq((9L, Option("z"))).toDF("k", "v"), t2, "k")
    assert(TxnLake.read(spark, t2).count() == 1)
    // type-mismatched delta with matching names is rejected up front
    intercept[IllegalArgumentException] {
      TxnLake.mergeInto(spark, Seq((7L, 1)).toDF("k", "v"), t, "k")
    }
    assert(TxnLake.latestVersion(spark, t).contains(v))
  }

  test("BronzeToSilver runs unchanged on the TxnLake format") {
    val lake = Files.createTempDirectory("txnlake_b2s").toString
    graft.ingest.UsgsGeoJson.writeBronze(s"$lake/bronze/raw.json")
    val viaParquet = graft.jobs.BronzeToSilver.run(
      spark, s"$lake/bronze/raw.json", s"$lake/silver_parquet")
    val viaTxn = graft.jobs.BronzeToSilver.run(
      spark, s"$lake/bronze/raw.json", s"$lake/silver_txn",
      lake = TxnLake)
    assert(viaTxn.count() == viaParquet.count())
    assert(viaTxn.columns.sorted.toSeq == viaParquet.columns.sorted.toSeq)
    // the txn table is versioned: a re-run commits a new snapshot
    graft.jobs.BronzeToSilver.run(
      spark, s"$lake/bronze/raw.json", s"$lake/silver_txn", lake = TxnLake)
    assert(TxnLake.latestVersion(spark, s"$lake/silver_txn").contains(1L))
  }

  test("LakeFormat interface round-trips through the log") {
    import spark.implicits._
    val t = freshTable()
    TxnLake.write(Seq((1, "a"), (2, "b")).toDF("k", "v"), t, Seq.empty)
    val back = TxnLake.read(spark, t).collect().map(r => (r.getInt(0), r.getString(1)))
    assert(back.sorted.toSeq == Seq((1, "a"), (2, "b")))
  }

  // ---- delta-encoded log + checkpoints --------------------------------

  test("log entries are deltas: an append's entry size is O(changed files)") {
    import spark.implicits._
    val t = freshTable()
    TxnLake.commit(spark, (1 to 100).toDF("x").repartition(8), t, "append")
    TxnLake.commit(spark, Seq(101).toDF("x").coalesce(1), t, "append")
    val e0 = java.nio.file.Files.readString(
      java.nio.file.Paths.get(t, "_txn_log", "v0.json"))
    val e1 = java.nio.file.Files.readString(
      java.nio.file.Paths.get(t, "_txn_log", "v1.json"))
    def nFiles(s: String) = """"path":""".r.findAllIn(s).length
    assert(nFiles(e0) == 8)
    // the append entry names ONLY its own file — not the 8 it inherits
    assert(nFiles(e1) == 1, s"append entry re-lists the snapshot: $e1")
    assert(!e1.contains("v0-"), "append entry references version-0 files")
    // yet the resolved snapshot is cumulative
    assert(TxnLake.read(spark, t).count() == 101)
  }

  test("an entry without the protocol action, or naming a newer reader, " +
    "is refused naming the table and the version") {
    import spark.implicits._
    val t = freshTable()
    (0 to 2).foreach(i =>
      TxnLake.commit(spark, Seq(i).toDF("x").coalesce(1), t, "append"))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def rewrite(v: Long)(edit: com.fasterxml.jackson.databind.node.ObjectNode => Unit): Unit = {
      val p = java.nio.file.Paths.get(t, "_txn_log", s"v$v.json")
      val n = mapper.readTree(java.nio.file.Files.readString(p))
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      assert(n.get("protocol").get("reader").asInt() == 2 &&
        n.get("protocol").get("writer").asInt() == 2)
      edit(n)
      java.nio.file.Files.writeString(p, mapper.writeValueAsString(n))
      // a distinct mtime, so no cached parse of the old bytes can answer
      java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(1000L + v))
    }
    rewrite(1L)(n => n.get("protocol")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .put("reader", 3))
    rewrite(2L)(_.remove("protocol"))
    val newer = intercept[IllegalStateException] {
      TxnLake.readVersion(spark, t, 1L).collect()
    }
    assert(newer.getMessage.contains("version 1 of " + t) &&
      newer.getMessage.contains("reader protocol 3"), newer.getMessage)
    val missing = intercept[IllegalStateException] {
      TxnLake.commitInfo(spark, t, 2L)
    }
    assert(missing.getMessage.contains("version 2 of " + t) &&
      missing.getMessage.contains("no protocol"), missing.getMessage)
    // a writer refuses too: its commit reads the latest entry first
    intercept[IllegalStateException] {
      TxnLake.commit(spark, Seq(9).toDF("x"), t, "append")
    }
    // the intact entry below them still reads
    assert(TxnLake.readVersion(spark, t, 0L).count() == 1)
  }

  test("checkpoints bound tail replay and preserve resolution + time travel") {
    import spark.implicits._
    val t = freshTable()
    (0 to 24).foreach { i =>
      TxnLake.commit(spark, Seq(i).toDF("x").coalesce(1), t, "append")
    }
    val log = java.nio.file.Paths.get(t, "_txn_log")
    val names = {
      val st = java.nio.file.Files.list(log)
      try st.iterator().asScala.map(_.getFileName.toString).toSet
      finally st.close()
    }
    assert(names.contains("v10.ckpt") && names.contains("v20.ckpt"), names)
    val head = java.nio.file.Files.readAllBytes(log.resolve("v10.ckpt")).take(4)
    assert(new String(head, "US-ASCII") == "PAR1", "checkpoint is not parquet")
    // resolution across checkpoints is exact at every version
    assert(TxnLake.read(spark, t).count() == 25)
    assert(TxnLake.readVersion(spark, t, 9).count() == 10)   // pre-ckpt
    assert(TxnLake.readVersion(spark, t, 10).count() == 11)  // at ckpt
    assert(TxnLake.readVersion(spark, t, 17).count() == 18)  // ckpt + tail
    // an overwrite after checkpoints drops history from the resolved state
    TxnLake.commit(spark, Seq(999).toDF("x"), t, "overwrite")
    assert(TxnLake.read(spark, t).collect().map(_.getInt(0)).toSeq == Seq(999))
    assert(TxnLake.readVersion(spark, t, 20).count() == 21)
  }

  // ---- per-file stats + data skipping ---------------------------------

  test("commits record per-file column min/max stats from the footers") {
    import spark.implicits._
    val t = freshTable()
    TxnLake.commit(spark,
      Seq((1L, "a", 1.5), (9L, "m", -2.0)).toDF("k", "s", "d").coalesce(1),
      t, "overwrite")
    val files = TxnLake.snapshotFiles(spark, t)
    assert(files.length == 1)
    val st = files.head.stats
    assert(files.head.rows == 2)
    assert(st("k") == TxnLake.ColStats("l", Some("1"), Some("9"), 0))
    assert(st("s").min.contains("a") && st("s").max.contains("m"))
    assert(st("d").tag == "d" &&
      st("d").min.get.toDouble == -2.0 && st("d").max.get.toDouble == 1.5)
  }

  test("readWhere skips files whose stats exclude the predicate") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    // three disjoint-range files via three appends (strings zero-padded so
    // the lexicographic file ranges are disjoint too)
    TxnLake.commit(spark, (0 to 9).map(i => (i.toLong, f"r$i%02d")).toDF("k", "v")
      .coalesce(1), t, "append")
    TxnLake.commit(spark, (10 to 19).map(i => (i.toLong, f"r$i%02d")).toDF("k", "v")
      .coalesce(1), t, "append")
    TxnLake.commit(spark, (20 to 29).map(i => (i.toLong, f"r$i%02d")).toDF("k", "v")
      .coalesce(1), t, "append")
    val pred = col("k") >= 12L && col("k") < 15L
    val (kept, total) = TxnLake.skippingStats(spark, t, pred)
    assert(total == 3 && kept == 1, s"kept $kept of $total")
    assert(TxnLake.readWhere(spark, t, pred).collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(12L, 13L, 14L))
    // equality, IN, and disjunction shapes
    assert(TxnLake.skippingStats(spark, t, col("k") === 25L)._1 == 1)
    assert(TxnLake.skippingStats(spark, t,
      col("k").isin(3L, 27L))._1 == 2)
    assert(TxnLake.skippingStats(spark, t,
      col("k") === 5L || col("k") === 15L)._1 == 2)
    // string stats prune too
    assert(TxnLake.skippingStats(spark, t, col("v") === "r25")._1 == 1)
    // a predicate no file admits: zero files, schema-preserving empty scan
    val none = TxnLake.readWhere(spark, t, col("k") > 1000L)
    assert(TxnLake.skippingStats(spark, t, col("k") > 1000L)._1 == 0)
    assert(none.columns.toSeq == Seq("k", "v") && none.count() == 0)
    // unsupported shapes are conservative: kept, and row-level still right
    val weird = TxnLake.readWhere(spark, t, col("k") % 10 === 3L)
    assert(weird.collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 13L, 23L))
  }

  test("readWhere honors time travel: pruning runs against the pinned version") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    TxnLake.commit(spark, Seq(1L).toDF("k").coalesce(1), t, "append")
    TxnLake.commit(spark, Seq(100L).toDF("k").coalesce(1), t, "append")
    assert(TxnLake.readWhere(spark, t, col("k") > 50L, version = Some(0L))
      .count() == 0)
    assert(TxnLake.readWhere(spark, t, col("k") > 50L).count() == 1)
  }

  // ---- OPTIMIZE as a commit -------------------------------------------

  test("optimize preserves the row multiset and the version history") {
    import spark.implicits._
    val t = freshTable()
    (0 until 6).foreach { i =>
      TxnLake.commit(spark,
        Seq(i * 2, i * 2 + 1).toDF("x").coalesce(1), t, "append")
    }
    assert(TxnLake.snapshotFiles(spark, t).length == 6)
    // a reader resolved BEFORE the optimize keeps its snapshot
    val reader = TxnLake.read(spark, t)
    val vOpt = TxnLake.optimize(spark, t, numFiles = 2)
    assert(vOpt == 6)
    val after = TxnLake.snapshotFiles(spark, t)
    assert(after.length == 2, s"expected 2 rewritten files, got ${after.length}")
    assert(TxnLake.read(spark, t).collect().map(_.getInt(0)).sorted.toSeq
      == (0 until 12).toSeq)
    assert(reader.collect().map(_.getInt(0)).sorted.toSeq == (0 until 12).toSeq)
    // pre-optimize versions still time-travel
    assert(TxnLake.readVersion(spark, t, 5).count() == 12)
    assert(TxnLake.readVersion(spark, t, 2).count() == 6)
    // vacuum reclaims the replaced pre-optimize dirs; latest stays readable
    val reclaimed = TxnLake.vacuum(spark, t, retainVersions = 1)
    assert(reclaimed == 6)
    assert(TxnLake.read(spark, t).count() == 12)
  }

  test("optimize zorder clusters files so either dimension prunes") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    // a grid scattered across commits: pre-optimize, every file spans the
    // whole range of both dims, so nothing prunes
    val grid = for (x <- 0 until 16; y <- 0 until 16) yield (x.toLong, y.toLong)
    TxnLake.commit(spark,
      scala.util.Random.shuffle(grid).toDF("x", "y").repartition(8),
      t, "overwrite")
    val before = TxnLake.skippingStats(spark, t, col("x") < 4L)
    assert(before._2 == 8 && before._1 == 8, s"pre-optimize: $before")
    TxnLake.optimize(spark, t, zorderBy = Seq("x", "y"), numFiles = 4)
    assert(TxnLake.read(spark, t).count() == 256)
    val ax = TxnLake.skippingStats(spark, t, col("x") < 4L)
    val ay = TxnLake.skippingStats(spark, t, col("y") < 4L)
    assert(ax._1 < ax._2, s"x predicate prunes nothing after zorder: $ax")
    assert(ay._1 < ay._2, s"y predicate prunes nothing after zorder: $ay")
  }

  test("large commits harvest footer stats in a job, not a driver loop") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    // 24 files > DriverHarvestMax: the footer reads must fan out
    TxnLake.commit(spark, (0 until 1200).map(i => (i.toLong, i.toString))
      .toDF("k", "v").repartition(24), t, "overwrite")
    assert(TxnLake.lastHarvestDistributed,
      "a 24-file overwrite harvested stats serially on the driver")
    val files = TxnLake.snapshotFiles(spark, t)
    assert(files.length == 24)
    // the distributed harvest produced real, usable bounds
    assert(files.forall(_.stats.get("k").exists(s =>
      s.min.isDefined && s.max.isDefined)))
    assert(TxnLake.skippingStats(spark, t, col("k") === 3L)._1 < 24)
    // the append hot path stays an inline driver loop (no job overhead)
    TxnLake.commit(spark, Seq((9999L, "z")).toDF("k", "v").coalesce(1),
      t, "append")
    assert(!TxnLake.lastHarvestDistributed)
  }

  test("reading a vacuumed version raises a clear error, not a scan failure") {
    import spark.implicits._
    val t = freshTable()
    TxnLake.commit(spark, Seq(1).toDF("x"), t, "overwrite")
    TxnLake.commit(spark, Seq(2).toDF("x"), t, "overwrite")
    TxnLake.vacuum(spark, t, retainVersions = 1)
    val e = intercept[IllegalStateException] {
      TxnLake.readVersion(spark, t, 0)
    }
    assert(e.getMessage.contains("vacuumed"), e.getMessage)
    // readWhere surfaces the same diagnosis
    import org.apache.spark.sql.functions.col
    val e2 = intercept[IllegalStateException] {
      TxnLake.readWhere(spark, t, col("x") === 1, version = Some(0L))
    }
    assert(e2.getMessage.contains("vacuumed"), e2.getMessage)
    // the retained version still reads
    assert(TxnLake.read(spark, t).collect().map(_.getInt(0)).toSeq == Seq(2))
  }

  test("optimize clusters 3 zorder dimensions (k-dim Morton interleave)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    // 4096 rows over three independent high-cardinality dimensions (odd
    // multipliers mod 2^12 are bijections, so each dim is a uniform
    // permutation of 0..4095 — enough distinct values to occupy every
    // rank cell; a dim with fewer distinct values than 2^bits would
    // occupy only the LOW cells and weight the interleave toward the
    // others, the same property Delta's range_partition_id cube has)
    val df = spark.range(4096).select(
      ((col("id") * 7919) % 4096).as("a"),
      ((col("id") * 104729) % 4096).as("b"),
      ((col("id") * 15485863) % 4096).as("c"))
    TxnLake.commit(spark, df.repartition(8), t, "overwrite")
    val v = TxnLake.optimize(spark, t, zorderBy = Seq("a", "b", "c"),
      numFiles = 8)
    // multiset preserved
    assert(TxnLake.readVersion(spark, t, v).count() == 4096)
    assert(TxnLake.read(spark, t).select("a").distinct().count() == 4096)
    // every dimension gains per-file locality: for each of a/b/c some
    // file's min/max span is strictly below the full 0..4095 range (the
    // 3-way interleave bounds all three coordinates per z-octant)
    val stats = TxnLake.snapshotFiles(spark, t, Some(v))
    Seq("a", "b", "c").foreach { d =>
      assert(stats.exists(_.stats.get(d).exists(cs =>
        (for (mn <- cs.min; mx <- cs.max)
          yield mx.toLong - mn.toLong < 4095L).getOrElse(false))),
        s"no file has a sub-full-range span on $d")
    }
  }

  test("timestamp stats are trusted only under INT64-micros physical encoding") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    val ts = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("k", "ts")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
    try TxnLake.commit(spark, ts.coalesce(1), t, "overwrite")
    finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
    val st = TxnLake.snapshotFiles(spark, t).head.stats
    // millis-encoded bounds must NOT be recorded: prune-time literals are
    // micros, and comparing the two domains silently loses rows
    assert(!st.contains("ts"), s"millis bounds recorded: ${st.get("ts")}")
    // conservative: the file is kept, and the row-level filter still works
    val pred = col("ts") === java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    assert(TxnLake.skippingStats(spark, t, pred) == (1, 1))
    assert(TxnLake.readWhere(spark, t, pred).count() == 1)
    // an explicit INT64-micros write of the same data records bounds and
    // prunes (the session default is INT96, which never records bounds)
    val t2 = freshTable()
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try TxnLake.commit(spark, ts.coalesce(1), t2, "overwrite")
    finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
    assert(TxnLake.snapshotFiles(spark, t2).head.stats.contains("ts"))
    assert(TxnLake.skippingStats(spark, t2,
      col("ts") > java.sql.Timestamp.valueOf("2025-01-01 00:00:00"))._1 == 0)
  }

  test("±0.0 stats bounds keep files under equality predicates") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    TxnLake.commit(spark, Seq((1L, -0.0)).toDF("k", "d").coalesce(1),
      t, "overwrite")
    // simulate a foreign writer WITHOUT the parquet-mr ±0.0 normalization:
    // force the recorded bounds to min = max = -0.0
    val p0 = java.nio.file.Paths.get(t, "_txn_log", "v0.json")
    java.nio.file.Files.writeString(p0,
      java.nio.file.Files.readString(p0)
        .replaceAll(""""d":\{[^}]*\}""", """"d":{"t":"d","mn":"-0.0","mx":"-0.0","nc":0}"""))
    // Spark treats -0.0 == 0.0, so d === 0.0 must keep the file
    assert(TxnLake.skippingStats(spark, t, col("d") === 0.0)._1 == 1)
    assert(TxnLake.readWhere(spark, t, col("d") === 0.0).count() == 1)
  }

  test("optimize racing a concurrent appender loses no rows") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import spark.implicits._
    val t = freshTable()
    TxnLake.commit(spark, Seq(1, 2).toDF("x").coalesce(1), t, "append")
    TxnLake.commit(spark, Seq(3, 4).toDF("x").coalesce(1), t, "append")
    // whichever interleaving wins, optimize's pinned-base publish either
    // precedes the append (append survives on top) or detects it and
    // recomputes — the appended row must never be erased by the rewrite
    Await.result(Future.sequence(Seq(
      Future(TxnLake.optimize(spark, t, numFiles = 1, maxAttempts = 20)),
      Future(TxnLake.commit(spark, Seq(5).toDF("x").coalesce(1), t, "append",
        maxAttempts = 20)))), 5.minutes)
    assert(TxnLake.read(spark, t).collect().map(_.getInt(0)).sorted.toSeq
      == Seq(1, 2, 3, 4, 5))
  }

  test("restore re-references the target's files — metadata-only rollback") {
    import spark.implicits._
    val t = freshTable()
    TxnLake.commit(spark, Seq(1, 2).toDF("x"), t, "overwrite")
    TxnLake.commit(spark, Seq(9).toDF("x"), t, "overwrite")
    val v2 = TxnLake.restore(spark, t, 0)
    assert(v2 == 2)
    assert(TxnLake.read(spark, t).collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
    // the SAME physical files — nothing rewritten
    assert(TxnLake.snapshotFiles(spark, t, Some(2)).map(_.path).toSet ==
      TxnLake.snapshotFiles(spark, t, Some(0)).map(_.path).toSet)
    // history preserved: the rolled-past version still time-travels
    assert(TxnLake.readVersion(spark, t, 1).collect().map(_.getInt(0)).toSeq == Seq(9))
  }

  test("restore to HEAD is a no-op; restore restores the historical schema") {
    import spark.implicits._
    val t = freshTable()
    TxnLake.commit(spark, Seq(1).toDF("k"), t, "overwrite")
    assert(TxnLake.restore(spark, t, 0) == 0, "restore-to-HEAD must not commit")
    TxnLake.commit(spark, Seq((2, "x")).toDF("k", "s"), t, "append")
    TxnLake.restore(spark, t, 0)
    assert(TxnLake.read(spark, t).columns.toSeq == Seq("k"),
      "restore must carry the target version's schema, not the evolved one")
  }

  test("vacuum after restore keeps the re-referenced dirs alive") {
    import spark.implicits._
    val t = freshTable()
    TxnLake.commit(spark, Seq(1, 2).toDF("x"), t, "overwrite")
    TxnLake.commit(spark, Seq(9).toDF("x"), t, "overwrite")
    TxnLake.restore(spark, t, 0)
    TxnLake.vacuum(spark, t, retainVersions = 1)
    // v0's dirs live on through the retained restore; v1's are reclaimed
    assert(TxnLake.read(spark, t).collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
    intercept[IllegalStateException] { TxnLake.readVersion(spark, t, 1).collect() }
    // restoring past the vacuum to a reclaimed version is refused clearly
    intercept[IllegalStateException] { TxnLake.restore(spark, t, 1) }
  }

  test("append with a new column evolves the schema; old rows read as null") {
    import spark.implicits._
    val t = freshTable()
    TxnLake.commit(spark, Seq((1, "a"), (2, "b")).toDF("k", "s"), t, "overwrite")
    TxnLake.commit(spark, Seq((3, "c", 30L)).toDF("k", "s", "extra"), t, "append")
    val snap = TxnLake.read(spark, t)
    // merged schema preserves existing order, appends the new column
    assert(snap.columns.toSeq == Seq("k", "s", "extra"))
    val rows = snap.collect().map(r => (r.getInt(0),
      if (r.isNullAt(2)) -1L else r.getLong(2))).sortBy(_._1).toSeq
    assert(rows == Seq((1, -1L), (2, -1L), (3, 30L)),
      "pre-evolution rows must surface the added column as null")
  }

  test("time travel sees the historical schema, not the evolved one") {
    import spark.implicits._
    val t = freshTable()
    TxnLake.commit(spark, Seq(1).toDF("k"), t, "overwrite")
    TxnLake.commit(spark, Seq((2, "x")).toDF("k", "s"), t, "append")
    assert(TxnLake.readVersion(spark, t, 0).columns.toSeq == Seq("k"))
    assert(TxnLake.read(spark, t).columns.toSeq == Seq("k", "s"))
  }

  test("overwrite resets the schema; append type conflict is refused") {
    import spark.implicits._
    val t = freshTable()
    TxnLake.commit(spark, Seq((1, "a")).toDF("k", "s"), t, "overwrite")
    TxnLake.commit(spark, Seq(9).toDF("k"), t, "overwrite")
    assert(TxnLake.read(spark, t).columns.toSeq == Seq("k"),
      "overwrite must reset the table schema to the incoming one")
    val conflict = intercept[IllegalArgumentException] {
      TxnLake.commit(spark, Seq("not-an-int").toDF("k"), t, "append")
    }
    assert(conflict.getMessage.contains("type conflict"))
  }

  test("readWhere prunes and evolves under a predicate on the NEW column") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    TxnLake.commit(spark, Seq(1, 2).toDF("k").coalesce(1), t, "overwrite")
    TxnLake.commit(spark, Seq((3, 30L), (4, 40L)).toDF("k", "extra").coalesce(1),
      t, "append")
    // predicate on the evolved column: the pre-evolution file has no stats
    // for it -> conservatively kept; rows resolve via null-fill and the
    // row-level re-filter drops them
    val out = TxnLake.readWhere(spark, t, col("extra") === 30L)
    assert(out.collect().map(_.getInt(0)).toSeq == Seq(3))
    // predicate on the ORIGINAL column still prunes the new file
    val (kept, total) = TxnLake.skippingStats(spark, t, col("k") <= 2)
    assert(total == 2 && kept == 1,
      s"expected the k-range stats to prune the evolved file: $kept/$total")
  }

  test("restore racing a vacuum compensates and raises (TOCTOU)") {
    import spark.implicits._
    val t = freshTable()
    TxnLake.commit(spark, Seq(1, 2).toDF("x").coalesce(1), t, "overwrite") // v0
    TxnLake.commit(spark, Seq(3, 4).toDF("x").coalesce(1), t, "overwrite") // v1
    // interleaving: restore(v0) passes its liveness pre-check, then a
    // vacuum reclaims v0's files BEFORE the restore entry publishes. The
    // post-publish re-verify must detect the lost race and publish a
    // COMPENSATING commit back to the pre-restore snapshot — a published
    // entry can never be deleted (a concurrent commit may already chain
    // on it; a version gap would break every later snapshot resolution).
    val e = intercept[IllegalStateException] {
      TxnLake.restoreImpl(spark, t, 0L, maxAttempts = 10,
        beforePublish = () => { TxnLake.vacuum(spark, t, retainVersions = 1); () })
    }
    assert(e.getMessage.contains("vacuum"), e.getMessage)
    // the failed restore (v2) and its compensation (v3) are BOTH in the
    // log — no version gap — and the table reads the pre-restore rows
    assert(TxnLake.latestVersion(spark, t).contains(3L))
    assert(TxnLake.history(spark, t).map(_.operation)
      == Seq("overwrite", "overwrite", "restore", "restore"))
    assert(TxnLake.read(spark, t).collect().map(_.getInt(0)).sorted.toSeq
      == Seq(3, 4))
    // the failed restore version reads as the guided vacuumed error, not
    // a mid-scan file-not-found
    val v2 = intercept[IllegalStateException] {
      TxnLake.readVersion(spark, t, 2L).count()
    }
    assert(v2.getMessage.contains("vacuum"), v2.getMessage)
  }

  test("compensation preserves commits that chained onto the failed restore") {
    import spark.implicits._
    val t = freshTable()
    TxnLake.commit(spark, Seq(1, 2).toDF("x").coalesce(1), t, "overwrite") // v0
    TxnLake.commit(spark, Seq(3, 4).toDF("x").coalesce(1), t, "overwrite") // v1
    TxnLake.commitOnce(spark, Seq(5).toDF("x").coalesce(1), t, "append",
      "appA", 7L) // v2: app watermark 7 pre-restore
    // the race: vacuum reclaims v0 mid-restore; then, BEFORE the
    // compensation publishes, a concurrent batch chains onto the failed
    // restore with a HIGHER watermark and new rows
    intercept[IllegalStateException] {
      TxnLake.restoreImpl(spark, t, 0L, maxAttempts = 10,
        beforePublish = () => { TxnLake.vacuum(spark, t, retainVersions = 1); () },
        beforeCompensate = () => {
          TxnLake.commitOnce(spark, Seq(6).toDF("x").coalesce(1), t,
            "append", "appA", 8L)
          ()
        })
    }
    // the chained append's rows AND its advanced watermark both survive
    // the compensation (a regressed watermark would let a replay
    // double-apply batch 8)
    assert(TxnLake.read(spark, t).collect().map(_.getInt(0)).sorted.toSeq
      == Seq(3, 4, 5, 6), "compensation must preserve the chained append")
    assert(TxnLake.lastTxn(spark, t, "appA").contains(8L),
      "compensation must not regress a chained txn watermark")
  }

  test("compensation is a no-op when a chained overwrite superseded the restore") {
    import spark.implicits._
    val t = freshTable()
    TxnLake.commit(spark, Seq(1, 2).toDF("x").coalesce(1), t, "overwrite") // v0
    TxnLake.commit(spark, Seq(3, 4).toDF("x").coalesce(1), t, "overwrite") // v1
    intercept[IllegalStateException] {
      TxnLake.restoreImpl(spark, t, 0L, maxAttempts = 10,
        beforePublish = () => { TxnLake.vacuum(spark, t, retainVersions = 1); () },
        beforeCompensate = () => {
          TxnLake.commit(spark, Seq(9).toDF("x").coalesce(1), t, "overwrite")
          ()
        })
    }
    // the chained overwrite already replaced the failed restore's
    // snapshot — nothing live references the reclaimed files, so no
    // compensating entry is published (v0,v1,restore,overwrite = 0..3)
    assert(TxnLake.latestVersion(spark, t).contains(3L))
    assert(TxnLake.history(spark, t).last.operation == "overwrite")
    assert(TxnLake.read(spark, t).collect().map(_.getInt(0)).toSeq == Seq(9))
  }

  test("vacuum racing a restore recomputes and spares the restored files") {
    import spark.implicits._
    val t = freshTable()
    TxnLake.commit(spark, Seq(1, 2).toDF("x").coalesce(1), t, "overwrite") // v0
    TxnLake.commit(spark, Seq(3, 4).toDF("x").coalesce(1), t, "overwrite") // v1
    // interleaving: vacuum resolves its live set (v1 only — v0's file is
    // dead), then a restore to v0 publishes BEFORE the deletes run. The
    // re-list must see the restore commit, recompute, and spare v0's
    // files — they are live again.
    var restored = -1L
    val reclaimed = TxnLake.vacuumImpl(spark, t, retainVersions = 1,
      beforeDelete = () => { restored = TxnLake.restore(spark, t, 0L) })
    assert(restored == 2L)
    // after recompute with retain=1, only the restore snapshot (= v0's
    // files) is live; v1's file is reclaimed instead
    assert(reclaimed == 1, s"expected v1's file reclaimed, got $reclaimed")
    assert(TxnLake.read(spark, t).collect().map(_.getInt(0)).sorted.toSeq
      == Seq(1, 2), "the restored snapshot lost its files to the vacuum")
  }

  test("optimizeWhere re-clusters only in-scope files; rest carry verbatim") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    // 4 files: ids 0-9 / 10-19 / 20-29 / 30-39, values interleaved so
    // every file spans the full value range
    (0 until 4).foreach { i =>
      val df = spark.range(i * 10, i * 10 + 10)
        .select(col("id"), (col("id") % 10).as("v"))
      TxnLake.commit(spark, df.coalesce(1), t, "append")
    }
    val preV = TxnLake.latestVersion(spark, t).get
    val pre = TxnLake.snapshotFiles(spark, t, Some(preV)).map(_.path).toSet
    assert(pre.size == 4)
    val v = TxnLake.optimizeWhere(spark, t, col("id") < 20,
      zorderBy = Seq("v"), numFiles = 2).get
    val post = TxnLake.snapshotFiles(spark, t, Some(v)).map(_.path).toSet
    // the two out-of-scope files carried over with identical paths
    assert((pre intersect post).size == 2, s"pre=$pre post=$post")
    // rows preserved exactly
    assert(TxnLake.read(spark, t).count() == 40)
    assert(TxnLake.readVersion(spark, t, preV).exceptAll(
      TxnLake.readVersion(spark, t, v)).isEmpty)
    // the rewritten region is now value-clustered: v=0 lives in exactly
    // one of the two range files, so the lowest-band predicate prunes
    // the other (pre-rewrite BOTH in-scope files spanned the full range
    // and both were kept — asserted via the pre-version counter)
    val (kept0, _) = TxnLake.skippingStats(spark, t,
      col("id") < 20 && col("v") < 1, version = Some(preV))
    assert(kept0 == 2, s"fixture drift: expected 2 full-range files, $kept0")
    val (kept, _) = TxnLake.skippingStats(spark, t,
      col("id") < 20 && col("v") < 1)
    assert(kept == 1, s"expected 1 in-scope file kept under v<1, got $kept")
    // fewer than two in-scope files → no-op, no version churn
    assert(TxnLake.optimizeWhere(spark, t, col("id") >= 35,
      zorderBy = Seq("v")).isEmpty)
    assert(TxnLake.latestVersion(spark, t).contains(v))
  }

  test("deleteWhere rewrites touched files only; NULL predicate keeps rows") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    // two files: ids 0-9 (v nullable: null at id=5) and 10-19
    val low = spark.range(0, 10).select(col("id"),
      org.apache.spark.sql.functions.when(col("id") =!= 5, col("id") % 7)
        .as("v"))
    val high = spark.range(10, 20).select(col("id"),
      (col("id") % 7).as("v"))
    TxnLake.commit(spark, low.coalesce(1), t, "append")
    TxnLake.commit(spark, high.coalesce(1), t, "append")
    TxnLake.setDeletionVectors(spark, t, enabled = false)
    val pre = TxnLake.snapshotFiles(spark, t).map(_.path).toSet
    // DELETE WHERE id < 10 AND v = 5: only the low file's stats admit it;
    // id=5 has v NULL → predicate NULL → row KEPT (SQL DELETE semantics)
    val v = TxnLake.deleteWhere(spark, t, col("id") < 10 && col("v") === 5).get
    val post = TxnLake.snapshotFiles(spark, t, Some(v)).map(_.path).toSet
    assert((pre intersect post).size == 1, s"pre=$pre post=$post")
    val rows = TxnLake.read(spark, t).collect()
      .map(r => r.getLong(0)).sorted.toSeq
    // id=5 (NULL v) kept; id=12 (v=5) kept — its file was out of scope by
    // the id bound; only id=5's cell-mates with v==5 in the low file go
    val deleted = (0L until 10L).filter(i => i != 5 && i % 7 == 5)
    assert(rows == ((0L until 20L).filterNot(deleted.contains)),
      s"rows after delete: $rows")
    assert(TxnLake.history(spark, t).last.operation == "delete")
    assert(!TxnLake.commitInfo(spark, t, v).dataPreserving,
      "delete must NOT classify as data-preserving (index trust)")
    // no file admits id >= 20 → None, no version churn
    assert(TxnLake.deleteWhere(spark, t, col("id") >= 20).isEmpty)
    assert(TxnLake.latestVersion(spark, t).contains(v))
  }

  test("tableChanges walks per-commit deltas; overwrite falls back to diff") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    TxnLake.commit(spark, Seq((1, "a"), (2, "b")).toDF("k", "s").coalesce(1),
      t, "append") // v0
    TxnLake.commit(spark, Seq((3, "c")).toDF("k", "s").coalesce(1),
      t, "append") // v1: insert hop (reads only v1's file)
    TxnLake.optimize(spark, t, numFiles = 1) // v2: silent
    TxnLake.deleteWhere(spark, t, col("k") === 2).get // v3: delete hop
    // v4: overwrite — the snapshot-replacement shape, full-diff fallback
    // with update pre/post images (k=1 changes value, k=3 vanishes)
    TxnLake.commit(spark, Seq((1, "z")).toDF("k", "s").coalesce(1),
      t, "overwrite")
    val feed = TxnLake.tableChanges(spark, t, 0L, 4L, "k")
      .select("k", "s", "change_type", "commit_version").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet
    assert(feed == Set(
      (3, "c", "insert", 1L),
      (2, "b", "delete", 3L),
      (1, "a", "update_preimage", 4L),
      (1, "z", "update_postimage", 4L),
      (3, "c", "delete", 4L)), s"feed: $feed")
    // per-commit granularity: k=3 appears as BOTH its v1 insert and its
    // v4 delete (a net-effect diff would collapse the pair); optimize
    // contributed nothing; an empty range yields an empty, typed frame
    assert(TxnLake.tableChanges(spark, t, 4L, 4L, "k").isEmpty)
  }

  test("commitInfo/history classify operations; extraTxns merge monotonically") {
    import spark.implicits._
    val t = freshTable()
    TxnLake.commit(spark, Seq(1).toDF("x"), t, "overwrite")
    TxnLake.commitOnce(spark, Seq(2).toDF("x"), t, "append", "app", 0L,
      extraTxns = Map("m" -> 5L))
    TxnLake.optimize(spark, t, numFiles = 1)
    val h = TxnLake.history(spark, t)
    assert(h.map(_.operation) == Seq("overwrite", "append", "optimize"))
    assert(h.map(_.dataPreserving) == Seq(false, false, true))
    assert(h(1).txn.contains(("app", 0L)))
    assert(TxnLake.commitInfo(spark, t, 2L).dataPreserving)
    // the auxiliary watermark rides the cumulative txn map…
    assert(TxnLake.lastTxn(spark, t, "m").contains(5L))
    // …and a stale writer cannot regress it
    TxnLake.commitOnce(spark, Seq(3).toDF("x"), t, "append", "app", 1L,
      extraTxns = Map("m" -> 3L))
    assert(TxnLake.lastTxn(spark, t, "m").contains(5L),
      "extraTxns merge must be monotone")
  }

  test("in-commit timestamps are STRICTLY monotone at write time, so " +
    "readAsOf(commitTimestamp(v)) round-trips for every version") {
    import spark.implicits._
    val t = freshTable()
    // a tight commit loop lands several versions inside the same wall
    // millisecond: without the write-side max(clock, prev+1) clamp two
    // entries share a ts and the raw exposed value fails to round-trip
    (0 until 6).foreach { i =>
      TxnLake.commit(spark, Seq(i).toDF("x").coalesce(1), t, "append")
    }
    val ts = (0L to 5L).map(TxnLake.commitTimestamp(spark, t, _))
    assert(ts.sliding(2).forall { case Seq(a, b) => a < b },
      s"in-commit timestamps must be strictly increasing, got $ts")
    (0L to 5L).foreach { v =>
      assert(TxnLake.versionAsOf(spark, t, ts(v.toInt)).contains(v),
        s"commitTimestamp($v) must resolve back to version $v")
    }
    // metadata/restore publishes clamp the same way
    TxnLake.addColumn(spark, t, "y",
      org.apache.spark.sql.types.LongType) // v6
    val v7 = TxnLake.restore(spark, t, 3L) // v7
    val all = (0L to v7).map(TxnLake.commitTimestamp(spark, t, _))
    assert(all.sliding(2).forall { case Seq(a, b) => a < b },
      s"ALTER/restore entries must keep the clamp, got $all")
  }

  test("entry memo: repeated metadata getters and reads cost ZERO " +
    "physical entry reads (status-validated cache), and a table " +
    "re-founded at the same path never serves stale metadata") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    TxnLake.commit(spark,
      (0L until 20L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1),
      t, "append")
    TxnLake.addConstraint(spark, t, "k_pos", "k >= 0")
    TxnLake.renameColumn(spark, t, "v", "txt")
    // warm every getter once (parses land in the cache)
    TxnLake.tableConstraints(spark, t)
    TxnLake.columnRenames(spark, t)
    TxnLake.read(spark, t).count()
    TxnLake.readWhere(spark, t, col("k") === 3L).count()
    TxnLake.logEntryReads.set(0L)
    // the chatty second pass: every entry resolution is a cache hit
    assert(TxnLake.tableConstraints(spark, t).contains("k_pos"))
    assert(TxnLake.columnRenames(spark, t) == Map("v" -> "txt"))
    assert(TxnLake.readWhere(spark, t, col("k") === 3L).count() == 1)
    assert(TxnLake.read(spark, t).count() == 20)
    assert(TxnLake.logEntryReads.get() == 0L,
      s"repeat metadata resolution must be stat-only: " +
        s"${TxnLake.logEntryReads.get()} physical entry reads")
    // RE-FOUND the table at the same path: the memo must not serve the
    // predecessor's metadata (the status check catches the new files)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(t))
    TxnLake.commit(spark,
      Seq((1L, 2L)).toDF("a", "b").coalesce(1), t, "append")
    assert(TxnLake.tableConstraints(spark, t).isEmpty,
      "a re-founded table must not inherit the predecessor's constraints")
    assert(TxnLake.columnRenames(spark, t).isEmpty)
    assert(TxnLake.read(spark, t).columns.toSeq == Seq("a", "b"))
  }

  test("an emptied version reads back with the schema its rows had") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    TxnLake.commit(spark, Seq((1L, "a")).toDF("k", "v"), t, "overwrite")
    TxnLake.setDeletionVectors(spark, t, enabled = false)
    assert(!TxnLake.loggedSchema(spark, t, 0L)("k").nullable,
      "fixture: k is logged non-null")
    def readers(): Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "read" -> TxnLake.read(spark, t),
      "readWhere" -> TxnLake.readWhere(spark, t, col("k") > 0L),
      "readKeyed" -> TxnLake.readKeyed(spark, t, "k", Seq("1"))._1,
      "readKeyedDistributed" -> TxnLake.readKeyedDistributed(spark, t, "k",
        Seq(1L).toDF("k"))._1,
      "readWithRowIds" -> TxnLake.readWithRowIds(spark, t))
    val before = readers().map { case (n, df) =>
      assert(df.count() == 1, s"fixture: $n reads the row")
      n -> df.schema
    }.toMap
    // the copy-on-write delete logs the scan's all-nullable schema;
    // rewriting its entry to add nothing and to keep v0's logged schema
    // gives a version with no live file and a logged non-null column —
    // the reads must still answer the schema the non-empty scan had
    val v = TxnLake.deleteWhere(spark, t, col("k") === 1L).get
    val entry = java.nio.file.Paths.get(t, "_txn_log", s"v$v.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(java.nio.file.Files.readString(entry))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.putArray("add")
    node.put("schema", TxnLake.loggedSchema(spark, t, 0L).json)
    java.nio.file.Files.writeString(entry, mapper.writeValueAsString(node))
    java.nio.file.Files.setLastModifiedTime(entry,
      java.nio.file.attribute.FileTime.fromMillis(1000L))
    assert(TxnLake.snapshotFiles(spark, t).isEmpty &&
      !TxnLake.loggedSchema(spark, t, v)("k").nullable,
      "fixture: the emptied version has no live file and logs k non-null")
    readers().foreach { case (n, df) =>
      assert(df.count() == 0, s"$n of the emptied version")
      assert(df.schema == before(n),
        s"$n: ${df.schema.treeString} vs ${before(n).treeString}")
    }
  }

  test("a copy-on-write rewrite that keeps no row commits no file") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    TxnLake.commit(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .coalesce(1), t, "overwrite")
    TxnLake.setDeletionVectors(spark, t, enabled = false)
    val v = TxnLake.deleteWhere(spark, t, col("k") > 0L).get
    assert(TxnLake.snapshotFiles(spark, t).isEmpty,
      s"an emptying delete left ${TxnLake.snapshotFiles(spark, t)}")
    val dataDirs = new java.io.File(t, "data").listFiles().map(_.getName)
    assert(!dataDirs.exists(_.startsWith(s"v$v-")),
      s"the emptying delete left its data dir: ${dataDirs.toSeq}")
    val empty = TxnLake.read(spark, t)
    assert(empty.count() == 0 && empty.columns.toSeq == Seq("k", "v") &&
      empty.schema("k").dataType == org.apache.spark.sql.types.LongType,
      s"the emptied table reads typed: ${empty.schema.treeString}")
    // a later append reads back; a merge rewrite that deletes every row
    // of its scope drops its 0-row file the same way
    TxnLake.commit(spark, Seq((3L, "c"), (4L, "d")).toDF("k", "v")
      .coalesce(1), t, "append")
    assert(TxnLake.read(spark, t).count() == 2)
    TxnLake.mergeIntoClauses(spark, Seq(Tuple1(3L), Tuple1(4L)).toDF("k"), t,
      "k", matched = Seq(TxnLake.MergeDelete()))
    assert(TxnLake.snapshotFiles(spark, t).isEmpty)
    TxnLake.mergeInto(spark, Seq((5L, "e")).toDF("k", "v"), t, "k")
    assert(TxnLake.snapshotFiles(spark, t).forall(_.rows > 0L))
    assert(TxnLake.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap == Map(5L -> "e"))
  }

  test("every read resolves the latest version afresh: a commit another " +
    "writer lands between two calls is visible to the second, and a " +
    "repeat read of an unchanged version reads no log entry") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import org.apache.commons.io.FileUtils
    val t = freshTable()
    TxnLake.commit(spark, Seq((1L, "a")).toDF("k", "v"), t, "append")
    // the other writer commits v1 on a byte copy of the table; landing
    // its data dir and then its entry in `t` is that commit as another
    // process would make it, unseen by this session's writer
    val other = freshTable()
    FileUtils.copyDirectory(new java.io.File(t), new java.io.File(other))
    TxnLake.commit(spark, Seq((2L, "b")).toDF("k", "v"), other, "append")
    def calls(): Seq[Long] = Seq(
      TxnLake.read(spark, t).count(),
      TxnLake.readWhere(spark, t, col("k") > 0L).count(),
      TxnLake.snapshotFiles(spark, t).size.toLong)
    assert(calls() == Seq(1L, 1L, 1L))
    TxnLake.logEntryReads.set(0L)
    assert(calls() == Seq(1L, 1L, 1L))
    assert(TxnLake.logEntryReads.get() == 0L,
      s"a repeat read of an unchanged version read " +
        s"${TxnLake.logEntryReads.get()} log entries")
    val landed = TxnLake.snapshotFiles(spark, other, Some(1L))
      .map(_.path.split("/").take(2).mkString("/")).distinct
      .filterNot(d => new java.io.File(t, d).exists())
    landed.foreach(d => FileUtils.copyDirectory(
      new java.io.File(other, d), new java.io.File(t, d)))
    FileUtils.copyFile(new java.io.File(other, "_txn_log/v1.json"),
      new java.io.File(t, "_txn_log/v1.json"))
    assert(calls() == Seq(2L, 2L, 2L),
      "the second call must see the version the other writer landed")
    assert(TxnLake.latestVersion(spark, t).contains(1L))
  }
}
