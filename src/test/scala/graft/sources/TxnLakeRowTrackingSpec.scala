package graft.sources

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Row tracking — Delta's baseRowId + materialized row ids: every added
  * file reserves a fresh contiguous base range at commit time (zero
  * write cost for appends — fresh ids are VIRTUAL, `brid + row_index`),
  * and every engine rewrite (CoW update/delete, DV update, OPTIMIZE,
  * compaction, purge, merge) carries the ids it read as a physical
  * `__graft_rid` column that takes precedence on later reads. Ids are
  * unique, never reissued (the mark is monotone through restore and
  * clone), and invisible to plain reads. */
class TxnLakeRowTrackingSpec extends SparkSpec {

  private def fresh(): String =
    Files.createTempDirectory("txnlake_rid").resolve("t").toString

  private def rids(t: String): Map[Long, Long] =
    TxnLake.readWithRowIds(spark, t).select("k", TxnLake.RidCol)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("appends expose contiguous virtual ids per file with zero write " +
    "cost; plain reads never see the column; writers may not supply it") {
    import spark.implicits._
    val t = fresh()
    TxnLake.commit(spark,
      (0L until 10L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1),
      t, "append")
    TxnLake.commit(spark,
      (10L until 25L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1),
      t, "append")
    assert(TxnLake.rowTrackingAvailable(spark, t))
    val m = rids(t)
    assert(m.keySet == (0L until 25L).toSet)
    assert(m.values.toSeq.sorted == (0L until 25L).toSeq,
      s"two sorted single-file appends must mint ids 0..24: $m")
    // the sorted single-partition append maps row order to row_index
    assert((0L until 25L).forall(i => m(i) == i))
    // NOTHING materialized: the appended files carry only the two data
    // columns (fresh ids are virtual — appends pay no write cost)
    val physical = spark.read.parquet(
      new org.apache.hadoop.fs.Path(t,
        TxnLake.snapshotFiles(spark, t).head.path).toString)
    assert(!physical.columns.contains(TxnLake.RidCol),
      "appends must not materialize the row-id column")
    // plain reads never see it
    assert(!TxnLake.read(spark, t).columns.contains(TxnLake.RidCol))
    // the PLAN is the 100 TB contract: per-file base ids join in from a
    // BROADCAST of the driver-resident file list — the row-id read must
    // stay SHUFFLE-FREE (an exchange here would reshuffle the whole
    // table to attach metadata it already has)
    assert(graft.plans.PlanChecks.shuffleFree(
      TxnLake.readWithRowIds(spark, t)),
      "readWithRowIds must not shuffle the data side")
    // reserved: a writer-supplied column refuses
    intercept[IllegalArgumentException] {
      TxnLake.commit(spark, Seq((99L, "x")).toDF("k", "v")
        .withColumn(TxnLake.RidCol, lit(7L)), t, "append")
    }
  }

  test("ids survive CoW delete, CoW update, OPTIMIZE, compaction, and " +
    "DV purge — each rewrite materializes what it read") {
    import spark.implicits._
    val t = fresh()
    Seq(0L until 50L, 50L until 100L).foreach { r =>
      TxnLake.commit(spark, r.map(i => (i, s"v$i")).toDF("k", "v")
        .coalesce(1), t, "append")
    }
    val before = rids(t)
    // CoW delete: survivors keep their ids
    TxnLake.deleteWhere(spark, t, col("k") >= 10L && col("k") < 20L)
    val afterDel = rids(t)
    assert(afterDel == before.filterNot { case (k, _) => k >= 10 && k < 20 },
      "a copy-on-write delete must preserve surviving rows' ids")
    // CoW update: values change, ids do not
    TxnLake.updateWhere(spark, t, col("k") < 5L, Map("v" -> lit("u")))
    assert(rids(t) == afterDel, "a CoW update must not reassign ids")
    assert(TxnLake.read(spark, t).filter(col("v") === "u").count() == 5)
    // OPTIMIZE: whole-snapshot rewrite, ids stable
    TxnLake.optimize(spark, t, zorderBy = Seq("k"), numFiles = 3)
    assert(rids(t) == afterDel, "OPTIMIZE must preserve every id")
    // compaction: ids stable
    TxnLake.compactSmallFiles(spark, t, minFileBytes = 1L << 30)
    assert(rids(t) == afterDel, "compaction must preserve every id")
    // DV delete then purge: both preserve ids
    TxnLake.deleteWhere(spark, t, col("k") === 30L)
    val afterDv = rids(t)
    assert(afterDv == afterDel - 30L,
      "a DV delete must not shift surviving ids")
    TxnLake.purgeDeletionVectors(spark, t)
    assert(rids(t) == afterDv, "purging DVs must preserve every id")
    // rewrites NEVER reissue a deleted row's id: fresh mints stay above
    TxnLake.commit(spark, Seq((200L, "n")).toDF("k", "v").coalesce(1),
      t, "append")
    val fin = rids(t)
    assert(fin(200L) > before.values.max,
      "fresh ids must mint above every historical id")
  }

  test("a DV UPDATE's post-images carry the pre-images' ids; merge " +
    "carries matched ids and mints fresh ones for inserts") {
    import spark.implicits._
    import TxnLake.{MergeInsert, MergeUpdate, sourceCol}
    val t = fresh()
    TxnLake.commit(spark,
      (0L until 20L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1),
      t, "append")
    val before = rids(t)
    TxnLake.updateWhere(spark, t, col("k") === 7L, Map("v" -> lit("dv")))
    val afterDvU = rids(t)
    assert(afterDvU == before,
      "a merge-on-read UPDATE must keep the updated row's id")
    assert(TxnLake.read(spark, t).filter(col("k") === 7L)
      .select("v").head().getString(0) == "dv")
    // merge: update k=3, insert k=100/101
    val batch = Seq((3L, "m"), (100L, "m"), (101L, "m")).toDF("k", "v")
      .coalesce(1)
    TxnLake.mergeIntoClauses(spark, batch, t, "k",
      matched = Seq(MergeUpdate(Map("v" -> sourceCol("v")))),
      notMatched = Seq(MergeInsert(Map("k" -> col("k"), "v" -> col("v")))))
    val afterMerge = rids(t)
    assert(afterMerge(3L) == before(3L),
      "a merge UPDATE must carry the matched row's id")
    assert((before.keySet - 3L).forall(k => afterMerge(k) == before(k)),
      "rows the merge did not touch keep their ids")
    val minted = Seq(100L, 101L).map(afterMerge)
    assert(minted.distinct.size == 2 && minted.forall(_ > before.values.max),
      s"merge inserts must mint fresh unique ids above the mark: $minted")
  }

  test("ids are stable through RESTORE and CLONE; the mark is monotone " +
    "so rolled-past ids never reissue") {
    import spark.implicits._
    val t = fresh()
    TxnLake.commit(spark,
      (0L until 8L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1),
      t, "append") // v0
    val orig = rids(t)
    TxnLake.deleteWhere(spark, t, col("k") >= 6L) // v1: rewrite
    TxnLake.commit(spark, Seq((50L, "x")).toDF("k", "v").coalesce(1),
      t, "append") // v2
    val preRestore = rids(t)
    TxnLake.restore(spark, t, 0L)
    val restored = rids(t)
    assert(restored == orig,
      "RESTORE must bring back the snapshot's ids verbatim")
    // post-restore mints stay above EVERY id ever handed out — including
    // the rolled-past rewrite's fresh ranges
    TxnLake.commit(spark, Seq((60L, "y")).toDF("k", "v").coalesce(1),
      t, "append")
    val after = rids(t)
    assert(after(60L) > preRestore.values.max,
      "the row-id mark must stay monotone through a restore")
    // clone: identical ids on the clone, for both shallow and deep
    Seq(true, false).foreach { shallow =>
      val c = Files.createTempDirectory("txnlake_rid").resolve("c").toString
      TxnLake.cloneTable(spark, t, c, shallow = shallow)
      assert(rids(c) == after,
        s"clone(shallow=$shallow) must carry every row id verbatim")
    }
  }

  test("time travel reads historical ids; schema evolution and evolved " +
    "merges keep tracking live") {
    import spark.implicits._
    import TxnLake.{MergeInsert, MergeUpdate, sourceCol}
    val t = fresh()
    TxnLake.commit(spark,
      (0L until 5L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1),
      t, "append")
    val v0 = TxnLake.latestVersion(spark, t).get
    val ids0 = rids(t)
    TxnLake.updateWhere(spark, t, col("k") === 2L, Map("v" -> lit("u")))
    // historical version still answers with ITS ids
    val hist = TxnLake.readWithRowIds(spark, t, Some(v0))
      .select("k", TxnLake.RidCol).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hist == ids0, "time travel must expose the version's own ids")
    // evolved merge (adds a column) still carries ids
    val src = Seq((1L, "m", 9L), (30L, "m", 9L)).toDF("k", "v", "extra")
      .coalesce(1)
    TxnLake.mergeIntoClauses(spark, src, t, "k",
      matched = Seq(MergeUpdate(Map("extra" -> sourceCol("extra")))),
      notMatched = Seq(MergeInsert(Map("k" -> col("k"), "v" -> col("v"),
        "extra" -> col("extra")))),
      evolveSchema = true)
    val m = rids(t)
    assert(m(1L) == ids0(1L),
      "an evolving merge must still carry matched ids")
    assert(TxnLake.rowTrackingAvailable(spark, t))
    assert(m.values.toSeq.distinct.size == m.size)
  }

  test("tableChangesByRowId pairs pre/post images by stable identity: " +
    "a REKEYING update classifies as the update it is, DV deletes and " +
    "merges carry ids, and no user key is needed") {
    import spark.implicits._
    import TxnLake.{MergeInsert, MergeUpdate, sourceCol}
    val t = fresh()
    TxnLake.commit(spark,
      (0L until 10L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1),
      t, "append") // v0: rids 0..9
    // v1: REKEY row k=3 (k is the only thing that changes)
    TxnLake.updateWhere(spark, t, col("k") === 3L, Map("k" -> lit(300L)))
    val v1 = TxnLake.latestVersion(spark, t).get
    // the USER-KEY feed must see a rekey as delete+insert (key identity)
    val byKey = TxnLake.tableChanges(spark, t, 0L, v1, "k")
      .select("change_type").collect().map(_.getString(0)).sorted.toSeq
    assert(byKey == Seq("delete", "insert"),
      s"user-key feed classifies a rekey as delete+insert: $byKey")
    // the ROW-ID feed sees the same hop as ONE update pair, same rid
    val byRid = TxnLake.tableChangesByRowId(spark, t, 0L, v1)
    val pair = byRid.select("change_type", TxnLake.RidCol, "k")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(pair.map(_._1).toSeq ==
      Seq("update_postimage", "update_preimage"))
    assert(pair(0)._2 == pair(1)._2 && pair(0)._2 == 3L,
      s"both images must carry the SAME row id: $pair")
    assert(pair.map(_._3).sorted.toSeq == Seq(3L, 300L))
    // v2: DV delete — the delete row carries its id
    TxnLake.deleteWhere(spark, t, col("k") === 7L)
    val v2 = TxnLake.latestVersion(spark, t).get
    val dvRow = TxnLake.tableChangesByRowId(spark, t, v1, v2)
      .select("change_type", TxnLake.RidCol).collect()
    assert(dvRow.length == 1 && dvRow.head.getString(0) == "delete"
      && dvRow.head.getLong(1) == 7L)
    // v3: merge (update k=5, insert k=500) — carried id for the update
    // pair, a fresh id for the insert
    TxnLake.mergeIntoClauses(spark,
      Seq((5L, "m"), (500L, "m")).toDF("k", "v").coalesce(1), t, "k",
      matched = Seq(MergeUpdate(Map("v" -> sourceCol("v")))),
      notMatched = Seq(MergeInsert(Map("k" -> col("k"), "v" -> col("v")))))
    val v3 = TxnLake.latestVersion(spark, t).get
    val hop = TxnLake.tableChangesByRowId(spark, t, v2, v3)
      .select("change_type", TxnLake.RidCol).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hop("update_preimage") == 5L && hop("update_postimage") == 5L)
    assert(hop("insert") > 9L, s"merge insert draws a fresh id: $hop")
    // the whole-range feed equals the per-hop union, and OPTIMIZE is
    // silent in it
    TxnLake.optimize(spark, t, numFiles = 2)
    val v4 = TxnLake.latestVersion(spark, t).get
    assert(TxnLake.tableChangesByRowId(spark, t, v3, v4).isEmpty,
      "maintenance must be silent in the row-id feed too")
    val full = TxnLake.tableChangesByRowId(spark, t, 0L, v4)
    assert(full.count() ==
      TxnLake.tableChangesByRowId(spark, t, 0L, v1).count()
        + dvRow.length + hop.size)
  }
}
