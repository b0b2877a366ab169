package graft.sources

import graft.SparkSpec
import graft.streaming.TxnReplicaFeed
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, concat, lit}

/** Differential test of the two row-level write modes: seeded random
  * operation sequences run against a deletion-vector table, its
  * copy-on-write twin and an in-memory model. Keys are doubles drawn
  * from a pool that stresses SQL equality (NULL, -0.0 and 0.0, NaN);
  * non-NULL keys stay unique in every table, NULL keys may repeat.
  *
  * For each table, every step's version is checked against the model
  * once the sequence has run: its rows (read with row ids and through
  * `readVersion`), its `tableChanges`, and that every row surviving the
  * step keeps its row id; the rows of a `TxnReplicaFeed` replica, which
  * applies every version as its own hop, must match the final model.
  * Each of these reads is one query per table, so a sequence costs
  * few jobs beyond its writes. A NULL key pairs with nothing, so the
  * change feed reports a NULL-keyed row's change as a delete plus an
  * insert (compared as the net multiset), and a keyed replica cannot
  * address NULL-keyed rows (compared on non-NULL keys). */
class TxnLakeDifferentialSpec extends SparkSpec {

  private final case class R(k: Option[Double], v: Long, s: String)

  /** A row as compared: `doubleToLongBits` makes NaN one value and keeps
    * -0.0 apart from 0.0, so a normalized key would show. */
  private type Canon = (Option[Long], Long, String)
  private def canon(r: R): Canon =
    (r.k.map(java.lang.Double.doubleToLongBits), r.v, r.s)

  private def sqlEq(a: Option[Double], b: Option[Double]): Boolean =
    (a, b) match {
      case (Some(x), Some(y)) => (x.isNaN && y.isNaN) || x == y
      case _ => false
    }

  private val keyPool: IndexedSeq[Option[Double]] =
    IndexedSeq(None, Some(-0.0), Some(0.0), Some(Double.NaN)) ++
      (1 to 8).map(i => Some(i.toDouble))

  private sealed trait Op
  private final case class Append(rows: Seq[R]) extends Op
  private final case class Upsert(rows: Seq[R]) extends Op
  /** A CDC batch: MATCHED AND op = 'D' → DELETE, MATCHED → UPDATE v, s;
    * NOT MATCHED AND op <> 'D' → INSERT; plus an optional NOT MATCHED BY
    * SOURCE clause on `v`. */
  private final case class Cdc(rows: Seq[(R, String)], nmbs: Option[Nmbs])
      extends Op
  private final case class Nmbs(delete: Boolean, threshold: Long)
  private final case class Update(mod: Long, add: Long) extends Op
  private final case class Delete(mod: Long) extends Op
  private case object Optimize extends Op

  /** The model's effect of `op`: the new rows and the (pre, post) pairs
    * of the rows it changed (None = absent on that side). */
  private def applyModel(rows: Vector[R], op: Op)
      : (Vector[R], Seq[(Option[R], Option[R])]) = op match {
    case Append(add) => (rows ++ add, add.map(r => (None, Some(r))))
    case Upsert(delta) =>
      var out = rows
      val changes = Seq.newBuilder[(Option[R], Option[R])]
      delta.foreach { d =>
        val i = out.indexWhere(t => sqlEq(t.k, d.k))
        if (i < 0) { out = out :+ d; changes += ((None, Some(d))) }
        else {
          val t = out(i)
          val u = t.copy(v = d.v, s = d.s) // the key stays the target's
          out = out.updated(i, u)
          changes += ((Some(t), Some(u)))
        }
      }
      (out, changes.result())
    case Cdc(src, nmbs) =>
      val changes = Seq.newBuilder[(Option[R], Option[R])]
      val kept = rows.flatMap { t =>
        src.find { case (s, _) => sqlEq(s.k, t.k) } match {
          case Some((_, "D")) => changes += ((Some(t), None)); None
          case Some((s, _)) =>
            val u = t.copy(v = s.v, s = s.s)
            changes += ((Some(t), Some(u))); Some(u)
          case None => nmbs match {
            case Some(Nmbs(true, th)) if t.v < th =>
              changes += ((Some(t), None)); None
            case Some(Nmbs(false, th)) if t.v > th =>
              val u = t.copy(s = t.s + "n")
              changes += ((Some(t), Some(u))); Some(u)
            case _ => Some(t)
          }
        }
      }
      val ins = src.collect { case (s, op) if op != "D" &&
        !rows.exists(t => sqlEq(t.k, s.k)) => s }
      ins.foreach(r => changes += ((None, Some(r))))
      (kept ++ ins, changes.result())
    case Update(mod, add) =>
      val changes = Seq.newBuilder[(Option[R], Option[R])]
      val out = rows.map { t =>
        if (t.v % 5 != mod) t
        else {
          val u = t.copy(v = t.v + add, s = t.s + "u")
          changes += ((Some(t), Some(u))); u
        }
      }
      (out, changes.result())
    case Delete(mod) =>
      val (gone, kept) = rows.partition(_.v % 5 == mod)
      (kept, gone.map(t => (Some(t), None)))
    case Optimize => (rows, Seq.empty)
  }

  /** Seeded generation: non-NULL keys unique under SQL equality in every
    * table and every batch; `v` fresh per row (non-negative). */
  private final class Gen(seed: Long) {
    private val rnd = new scala.util.Random(seed)
    private var nextV = 0L
    private def v(): Long = { nextV += 1 + rnd.nextInt(3); nextV }
    private def s(): String = s"s${rnd.nextInt(1000)}"
    /** `n` distinct keys (SQL equality), NULL allowed, `avoid` excluded. */
    private def keys(n: Int, avoid: Seq[Option[Double]]): Seq[Option[Double]] = {
      val out = Seq.newBuilder[Option[Double]]
      var taken = avoid
      rnd.shuffle(keyPool).foreach { k =>
        if (k.isEmpty || !taken.exists(sqlEq(_, k))) { out += k; taken :+= k }
      }
      out.result().take(n)
    }
    def initial(): Vector[R] =
      keys(4, Seq.empty).map(k => R(k, v(), s())).toVector
    def op(live: Vector[R]): Op = rnd.nextInt(7) match {
      case 0 => Append(keys(1 + rnd.nextInt(2), live.map(_.k))
        .map(k => R(k, v(), s())))
      case 1 => Upsert(keys(1 + rnd.nextInt(3), Seq.empty)
        .map(k => R(k, v(), s())))
      case 2 | 3 => Cdc(keys(1 + rnd.nextInt(3), Seq.empty).map(k =>
          (R(k, v(), s()), if (rnd.nextInt(3) == 0) "D" else "U")),
        rnd.nextInt(3) match {
          case 0 => None
          case i => Some(Nmbs(i == 1, live.map(_.v).sorted
            .lift(rnd.nextInt(math.max(1, live.size))).getOrElse(0L)))
        })
      case 4 => Update(rnd.nextInt(5).toLong, 100L + rnd.nextInt(50))
      case 5 => Delete(rnd.nextInt(5).toLong)
      case _ => Optimize
    }
  }

  /** One table under test with its replica; `versions` maps each of its
    * versions to the model rows it must hold. */
  private final class Subject(val dv: Boolean, dir: java.nio.file.Path,
                              init: Vector[R]) {
    import spark.implicits._
    val table: String = dir.resolve(if (dv) "dv" else "cow").toString
    private val replica = dir.resolve(if (dv) "dv_rep" else "cow_rep").toString
    val versions = scala.collection.mutable.LinkedHashMap.empty[Long, Vector[R]]
    private def df(rows: Seq[R]): DataFrame =
      rows.map(r => (r.k, r.v, r.s)).toDF("k", "v", "s")
    versions(TxnLake.commit(spark, df(init).coalesce(2), table, "append")) = init
    if (!dv) versions(TxnLake.setDeletionVectors(spark, table,
      enabled = false)) = init
    private val feed = new TxnReplicaFeed(table, replica, "diff", "k")
    feed.poll(spark)

    def run(op: Op): Option[Long] = op match {
      case Append(rows) => Some(TxnLake.commit(spark, df(rows), table, "append"))
      case Upsert(rows) => Some(TxnLake.mergeInto(spark, df(rows), table, "k"))
      case Cdc(rows, nmbs) =>
        TxnLake.mergeIntoClauses(spark,
          rows.map { case (r, o) => (r.k, r.v, r.s, o) }.toDF("k", "v", "s", "op"),
          table, "k",
          matched = Seq(
            TxnLake.MergeDelete(Some(TxnLake.sourceCol("op") === "D")),
            TxnLake.MergeUpdate(Map("v" -> TxnLake.sourceCol("v"),
              "s" -> TxnLake.sourceCol("s")))),
          notMatched = Seq(TxnLake.MergeInsert(
            Map("k" -> col("k"), "v" -> col("v"), "s" -> col("s")),
            Some(col("op") =!= "D"))),
          notMatchedBySource = nmbs.toSeq.map {
            case Nmbs(true, th) => TxnLake.MergeDelete(Some(col("v") < th))
            case Nmbs(false, th) => TxnLake.MergeUpdate(
              Map("s" -> concat(col("s"), lit("n"))), Some(col("v") > th))
          })
      case Update(mod, add) => TxnLake.updateWhere(spark, table,
        col("v") % 5 === mod,
        Map("v" -> (col("v") + add), "s" -> concat(col("s"), lit("u"))))
      case Delete(mod) => TxnLake.deleteWhere(spark, table, col("v") % 5 === mod)
      case Optimize => Some(TxnLake.optimize(spark, table, numFiles = 2))
    }

    /** The rows of each of `vs`, each with its row id, in one query. */
    def rowsWithIds(vs: Seq[Long]): Map[Long, Seq[(Canon, Long)]] =
      vs.map(v => TxnLake.readWithRowIds(spark, table, Some(v))
          .select(lit(v).as("ver"), col("k"), col("v"), col("s"),
            col(TxnLake.RidCol)))
        .reduce(_ unionByName _)
        .as[(Long, Option[Double], Long, String, Long)].collect().toSeq
        .groupBy(_._1).map { case (ver, rs) =>
          ver -> rs.map { case (_, k, x, s, id) => (canon(R(k, x, s)), id) } }

    /** Every version's rows through `readVersion`, in one query. */
    def allVersions(): Map[Long, Seq[Canon]] =
      versions.keys.map(v => TxnLake.readVersion(spark, table, v)
          .select(lit(v).as("ver"), col("k"), col("v"), col("s")))
        .reduce(_ unionByName _)
        .as[(Long, Option[Double], Long, String)].collect().toSeq
        .groupBy(_._1).map { case (v, rs) =>
          v -> rs.map { case (_, k, x, s) => canon(R(k, x, s)) } }

    /** `tableChanges(v - 1, v)` of each of `vs`, in one query. */
    def changes(vs: Seq[Long]): Map[Long, Seq[(Canon, String)]] =
      if (vs.isEmpty) Map.empty
      else vs.map(v => TxnLake.tableChanges(spark, table, v - 1, v, "k")
          .select(lit(v).as("ver"), col("k"), col("v"), col("s"),
            col("change_type")))
        .reduce(_ unionByName _)
        .as[(Long, Option[Double], Long, String, String)].collect().toSeq
        .groupBy(_._1).map { case (ver, rs) =>
          ver -> rs.map { case (_, k, x, s, ct) => (canon(R(k, x, s)), ct) } }

    /** The replica's rows on non-NULL keys, after one poll. */
    def replicaRows(): Seq[Canon] = {
      feed.poll(spark)
      TxnLake.read(spark, replica).select("k", "v", "s")
        .as[(Option[Double], Long, String)].collect()
        .map { case (k, v, s) => canon(R(k, v, s)) }.toSeq
        .filter(_._1.isDefined)
    }
  }

  private def bag[T](xs: Seq[T]): Map[T, Int] =
    xs.groupBy(identity).map { case (k, v) => k -> v.size }

  /** Changes compared exactly for non-NULL keys; NULL-keyed rows by
    * their net effect (inserted minus deleted, as multisets). */
  private def changeView(cs: Seq[(Canon, String)])
      : (Map[(Canon, String), Int], Map[Canon, Int]) = {
    val (nulls, keyed) = cs.partition(_._1._1.isEmpty)
    val net = nulls.foldLeft(Map.empty[Canon, Int]) { case (m, (r, ct)) =>
      val d = if (ct == "insert" || ct == "update_postimage") 1 else -1
      m.updated(r, m.getOrElse(r, 0) + d)
    }.filter(_._2 != 0)
    (bag(keyed), net)
  }

  private def expectedChanges(cs: Seq[(Option[R], Option[R])])
      : Seq[(Canon, String)] = cs.flatMap {
    case (None, Some(n)) => Seq(canon(n) -> "insert")
    case (Some(o), None) => Seq(canon(o) -> "delete")
    case (Some(o), Some(n)) if o == n => Seq.empty
    case (Some(o), Some(n)) if o.k.isEmpty =>
      Seq(canon(o) -> "delete", canon(n) -> "insert")
    case (Some(o), Some(n)) =>
      Seq(canon(o) -> "update_preimage", canon(n) -> "update_postimage")
    case _ => Seq.empty
  }

  /** A key as SQL equality groups it: -0.0 is 0.0, NaN is one key. */
  private def groupKey(c: Canon): Option[Long] = c._1.map { bits =>
    val d = java.lang.Double.longBitsToDouble(bits)
    java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)
  }

  /** Run sequence `seed` of `steps` operations; returns its failures.
    * Every version is immutable once committed, so the reads that check
    * the steps run once, after the last step. */
  private def sequence(seed: Long, steps: Int): Seq[String] = {
    val gen = new Gen(seed)
    val dir = Files.createTempDirectory(s"txnlake_diff_$seed")
    try {
      var model = gen.initial()
      val subjects = Seq(new Subject(dv = true, dir, model),
        new Subject(dv = false, dir, model))
      // per step: the op, the model rows after it and the (pre, post)
      // pairs it changed; per subject: the version each step left
      val trail = Seq.newBuilder[(Op, Vector[R], Seq[(Option[R], Option[R])])]
      val at = subjects.map(sub => sub ->
        scala.collection.mutable.ArrayBuffer(sub.versions.keys.last)).toMap
      (1 to steps).foreach { _ =>
        val op = gen.op(model)
        val (next, changed) = applyModel(model, op)
        trail += ((op, next, changed))
        subjects.foreach { sub =>
          val v = sub.run(op)
          v.foreach(sub.versions(_) = next)
          at(sub) += v.getOrElse(at(sub).last)
        }
        model = next
      }
      val ops = trail.result()
      val errs = Seq.newBuilder[String]
      subjects.foreach { sub =>
        val name = if (sub.dv) "dv" else "cow"
        val vs = at(sub).toSeq
        val withIds = sub.rowsWithIds(vs.distinct)
        val stepped = vs.zip(vs.tail).collect { case (a, b) if b != a => b }
        val cdf = sub.changes(stepped)
        def ids(v: Long): Map[Option[Long], Long] =
          withIds(v).collect { case (c, id) if c._1.isDefined =>
            groupKey(c) -> id }.toMap
        ops.zipWithIndex.foreach { case ((op, next, changed), i) =>
          def fail(what: String) =
            errs += s"seed $seed step ${i + 1} $name $op: $what"
          val (pre, now) = (vs(i), vs(i + 1))
          val rows = withIds(now)
          if (bag(rows.map(_._1)) != bag(next.map(canon)))
            fail(s"rows ${rows.map(_._1)} differ from the model $next")
          if (rows.map(_._2).distinct.size != rows.size)
            fail(s"row ids repeat: ${rows.map(_._2)}")
          val (before, after) = (ids(pre), ids(now))
          before.foreach { case (k, id) =>
            if (after.get(k).exists(_ != id))
              fail(s"key $k changed row id $id -> ${after(k)}")
          }
          val got = if (now == pre) Seq.empty else cdf.getOrElse(now, Seq.empty)
          if (changeView(got) != changeView(expectedChanges(changed)))
            fail(s"tableChanges = $got, model ${expectedChanges(changed)}")
        }
        val all = sub.allVersions()
        sub.versions.foreach { case (ver, rows) =>
          if (bag(all.getOrElse(ver, Seq.empty)) != bag(rows.map(canon)))
            errs += s"seed $seed $name: readVersion($ver) = ${all.get(ver)}, " +
              s"model $rows"
        }
        if (bag(sub.replicaRows()) != bag(model.map(canon).filter(_._1.isDefined)))
          errs += s"seed $seed $name: the replica differs from the model " +
            "on non-NULL keys"
      }
      errs.result()
    } finally deleteTree(dir.toFile)
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  test("deletion-vector and copy-on-write tables agree with the model " +
    "over 100 seeded random operation sequences") {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val runs = (1L to 100L).map(seed =>
      scala.concurrent.Future(sequence(seed, steps = 3)))
    val errs = try scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(runs),
      scala.concurrent.duration.Duration(1800, "s")).flatten
    finally pool.shutdown()
    assert(errs.isEmpty, errs.take(5).mkString("\n"))
  }

  // ---- minimized cases of what the sequences found ----

  test("a copy-on-write delete's change feed returns -0.0 and NaN keys " +
    "as stored") {
    import spark.implicits._
    val dir = Files.createTempDirectory("txnlake_diff_min")
    val t = dir.resolve("t").toString
    try {
      TxnLake.commit(spark, Seq((-0.0, "a"), (Double.NaN, "b"), (1.0, "c"))
        .toDF("k", "s").coalesce(1), t, "append")
      TxnLake.setDeletionVectors(spark, t, enabled = false)
      val v = TxnLake.deleteWhere(spark, t, col("s") =!= "c").get
      val keys = TxnLake.tableChanges(spark, t, v - 1, v, "k")
        .select("k").as[Double].collect()
        .map(java.lang.Double.doubleToLongBits).toSet
      assert(keys == Set(-0.0, Double.NaN)
        .map(java.lang.Double.doubleToLongBits), s"got $keys")
    } finally deleteTree(dir.toFile)
  }

  test("a NULL-keyed row's change surfaces as a delete plus an insert, " +
    "never as an all-NULL insert") {
    import spark.implicits._
    val dir = Files.createTempDirectory("txnlake_diff_min")
    val t = dir.resolve("t").toString
    try {
      TxnLake.commit(spark, Seq((Option.empty[Long], "a"), (Some(1L), "b"))
        .toDF("k", "s").coalesce(1), t, "append")
      TxnLake.setDeletionVectors(spark, t, enabled = false)
      val v = TxnLake.updateWhere(spark, t, col("s") === "a",
        Map("s" -> lit("A"))).get
      val hop = TxnLake.tableChanges(spark, t, v - 1, v, "k")
        .select("k", "s", "change_type").as[(Option[Long], String, String)]
        .collect().toSet
      assert(hop == Set((None, "a", "delete"), (None, "A", "insert")),
        s"got $hop")
    } finally deleteTree(dir.toFile)
  }
}
