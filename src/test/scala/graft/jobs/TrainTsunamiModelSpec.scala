package graft.jobs

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.ml.classification.RandomForestClassificationModel
import org.apache.spark.sql.types.Metadata
import graft.SparkSpec
import graft.run.ConcurrentlySpec
import graft.ingest.UsgsGeoJson

class TrainTsunamiModelSpec extends SparkSpec {

  private lazy val lake = Files.createTempDirectory("tm_spec").toString
  private lazy val silver = {
    UsgsGeoJson.writeBronze(s"$lake/bronze/raw.json")
    BronzeToSilver.run(SparkSpec.session, s"$lake/bronze/raw.json", s"$lake/silver")
  }

  test("prepare filters to earthquakes, drops nulls, encodes label") {
    val p = TrainTsunamiModel.prepare(silver)
    assert(!p.select("event_id").collect().map(_.getString(0)).contains("ev11"))
    assert(p.columns.contains("label"))
    val labels = p.select("label").distinct().collect().map(_.getDouble(0)).toSet
    assert(labels.subsetOf(Set(0.0, 1.0)))
  }

  test("rebalance downsamples the majority class toward parity") {
    val p = TrainTsunamiModel.prepare(silver)
    val b = TrainTsunamiModel.rebalance(p)
    val nMin = b.filter(col("label") === 1.0).count()
    val nMaj = b.filter(col("label") === 0.0).count()
    // Bernoulli sampling is approximate; assert property not exact count
    assert(nMin == p.filter(col("label") === 1.0).count())
    assert(nMaj <= p.filter(col("label") === 0.0).count())
  }

  test("full train run: pipeline fits, metrics computable, predictions schema") {
    val res = TrainTsunamiModel.run(SparkSpec.session, silver,
      Some(s"$lake/ml_models/rf"))
    assert(res.aucRoc >= 0.0 && res.aucRoc <= 1.0)
    assert(res.f1 >= 0.0 && res.f1 <= 1.0)
    assert(res.predictions.columns.toSet == Set("event_id", "actual_tsunami_warning",
      "predicted_tsunami_warning", "tsunami_probability", "prediction_timestamp_utc"))
    val probs = res.predictions.select("tsunami_probability").collect().map(_.getDouble(0))
    assert(probs.forall(p => p >= 0.0 && p <= 1.0))
    // model persisted and reloadable (S9)
    val reloaded = org.apache.spark.ml.PipelineModel.load(s"$lake/ml_models/rf")
    assert(reloaded.stages.length == 3)
  }

  test("seed-42 reproducibility: same input → same predictions") {
    val r1 = TrainTsunamiModel.run(SparkSpec.session, silver)
    val r2 = TrainTsunamiModel.run(SparkSpec.session, silver)
    val p1 = r1.predictions.select("event_id", "predicted_tsunami_warning").collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    val p2 = r2.predictions.select("event_id", "predicted_tsunami_warning").collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(p1 == p2)
  }

  /** `n` earthquakes with spread features, flagged as a tsunami when
    * `tsunami` holds for the magnitude. */
  private def slice(n: Int, tsunami: org.apache.spark.sql.Column => org.apache.spark.sql.Column) = {
    val mag = lit(2.0) + pmod(hash(col("id")), lit(700)) / 100.0
    SparkSpec.session.range(n).select(
      concat(lit("s"), col("id").cast("string")).as("event_id"),
      lit("earthquake").as("event_type"),
      mag.as("magnitude"),
      (pmod(hash(col("id"), lit(1)), lit(600)) / 2.0).as("depth_km"),
      (pmod(hash(col("id"), lit(2)), lit(180)) - 90.0).as("latitude"),
      (pmod(hash(col("id"), lit(3)), lit(360)) - 180.0).as("longitude"),
      pmod(hash(col("id"), lit(4)), lit(1000)).as("significance"),
      tsunami(mag).as("tsunami_warning"))
  }

  private def trees(m: org.apache.spark.ml.PipelineModel): String = {
    val rf = m.stages.last.asInstanceOf[RandomForestClassificationModel]
    rf.toDebugString.replace(rf.uid, "")
  }

  test("the forest equals an uncached fit without label metadata") {
    Seq(silver, slice(400, _ >= 6.5)).foreach { in =>
      val res = TrainTsunamiModel.run(SparkSpec.session, in)
      val plain = TrainTsunamiModel.prepare(in).withColumn("label", col("label").as("label", Metadata.empty))
      val Array(train, _) = TrainTsunamiModel.rebalance(plain).randomSplit(Array(0.8, 0.2), seed = 42)
      assert(trees(res.model) == trees(TrainTsunamiModel.pipeline().fit(train)))
    }
  }

  test("a day with no tsunami-flagged event trains and scores every row") {
    val res = TrainTsunamiModel.run(SparkSpec.session, slice(200, _ => lit(false)))
    val predicted = res.predictions.select("predicted_tsunami_warning").collect().map(_.getBoolean(0))
    assert(predicted.length == 200 && predicted.forall(!_))
    assert(res.f1 >= 0.0 && res.f1 <= 1.0)
  }

  test("nothing outlives a run: no cached RDD, no helper thread") {
    val s = SparkSpec.session
    // an input no earlier run prepared, so its cache cannot pre-exist
    val fresh = slice(300, _ >= 6.5)
    val before = s.sparkContext.getPersistentRDDs.keySet
    TrainTsunamiModel.run(s, fresh, Some(s"$lake/ml_models/rf_fresh"))
    assert(s.sparkContext.getPersistentRDDs.keySet == before)
    assert(ConcurrentlySpec.liveHelpers.isEmpty)
  }
}
