package graft.jobs

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.attribute.NominalAttribute
import org.apache.spark.ml.classification.RandomForestClassifier
import org.apache.spark.ml.evaluation.{BinaryClassificationEvaluator, MulticlassClassificationEvaluator}
import org.apache.spark.ml.feature.{StandardScaler, VectorAssembler}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.plans.JobLabel
import graft.run.Concurrently

/** Tsunami-prediction training job (re-expresses `scripts/train_tsunami_model.py`):
  * filter → rebalance (downsample majority, seed 42) → assemble/scale →
  * RandomForest(seed=42) → evaluate AUC-ROC + F1 → score full set.
  *
  * Identical MLlib classes to the reference (PySpark wraps this JVM
  * implementation), so seed-42 results are reproducible given identical
  * input rows (SURVEY §7.5.8).
  */
object TrainTsunamiModel {

  val featureCols: Seq[String] =
    Seq("magnitude", "depth_km", "latitude", "longitude", "significance")

  case class Result(model: PipelineModel, predictions: DataFrame,
                    aucRoc: Double, f1: Double)

  /** Label + feature prep (ref: train_tsunami_model.py:51-70). The label
    * declares its two classes, so the forest takes `numClasses = 2` from
    * the schema: it runs no `max(label)` job, and a day with no tsunami
    * still trains a binary model the evaluators accept. */
  def prepare(silver: DataFrame): DataFrame =
    silver
      .filter(col("event_type") === "earthquake")
      .select((Seq("event_id", "tsunami_warning") ++ featureCols).map(col): _*)
      .na.drop()
      .withColumn("label", when(col("tsunami_warning") === true, 1).otherwise(0).cast("double")
        .as("label", NominalAttribute.defaultAttr.withNumValues(2).toMetadata()))

  /** Class rebalancing: downsample the majority class to the minority ratio
    * (ref: train_tsunami_model.py:57-67). Both class sizes come from one
    * aggregate. */
  def rebalance(df: DataFrame): DataFrame = {
    val minority = df.filter(col("label") === 1.0)
    val majority = df.filter(col("label") === 0.0)
    val sizes = df.agg(count(when(col("label") === 1.0, 1)), count(when(col("label") === 0.0, 1)))
      .head()
    val nMin = sizes.getLong(0).toDouble
    val nMaj = sizes.getLong(1).toDouble
    if (nMin == 0 || nMaj == 0 || nMin >= nMaj) df
    else majority.sample(withReplacement = false, nMin / nMaj, seed = 42).union(minority)
  }

  /** assembler → scaler → RF pipeline (ref: train_tsunami_model.py:74-77). */
  def pipeline(): Pipeline = {
    val assembler = new VectorAssembler()
      .setInputCols(featureCols.toArray).setOutputCol("unscaled_features")
    val scaler = new StandardScaler()
      .setInputCol("unscaled_features").setOutputCol("features")
    val rf = new RandomForestClassifier().setSeed(42)
      .setLabelCol("label").setFeaturesCol("features")
    new Pipeline().setStages(Array(assembler, scaler, rf))
  }

  /** Full job: train on a rebalanced 80/20 split, evaluate, score everything
    * (ref: train_tsunami_model.py:80-113). The prepared rows are cached for
    * the run (caching keeps their partitioning, so the split, the bagging
    * and the trees are the uncached ones), the model save overlaps the
    * evaluation, and nothing stays cached when `run` returns. */
  def run(spark: SparkSession, silver: DataFrame,
          modelPath: Option[String] = None): Result = {
    val prepared = prepare(silver).cache()
    val (model, auc, f1) = try {
      val balanced = JobLabel.labeled(spark, "train:counts")(rebalance(prepared))
      val Array(train, test) = balanced.randomSplit(Array(0.8, 0.2), seed = 42)
      val model = JobLabel.labeled(spark, "train:fit")(pipeline().fit(train))

      val Seq(Seq(auc, f1), _) = Concurrently(spark)(
        () => JobLabel.labeled(spark, "train:eval") {
          val testPred = model.transform(test).cache()
          try Seq(
            new BinaryClassificationEvaluator()
              .setLabelCol("label").setMetricName("areaUnderROC").evaluate(testPred),
            new MulticlassClassificationEvaluator()
              .setLabelCol("label").setMetricName("f1").evaluate(testPred))
          finally testPred.unpersist()
        },
        () => JobLabel.labeled(spark, "train:save") {
          modelPath.foreach(p => model.write.overwrite().save(p))
          Nil
        })
      (model, auc, f1)
    } finally prepared.unpersist()

    // score the full (unbalanced) set → predictions table
    // (ref: train_tsunami_model.py:104-113)
    val predictions = model.transform(prepared)
      .select(
        col("event_id"),
        col("tsunami_warning").as("actual_tsunami_warning"),
        col("prediction").cast("boolean").as("predicted_tsunami_warning"),
        vector_to_array(col("probability")).getItem(1).as("tsunami_probability"),
        current_timestamp().as("prediction_timestamp_utc"))
    Result(model, predictions, auc, f1)
  }
}
