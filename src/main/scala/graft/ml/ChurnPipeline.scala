package graft.ml

import graft.core.Materialize
import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.classification.RandomForestClassifier
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.feature.{OneHotEncoder, StandardScaler, StringIndexer, VectorAssembler}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Repurchase/churn prediction: leak-free label + RandomForest.
  *
  * Mirrors `src/main/java/com/retail/ml/ChurnPrediction.java`:
  * label = repurchased-within-window (`:147-171`, via
  * [[graft.analytics.Repurchase]]), categorical StringIndexer
  * `handleInvalid=keep` [M6, `:270-278`] -> OneHotEncoder [M7, `:280-283`]
  * -> VectorAssembler [M1, `:286-300`] -> StandardScaler withMean=false
  * [M2, `:302-306`] -> RandomForest numTrees=100 maxDepth=8 seed=42
  * [M8, `:309-314`] -> 80/20 split seed 42 [M10, `:321-323`] -> areaUnderROC
  * [M9, `:331-337`] and the cohort repurchase-rate table (`:340-345`).
  */
object ChurnPipeline {

  /** (custkey, partkey) examples: repurchase label + pre-window features. */
  def examples(customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
               window: Int = 30): DataFrame = {
    val labels = graft.analytics.Repurchase(orders, lineitem, window)
    labels
      // null/NaN balances cannot be featurized (VectorAssembler aborts);
      // null/empty segment strings break StringIndexer's OHE attribute
      // naming — nulls are the twin's exclusion rule, empties map to a
      // sentinel category (a real category, "unknown segment")
      .join(customer.filter(col("c_acctbal").isNotNull && !isnan(col("c_acctbal"))),
        col("custkey") === col("c_custkey"))
      .select(
        col("custkey"), col("partkey"),
        col("first_day").cast("double").as("first_day"),
        col("c_acctbal").as("acctbal"),
        when(col("c_mktsegment").isNull || trim(col("c_mktsegment")) === "",
          lit("UNKNOWN")).otherwise(col("c_mktsegment")).as("mktsegment"),
        col("repurchased").cast("double").as("label"))
  }

  final case class Result(auc: Double, train: Long, test: Long)

  def fitEvaluate(examples: DataFrame, seed: Long = 42L): Result = {
    val indexer = new StringIndexer().setInputCol("mktsegment")
      .setOutputCol("mktsegment_idx").setHandleInvalid("keep")
    val ohe = new OneHotEncoder().setInputCols(Array("mktsegment_idx"))
      .setOutputCols(Array("mktsegment_vec")).setHandleInvalid("keep")
    val assembler = new VectorAssembler()
      .setInputCols(Array("first_day", "acctbal", "mktsegment_vec"))
      .setOutputCol("raw_features").setHandleInvalid("keep")
    val scaler = new StandardScaler().setInputCol("raw_features")
      .setOutputCol("features").setWithStd(true).setWithMean(false)
    val rf = new RandomForestClassifier().setNumTrees(100).setMaxDepth(8)
      .setSeed(seed).setFeaturesCol("features").setLabelCol("label")
    val Array(train, test) = examples.randomSplit(Array(0.8, 0.2), seed)
    val model = new Pipeline()
      .setStages(Array(indexer, ohe, assembler, scaler, rf)).fit(train)
    val predictions = model.transform(test)
    val auc = new BinaryClassificationEvaluator().setLabelCol("label")
      .setMetricName("areaUnderROC").evaluate(predictions)
    Result(auc, train.count(), test.count())
  }

  /** One-row metrics table (rows-only correctness: AUC is model-quality,
    * asserted within tolerance in tests per SURVEY §5).
    */
  def metrics(customer: DataFrame, orders: DataFrame, lineitem: DataFrame): DataFrame = {
    // eager: fit + AUC + counts all materialize inside the scope
    val r = Materialize.scoped { scope =>
      fitEvaluate(scope.cache(examples(customer, orders, lineitem)))
    }
    val spark = customer.sparkSession
    import spark.implicits._
    Seq((r.auc, r.train, r.test)).toDF("auc", "n_train", "n_test")
  }
}
