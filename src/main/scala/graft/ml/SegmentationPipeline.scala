package graft.ml

import graft.core.Materialize
import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.ml.evaluation.ClusteringEvaluator
import org.apache.spark.ml.feature.{StandardScaler, VectorAssembler}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Customer segmentation: K-Means with silhouette-driven auto-K.
  *
  * Mirrors the reference's pipeline
  * (`src/main/java/com/retail/ml/SegmentationModel.java:73-145`):
  * VectorAssembler over numeric features [M1] -> StandardScaler
  * `withStd=true, withMean=false` [M2] -> KMeans seed 123 for K in 2..8
  * [M3], choosing K by silhouette [M4] with ties broken by lower WSSSE
  * (`SegmentationModel.java:130-145`) [M5].
  *
  * Feature engineering mirrors
  * `src/main/java/com/retail/ml/SegmentationFeatureEngineering.java:33-45`
  * (3-way join + per-entity aggregates), re-expressed on the star schema.
  */
object SegmentationPipeline {

  /** Per-customer features: frequency / monetary / recency + acctbal. */
  def features(customer: DataFrame, orders: DataFrame): DataFrame = {
    val rfm = graft.analytics.Rfm(orders)
    customer
      // a customer with no account balance cannot be featurized: a NULL
      // here aborts VectorAssembler (ml pipeline) and quantizes
      // divergently in the Lloyd twin (null-skipping least/greatest) —
      // excluded by contract, mirrored in the twin's oracle feats CTE
      .filter(col("c_acctbal").isNotNull && !isnan(col("c_acctbal")))
      .join(rfm, col("c_custkey") === col("o_custkey"), "left")
      .na.fill(0.0, Seq("monetary"))
      .na.fill(0L, Seq("frequency", "recency_days"))
      .select(
        col("c_custkey").as("custkey"),
        col("c_acctbal").as("acctbal"),
        col("frequency").cast("double").as("frequency"),
        col("monetary"),
        col("recency_days").cast("double").as("recency_days"))
  }

  final case class Fitted(model: org.apache.spark.ml.PipelineModel, k: Int,
                          silhouette: Double, wssse: Double)

  /** Fit K-Means for each K in `ks`, return the silhouette-best model
    * (ties -> lower WSSSE), reference seeds preserved.
    */
  def fitAutoK(features: DataFrame, ks: Seq[Int] = 2 to 8, seed: Long = 123L): Fitted = {
    val cols = Array("acctbal", "frequency", "monetary", "recency_days")
    val assembler = new VectorAssembler().setInputCols(cols).setOutputCol("raw_features")
    val scaler = new StandardScaler().setInputCol("raw_features").setOutputCol("features")
      .setWithStd(true).setWithMean(false)
    val evaluator = new ClusteringEvaluator().setFeaturesCol("features")
      .setPredictionCol("prediction").setMetricName("silhouette")
    // every fit/evaluate is eager, so the feature cache releases when
    // the sweep returns
    val fits = Materialize.scoped { scope =>
      val cached = scope.cache(features)
      ks.map { k =>
        val km = new KMeans().setK(k).setSeed(seed).setFeaturesCol("features")
        val model = new Pipeline().setStages(Array(assembler, scaler, km)).fit(cached)
        val assigned = model.transform(cached)
        val sil = evaluator.evaluate(assigned)
        val wssse = model.stages.last.asInstanceOf[KMeansModel].summary.trainingCost
        Fitted(model, k, sil, wssse)
      }
    }
    fits.maxBy(f => (f.silhouette, -f.wssse))
  }

  /** One fixed-K fit of the same assembler->scaler->KMeans pipeline —
    * the unit the persistence round-trip gate saves and reloads (auto-K
    * would re-fit 7 models just to exercise save/load).
    */
  def fitFixedK(features: DataFrame, k: Int, seed: Long = 123L): org.apache.spark.ml.PipelineModel = {
    val cols = Array("acctbal", "frequency", "monetary", "recency_days")
    val assembler = new VectorAssembler().setInputCols(cols).setOutputCol("raw_features")
    val scaler = new StandardScaler().setInputCol("raw_features").setOutputCol("features")
      .setWithStd(true).setWithMean(false)
    val km = new KMeans().setK(k).setSeed(seed).setFeaturesCol("features")
    new Pipeline().setStages(Array(assembler, scaler, km)).fit(features)
  }

  /** Cluster sizes of the best model (deterministic given fixed seeds). */
  def clusterSizes(customer: DataFrame, orders: DataFrame): DataFrame = {
    val f = features(customer, orders)
    val best = fitAutoK(f)
    best.model.transform(f)
      .groupBy(col("prediction").as("cluster"))
      .agg(count(lit(1)).as("n_customers"))
      .withColumn("chosen_k", lit(best.k))
      .orderBy("cluster")
  }
}
