package graft.queries

import graft.core.{Catalog, Materialize}
import graft.ml._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** ML pipeline surface (SURVEY §2.10 M1-M13) as named queries.
  *
  * These are model fits — correctness is model-quality-within-tolerance
  * (SURVEY §5), not SQL-reproducible, so all entries are rows-only for
  * the driver; quantitative assertions live in the ScalaTest suite.
  */
object MlQueries {

  def registry: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(

    // M1-M5: assembler + scaler + KMeans auto-K by silhouette
    "ml_kmeans_segmentation" -> (
      ((s: SparkSession, d: String) => {
        val c = Catalog(s, d)
        SegmentationPipeline.clusterSizes(c.customer, c.orders)
      }),
      None),

    // M1-M5 hash-gated twin: the same RFM feature frame under a
    // deterministic integer-grid Lloyd fit (max-abs standardization,
    // smallest-custkey init, floor-div re-centering) that DuckDB
    // replays as an unrolled CTE chain — the s5/s3 pattern applied to
    // the segmentation fit; the auto-K silhouette pipeline above stays
    // the product path and the argued no_oracle posture
    "ml_kmeans_lloyd" -> (
      ((s: SparkSession, d: String) => {
        val c = Catalog(s, d)
        SegmentationLloyd.segments(c.customer, c.orders)
      }),
      Some(SegmentationLloyd.oracle())),

    // M3-M5 hash-gated AUTO-K twin: the reference's silhouette-selected
    // K (ties -> lower WSSSE, SegmentationModel.java:95-145,181-194) as
    // an exact-arithmetic K sweep — per-K integer-grid Lloyd fits on the
    // shared bounded sample, exact decimal WSSSE + grid-quantized
    // simplified silhouette over the full frame, rank-1 selection —
    // replayed end-to-end by DuckDB; the last reference BEHAVIOR that
    // was gated only by metrics before r14
    "ml_kmeans_autok" -> (
      ((s: SparkSession, d: String) => {
        val c = Catalog(s, d)
        SegmentationAutoK.report(c.customer, c.orders)
      }),
      Some(SegmentationAutoK.oracle())),

    // M6-M10: indexer/OHE/assembler/scaler/RF + AUC
    "ml_churn_rf" -> (
      ((s: SparkSession, d: String) => {
        val c = Catalog(s, d)
        ChurnPipeline.metrics(c.customer, c.orders, c.lineitem)
      }),
      None),

    // M6-M10 hash-gated twin: a depth-2 exact decision tree over the
    // same churn features (repurchase label, first day, balance,
    // segment) with integer-exact split search DuckDB replays as a CTE
    // chain — the ml_kmeans_lloyd pattern applied to classification;
    // the RF pipeline above stays the product path and the argued
    // no_oracle posture
    "ml_churn_twin" -> (
      ((s: SparkSession, d: String) => {
        val c = Catalog(s, d)
        ChurnTree.scores(c.customer, c.orders, c.lineitem)
      }),
      Some(ChurnTree.oracle())),

    // S12/M12: model-persistence round-trip THROUGH the registry — fit a
    // fixed-K segmentation PipelineModel, save it, load it back, and
    // re-score the identical feature rows with BOTH copies. The output is
    // one self-checking row whose every column is DETERMINISTIC BY
    // CONTRACT, so since r17 it carries a full hash oracle (the last
    // no_oracle gate that could): n_scored is data-derivable SQL
    // (featurizable customers — the seeded fit cannot change it),
    // n_mismatch counts customers the loaded model assigns differently
    // from the in-memory one, and n_centers_mismatch counts loaded
    // cluster centers that differ bitwise from the in-memory fit's —
    // both 0 exactly when persistence is faithful, whatever the seeded
    // fit produced, so the oracle pins them as literals and a broken
    // save/load hash-mismatches loudly. (The old third column,
    // countDistinct(prediction), was the one seed-dependent output that
    // kept this gate rows-only; the center comparison is the stronger
    // persistence check anyway.) Also asserted in ServingSpec.
    // Ref: SegmentationModel.java:198, SegmentationPrediction.java:26-27.
    "ml_model_roundtrip" -> (
      ((s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions._
        val c = Catalog(s, d)
        Materialize.checkpointed { scope =>
          val f = scope.cache(SegmentationPipeline.features(c.customer, c.orders))
          val model = SegmentationPipeline.fitFixedK(f, 4)
          // per-process Scratch: a concurrent process's save cannot
          // corrupt this one's load (r15)
          val path = graft.core.Scratch.path(graft.core.Scratch.stagingName("ml_model", d))
          graft.serve.Serving.saveModel(model, path)
          val loaded = graft.serve.Serving.loadModel(path)
          // persisted-parameter check: cluster centers of the loaded
          // KMeans stage must equal the in-memory fit's bit-for-bit
          // (ML writers persist doubles losslessly; any divergence is a
          // broken save/load, never rounding)
          val memCenters = model.stages.last
            .asInstanceOf[org.apache.spark.ml.clustering.KMeansModel]
            .clusterCenters.map(_.toArray.toSeq)
          val loadedCenters = loaded.stages.last
            .asInstanceOf[org.apache.spark.ml.clustering.KMeansModel]
            .clusterCenters.map(_.toArray.toSeq)
          val nCentersMismatch: Long =
            if (memCenters.length != loadedCenters.length)
              math.max(memCenters.length, loadedCenters.length).toLong
            else memCenters.zip(loadedCenters).count { case (a, b) => a != b }.toLong
          val mem = model.transform(f).select(col("custkey"), col("prediction").as("p_mem"))
          val re = loaded.transform(f).select(col("custkey"), col("prediction").as("p_loaded"))
          // one-row comparison result
          mem.join(re, Seq("custkey"))
            .agg(
              count(lit(1)).as("n_scored"),
              coalesce(sum(when(col("p_mem") =!= col("p_loaded"), 1L).otherwise(0L)),
                lit(0L)).as("n_mismatch"))
            .withColumn("n_centers_mismatch", lit(nCentersMismatch))
        }
      }),
      // n_scored replays the feature-frame row count (the acctbal
      // domain filter mirrors SegmentationPipeline.features and the
      // Lloyd twin's feats CTE); the two mismatch counters are 0 by the
      // persistence contract — the gate's whole point is that a broken
      // roundtrip makes the Spark side emit nonzero and hash-mismatch
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_scored,
             |       CAST(0 AS BIGINT) AS n_mismatch,
             |       CAST(0 AS BIGINT) AS n_centers_mismatch
             |FROM customer
             |WHERE c_acctbal IS NOT NULL
             |  AND NOT isnan(CAST(c_acctbal AS DOUBLE))""".stripMargin)),

    // M11 hash-gated twin: a rank-2 implicit ALS (Hu-Koren confidences,
    // closed-form 2x2 alternating solves on an integer factor grid,
    // md5-derived init) that DuckDB replays as an unrolled CTE chain --
    // the ml_kmeans_lloyd/ml_churn_twin pattern applied to matrix
    // factorization; the Spark ML ALS below stays the product path and
    // the argued no_oracle posture
    "ml_als_twin" -> (
      ((s: SparkSession, d: String) => {
        val c = Catalog(s, d)
        AlsTwin.recommend(c.orders, c.lineitem)
      }),
      Some(AlsTwin.oracle())),

    // M11: ALS implicit top-5
    "ml_als_recommend" -> (
      ((s: SparkSession, d: String) => {
        val c = Catalog(s, d)
        Recommender.topN(c.orders, c.lineitem, 5)
      }),
      None),

    // M13/R1-R5: DataFrame FP-Growth itemsets — the FULL (unsliced)
    // result, hash-gated: at minSupport 0.0001 the synthetic baskets
    // contain NO frequent itemset larger than 3 (checked in DuckDB at
    // min_freq=2/sf0.01: 12 triples, 0 quadruples — and by the Apriori
    // property no larger set can be frequent without a frequent subset),
    // so the complete FP-Growth output equals the size-<=3 relational
    // replay and upTo3Oracle gates it exactly. If the generator ever
    // produces a frequent quadruple the row-count match fails loudly.
    "ml_fpgrowth" -> (
      ((s: SparkSession, d: String) => BasketItemsets.frequentItemsetsUpTo3(Catalog(s, d).lineitem, 0.0001)),
      Some(BasketItemsets.upTo3Oracle(0.0001))),

    // FP-Growth restricted to size<=2 itemsets: the frequent-pattern
    // result replayed exactly by relational SQL (oracle-checked)
    "ml_fpgrowth_pairs" -> (
      ((s: SparkSession, d: String) => BasketItemsets.frequentItemsetsUpTo2(Catalog(s, d).lineitem, 0.002)),
      Some(BasketItemsets.upTo2Oracle(0.002))),

    // association rules (1->1) with confidence/lift/support replayed as
    // frequency ratios by the oracle; support 0.0001 is the level where
    // pair itemsets exist in the synthetic baskets (132 rules clear
    // confidence 0.1 at sf0.01 — 0.002 admits only singletons, no rules)
    "ml_fpgrowth_rules" -> (
      ((s: SparkSession, d: String) => BasketItemsets.associationRules(Catalog(s, d).lineitem, 0.0001, 0.1)),
      Some(BasketItemsets.rulesOracle(0.0001, 0.1))),

    // FP-Growth restricted to size<=3: the triple slice exercises the
    // conditional-tree recursion the pairs gate cannot see. minSupport
    // 0.0001 -> min_freq 2 at sf0.01, the level where size-3 itemsets
    // actually exist in the synthetic baskets (12 of them; 0.002 yields
    // zero triples and would gate nothing new)
    "ml_fpgrowth_upto3" -> (
      ((s: SparkSession, d: String) => BasketItemsets.frequentItemsetsUpTo3(Catalog(s, d).lineitem, 0.0001)),
      Some(BasketItemsets.upTo3Oracle(0.0001)))
  )
}
