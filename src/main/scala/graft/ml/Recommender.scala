package graft.ml

import graft.core.Materialize
import graft.functions.Md5Prefix
import org.apache.spark.ml.recommendation.ALS
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ALS implicit-feedback recommender.
  *
  * Mirrors `scripts/product-recommendation/ProductRecommendation.java:49-69`:
  * ratings = `groupBy(user, item).agg(sum(value))` [A10], ALS maxIter=10,
  * regParam=0.1, implicitPrefs=true, coldStartStrategy=drop [M11], then
  * `recommendForAllUsers(5)` exploded to (user, item, rating) rows [F5].
  */
object Recommender {

  def ratings(orders: DataFrame, lineitem: DataFrame): DataFrame =
    orders.join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey").as("user"), col("l_partkey").as("item"))
      .agg(sum(col("l_quantity")).cast("float").as("rating"))
      // ALS hard-rejects null/NaN ratings (an all-NULL-quantity pair,
      // or NaN through the fact table) — excluded, like preferenceRatings
      .filter(col("rating").isNotNull && !isnan(col("rating")))

  /** Preference-structured implicit matrix derived from correlated
    * catalog columns — the ORGANIC evaluation path. The raw quantity
    * matrix ([[ratings]], the reference-parity product path) carries no
    * preference signal: the synthetic generator assigns parts to
    * customers uniformly, so no recommender can beat uniform random on
    * it and its holdout gate can only pin "not degenerate" (the
    * structurelessness is itself asserted in MlSpec). This derivation
    * applies the standard implicit-feedback practice of thresholding
    * engagement into interactions, with the threshold keyed to a
    * (customer, product) affinity computed from real catalog columns:
    * segment and brand hash into [[affinityBlocks]] blocks, matched
    * pairs count as interactions at ANY purchased quantity with 10×
    * confidence weight, unmatched pairs only when the quantity clears
    * the top-decile bar (≥ 46 of the 1..50 grid). The resulting matrix
    * has genuine block preference structure — matched interactions are
    * ~10× denser — that an ALS fit must LEARN to beat the computed
    * random baseline, making the organic holdout gate falsifiable on
    * the product catalog itself (the planted A/B in MlSpec proves the
    * eval detects signal; this provides signal on real tables).
    *
    * Scale shape: two narrow dimension joins (customer, part) onto the
    * fact join [[ratings]] already pays, one filter, the same group-by
    * — no new shuffle of the fact table. The dimension sides carry NO
    * hard broadcast hint: at eval scale AQE broadcasts them on its own,
    * and at the 100 TB design point customer/part are multi-GB
    * dimensions where a forced broadcast would mean a driver-side
    * collect/OOM — the planner's size-based choice is the right one at
    * both ends.
    */
  def preferenceRatings(orders: DataFrame, lineitem: DataFrame,
                        customer: DataFrame, part: DataFrame): DataFrame = {
    val matched = pmod(xxhash64(col("c_mktsegment")), lit(affinityBlocks)) ===
      pmod(xxhash64(col("p_brand")), lit(affinityBlocks))
    orders.join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .join(customer.select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .join(part.select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .filter(matched || col("l_quantity") >= 46)
      .groupBy(col("o_custkey").as("user"), col("l_partkey").as("item"))
      .agg(sum(col("l_quantity") * when(matched, lit(10)).otherwise(lit(1)))
        .cast("float").as("rating"))
      // ALS hard-rejects null/NaN ratings (a pair whose quantities are
      // all NULL, or a NaN leaking through the fact table) — excluded
      .filter(col("rating").isNotNull && !isnan(col("rating")))
  }

  /** Block count for the segment↔brand affinity hash in
    * [[preferenceRatings]]: 4 blocks ⇒ ~1/4 of (segment, brand)
    * combinations are matched, a contrast strong enough to learn from
    * a 150×200 matrix at the smallest test scale.
    */
  val affinityBlocks = 4

  private def als(seed: Long): ALS = new ALS()
    .setMaxIter(10).setRegParam(0.1).setImplicitPrefs(true)
    .setColdStartStrategy("drop").setSeed(seed)
    .setUserCol("user").setItemCol("item").setRatingCol("rating")

  def topN(orders: DataFrame, lineitem: DataFrame, n: Int = 5, seed: Long = 42L): DataFrame = {
    val model = als(seed).fit(ratings(orders, lineitem))
    model.recommendForAllUsers(n)
      .select(col("user"), explode(col("recommendations")).as("rec"))
      .select(col("user"), col("rec.item").as("item"), col("rec.rating").as("score"))
  }

  /** Deterministic held-out ranking quality for the ALS fit: split the
    * rating matrix content-stably (md5("user:item") mod 100, the
    * engine's [[graft.ext.TextStats.hashSplit]] scheme — reproducible
    * across runs, partitionings and cluster sizes, unlike
    * `randomSplit`), fit on the ~80% train side with the pinned seed,
    * and return hit-rate@n: the fraction of held-out (user, item)
    * interactions that appear in the model's top-n for that user. The
    * quality band MlSpec asserts on this is the ALS twin of the churn
    * AUC / segmentation silhouette bands — a silent model break fails
    * the suite instead of surviving as a plausible row count.
    */
  /** The noise floor for [[holdoutHitRate]]: the EXPECTED hit-rate@n of a
    * recommender that picks n items uniformly at random from the catalog.
    * For any held-out (user, item), P(item ∈ n uniform picks of I) = n/I,
    * so the expectation is exactly n/I — computed, not simulated (no
    * sampling variance to calibrate away). MlSpec asserts the ALS
    * hit-rate clears a multiple of this, making "beats random by ≥k×" an
    * executable claim instead of a hand-derived constant.
    */
  def randomHitRateBaseline(orders: DataFrame, lineitem: DataFrame, n: Int = 5): Double =
    randomHitRateBaselineOf(ratings(orders, lineitem), n)

  /** [[randomHitRateBaseline]] over an already-built rating matrix, so an
    * evaluation computing several metrics pays the orders/lineitem join
    * once (MlSpec builds the frame once and feeds both this and
    * [[holdoutHitRateOf]]).
    */
  def randomHitRateBaselineOf(ratings: DataFrame, n: Int): Double =
    n.toDouble / ratings.select(col("item")).distinct().count()

  def holdoutHitRate(orders: DataFrame, lineitem: DataFrame, n: Int = 5,
                     seed: Long = 42L, trainPct: Int = 80): Double =
    holdoutHitRateOf(ratings(orders, lineitem), n, seed, trainPct)

  /** [[holdoutHitRate]] over an already-built rating matrix. */
  def holdoutHitRateOf(ratings: DataFrame, n: Int = 5,
                       seed: Long = 42L, trainPct: Int = 80): Double =
    holdoutMetricsOf(ratings, n, seed, trainPct)._1

  /** Both holdout metrics from ONE ALS fit:
    *
    *  - `_1` hit-rate@n of held-out interactions (see [[holdoutHitRate]]);
    *  - `_2` the train-reconstruction precision RATIO — precision@n of
    *    the model's top-n against the user's own TRAIN interactions,
    *    divided by its expectation under a uniform-random recommender
    *    (avg train items per user / catalog size).
    *
    * The ratio is the data-structure probe MlSpec gates: on a
    * structureless generator ALS cannot even reconstruct what it
    * trained on much better than chance (measured ~1.15 here), while on
    * data with real preference signal reconstruction is the EASY
    * direction and the ratio climbs far above it. If the synthetic
    * basket generator ever gains genuine structure, this assertion
    * fails pointing at the DATA, telling the reader to re-derive the
    * chance band the holdout gate asserts — not to suspect the model.
    */
  /** Hit-rate@n with the user's TRAIN items filtered out of the
    * recommendation list first — the eval form that can actually see
    * generalization: an implicit-ALS model ranks the items it trained
    * on highest, so when a user's train interactions outnumber `n` the
    * unfiltered top-n is all train items and held-out hits are
    * structurally impossible no matter how good the fit. Rank order
    * comes from the model's own array position (top `candidatePool`
    * per user, anti-join train, keep the first `n` surviving); the
    * pool must exceed max-train-per-user + n or trailing users run out
    * of candidates. MlSpec's falsifiability gate runs THIS metric on
    * planted-structure data (where it must beat chance by multiples)
    * and on label-shuffled data (where it must not).
    */
  def holdoutFilteredHitRateOf(ratings: DataFrame, n: Int = 5, seed: Long = 42L,
                               trainPct: Int = 80, candidatePool: Int = 50): Double = {
    val bucket = Md5Prefix.bucket(concat_ws(":", col("user"), col("item")), 100)
    Materialize.scoped { scope =>
      val withBucket = scope.cache(ratings.withColumn("bucket", bucket))
      val train = scope.cache(withBucket.filter(col("bucket") < trainPct).drop("bucket"))
      val test = withBucket.filter(col("bucket") >= trainPct).drop("bucket")
      val model = als(seed).fit(train)
      val ranked = model.recommendForAllUsers(candidatePool)
        .select(col("user"), posexplode(col("recommendations")).as(Seq("pos", "rec")))
        .select(col("user"), col("pos"), col("rec.item").as("item"))
        .join(train.select(col("user"), col("item")), Seq("user", "item"), "left_anti")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user")).orderBy(col("pos"))
      val top = ranked.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= n).select(col("user"), col("item"))
      val hits = test.join(top, Seq("user", "item"), "left_semi").count()
      val total = test.count()
      if (total == 0) 0.0 else hits.toDouble / total
    }
  }

  def holdoutMetricsOf(ratings: DataFrame, n: Int = 5,
                       seed: Long = 42L, trainPct: Int = 80): (Double, Double) = {
    val bucket = Md5Prefix.bucket(concat_ws(":", col("user"), col("item")), 100)
    Materialize.scoped { scope =>
      val withBucket = scope.cache(ratings.withColumn("bucket", bucket))
      val train = scope.cache(withBucket.filter(col("bucket") < trainPct).drop("bucket"))
      val test = withBucket.filter(col("bucket") >= trainPct).drop("bucket")
      val model = als(seed).fit(train)
      val recs = scope.cache(model.recommendForAllUsers(n)
        .select(col("user"), explode(col("recommendations.item")).as("item")))
      val hits = test.join(recs, Seq("user", "item"), "left_semi").count()
      val total = test.count()
      val hitRate = if (total == 0) 0.0 else hits.toDouble / total
      val nRecs = recs.count()
      val trainPrecision =
        if (nRecs == 0) 0.0
        else recs.join(train, Seq("user", "item"), "left_semi").count().toDouble / nRecs
      val catalog = ratings.select(col("item")).distinct().count()
      val avgTrainPerUser = train.groupBy(col("user")).count()
        .agg(avg(col("count"))).head().getDouble(0)
      val randomPrecision = avgTrainPerUser / catalog
      (hitRate, if (randomPrecision == 0.0) 0.0 else trainPrecision / randomPrecision)
    }
  }
}
