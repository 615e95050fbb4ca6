package graft.ml

import graft.core.Materialize
import org.apache.spark.ml.fpm.FPGrowth
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Frequent-itemset mining over order baskets.
  *
  * Replaces the reference's RDD-based mllib FP-Growth
  * (`scripts/basket-analysis/MarketBasketAnalysis.java:125-183`: Row ->
  * JavaPairRDD -> groupByKey -> mllib FPGrowth [R1-R5, M13]) with the
  * DataFrame-native `ml.fpm.FPGrowth`: baskets are built with
  * `groupBy(order).agg(collect_set(item))` — staying inside Catalyst
  * keeps codegen + AQE, which the reference's `javaRDD()` detour forfeits
  * (SURVEY §2.9).
  */
object BasketItemsets {

  def baskets(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey").cast("string")).as("items"))

  /** Frequent itemsets; output canonicalized (sorted items joined by ',')
    * and deterministically ordered. `maxSize` caps the EMITTED itemset
    * size to the size the relational oracle enumerates — at scales where
    * the support floor rounds to 1 basket (sf0.001 at 1e-4 support) every
    * itemset of every size is frequent, and an uncapped emit silently
    * exceeds the oracle's size-bounded replay (found by the r13 hostile
    * probe running the gate off its usual scale; at sf0.01 no itemset
    * beyond the cap was frequent, so the gap never showed).
    */
  def frequentItemsets(lineitem: DataFrame, minSupport: Double = 0.002,
                       maxSize: Int = Int.MaxValue): DataFrame = {
    val fp = new FPGrowth().setItemsCol("items")
      .setMinSupport(minSupport).setMinConfidence(0.1)
    // the fit is eager and the model holds its own itemsets frame, so
    // the basket cache releases as soon as training returns
    val model = Materialize.scoped(scope => fp.fit(scope.cache(baskets(lineitem))))
    model.freqItemsets
      .filter(size(col("items")) <= maxSize)
      .select(array_join(sort_array(col("items")), ",").as("itemset"), col("freq"))
      .orderBy(col("freq").desc, col("itemset").asc)
  }

  /** Frequent itemsets restricted to size <= 2 — the subset SQL can
    * replay (singleton frequencies + co-occurrence pair counts), which
    * turns the FP-Growth result itself into an oracle-checkable table.
    */
  def frequentItemsetsUpTo2(lineitem: DataFrame, minSupport: Double = 0.002): DataFrame =
    frequentItemsets(lineitem, minSupport, maxSize = 2)
      .filter(size(split(col("itemset"), ",")) <= 2)

  /** Frequent itemsets restricted to size <= 3 — extends the SQL-replayable
    * slice to triples, tightening the M13 gate (an FP-Growth bug in
    * conditional-tree recursion would first surface at size 3, which the
    * pairs-only gate cannot see).
    */
  def frequentItemsetsUpTo3(lineitem: DataFrame, minSupport: Double = 0.002): DataFrame =
    frequentItemsets(lineitem, minSupport, maxSize = 3)
      .filter(size(split(col("itemset"), ",")) <= 3)

  def upTo3Oracle(minSupport: Double): String =
    s"""WITH b AS (SELECT DISTINCT l_orderkey, CAST(l_partkey AS VARCHAR) AS item FROM lineitem),
       |n AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM lineitem),
       |th AS (SELECT CAST(ceil($minSupport * n_baskets) AS BIGINT) AS min_freq FROM n),
       |singles AS (
       |  SELECT item AS itemset, count(*) AS freq FROM b GROUP BY item
       |  HAVING count(*) >= (SELECT min_freq FROM th)),
       |pairs AS (
       |  SELECT a.item || ',' || c.item AS itemset, count(*) AS freq
       |  FROM b a JOIN b c ON a.l_orderkey = c.l_orderkey AND a.item < c.item
       |  GROUP BY 1 HAVING count(*) >= (SELECT min_freq FROM th)),
       |triples AS (
       |  -- string-ordered items, matching Spark's sort_array on strings
       |  SELECT a.item || ',' || c.item || ',' || d.item AS itemset, count(*) AS freq
       |  FROM b a
       |  JOIN b c ON a.l_orderkey = c.l_orderkey AND a.item < c.item
       |  JOIN b d ON c.l_orderkey = d.l_orderkey AND c.item < d.item
       |  GROUP BY 1 HAVING count(*) >= (SELECT min_freq FROM th))
       |SELECT itemset, freq FROM (
       |  SELECT * FROM singles UNION ALL SELECT * FROM pairs UNION ALL SELECT * FROM triples)
       |ORDER BY freq DESC, itemset ASC""".stripMargin

  /** Association rules from the frequent itemsets (beyond the
    * reference, which prints itemsets only): restricted to 1->1 rules
    * so the relational twin is exact — confidence, lift and support are
    * pure frequency ratios, replayed division-for-division by the
    * oracle. The size filter guards parity if a support change ever
    * admits larger antecedents.
    */
  def associationRules(lineitem: DataFrame, minSupport: Double = 0.002,
                       minConfidence: Double = 0.1): DataFrame = {
    val fp = new FPGrowth().setItemsCol("items")
      .setMinSupport(minSupport).setMinConfidence(minConfidence)
    val model = Materialize.scoped(scope => fp.fit(scope.cache(baskets(lineitem))))
    model.associationRules
      .filter(size(col("antecedent")) === 1 && size(col("consequent")) === 1)
      .select(
        array_join(col("antecedent"), ",").as("antecedent"),
        array_join(col("consequent"), ",").as("consequent"),
        col("confidence"), col("lift"), col("support"))
  }

  def rulesOracle(minSupport: Double, minConfidence: Double): String =
    s"""WITH b AS (SELECT DISTINCT l_orderkey, CAST(l_partkey AS VARCHAR) AS item FROM lineitem),
       |n AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM lineitem),
       |th AS (SELECT CAST(ceil($minSupport * n_baskets) AS BIGINT) AS min_freq FROM n),
       |singles AS (
       |  SELECT item, count(*) AS freq FROM b GROUP BY item
       |  HAVING count(*) >= (SELECT min_freq FROM th)),
       |pairsf AS (
       |  SELECT a.item AS i1, c.item AS i2, count(*) AS freq
       |  FROM b a JOIN b c ON a.l_orderkey = c.l_orderkey AND a.item < c.item
       |  GROUP BY 1, 2 HAVING count(*) >= (SELECT min_freq FROM th)),
       |oriented AS (
       |  SELECT i1 AS ante, i2 AS cons, freq FROM pairsf
       |  UNION ALL SELECT i2, i1, freq FROM pairsf),
       |r AS (
       |  SELECT o.ante AS antecedent, o.cons AS consequent,
       |    CAST(o.freq AS DOUBLE) / sa.freq AS confidence,
       |    (CAST(o.freq AS DOUBLE) / sa.freq)
       |      / (CAST(sb.freq AS DOUBLE) / (SELECT n_baskets FROM n)) AS lift,
       |    CAST(o.freq AS DOUBLE) / (SELECT n_baskets FROM n) AS support
       |  FROM oriented o
       |  JOIN singles sa ON o.ante = sa.item
       |  JOIN singles sb ON o.cons = sb.item)
       |SELECT antecedent, consequent, confidence, lift, support
       |FROM r WHERE confidence >= $minConfidence""".stripMargin

  def upTo2Oracle(minSupport: Double): String =
    s"""WITH b AS (SELECT DISTINCT l_orderkey, CAST(l_partkey AS VARCHAR) AS item FROM lineitem),
       |n AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM lineitem),
       |th AS (SELECT CAST(ceil($minSupport * n_baskets) AS BIGINT) AS min_freq FROM n),
       |singles AS (
       |  SELECT item AS itemset, count(*) AS freq FROM b GROUP BY item
       |  HAVING count(*) >= (SELECT min_freq FROM th)),
       |pairs AS (
       |  -- itemset pieces sort as STRINGS (matching Spark's sort_array on
       |  -- the string-typed items column)
       |  SELECT a.item || ',' || c.item AS itemset, count(*) AS freq
       |  FROM b a JOIN b c ON a.l_orderkey = c.l_orderkey AND a.item < c.item
       |  GROUP BY 1 HAVING count(*) >= (SELECT min_freq FROM th))
       |SELECT itemset, freq FROM (SELECT * FROM singles UNION ALL SELECT * FROM pairs)
       |ORDER BY freq DESC, itemset ASC""".stripMargin
}
