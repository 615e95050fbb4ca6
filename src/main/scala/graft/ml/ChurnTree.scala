package graft.ml

import graft.core.{BoundedFit, Materialize}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hash-gated deterministic twin of the churn classifier (M6–M10) — the
  * [[SegmentationLloyd]] pattern applied to the reference's flagship
  * model (`src/main/java/com/retail/ml/ChurnPrediction.java:309-314`).
  *
  * The ML pipeline ([[ChurnPipeline]]) stays the product path — indexer/
  * OHE/scaler/RandomForest, reference seeds — but a 100-tree forest on
  * double features is un-replayable by ANSI SQL, so it gates rows-only.
  * This twin fits a DEPTH-2 EXACT DECISION TREE over the same churn
  * features with engine-exact arithmetic at every step, so DuckDB
  * replays the WHOLE fit (split search included) bit-identically:
  *
  *   1. the same leak-free repurchase label ([[graft.analytics
  *      .Repurchase]], `ChurnPrediction.java:147-171` semantics) and the
  *      same feature trio — first purchase day, account balance,
  *      market segment — as INTEGERS: the day index is already one,
  *      the balance floors onto a cent grid (`floor(x*100)`: one IEEE
  *      multiply + floor, bit-identical on any engine), and the
  *      categorical maps through its dense-rank dictionary (an ordinal
  *      encoding; a 4-leaf tree can carve segment ranges the way the
  *      forest carves one-hot axes);
  *   2. candidate thresholds = the per-feature values at 15 fixed
  *      rank-quantiles of the fit sample (plus the max) — the value AT
  *      a rank is a property of the sorted multiset, deterministic even
  *      under duplicate values, and SQL-expressible as one window;
  *   3. split quality = exact-integer Gini numerator/denominator, with
  *      the one double division per candidate being a single IEEE op on
  *      identical integers (the quantized-cosine license); degenerate
  *      splits (an empty side) score a +1e18 sentinel instead of being
  *      special-cased, so both engines minimize over the SAME candidate
  *      set with ties broken by (feature, threshold).
  *
  * Like the Lloyd twin, the fit loop runs on the driver over the
  * [[BoundedFit]] sample of the smallest (custkey, partkey) keys
  * (≤ 2 MB of longs, a plan constant); the distributed work is the
  * label/feature build and the final assignment, which is ONE narrow
  * projection with the three splits and four leaf stats baked in as
  * literals — no join, no shuffle beyond the repurchase labeling
  * itself. At 100 TB the labeling is the measured part (q7/q8's
  * band-join path); the tree adds a map.
  */
object ChurnTree {

  /** The fit sample's order: splits are a summary, fit on the
    * [[BoundedFit.MaxRows]] smallest (custkey, partkey) examples (the
    * full example set at the oracle gate scale).
    */
  private val FitKeys = Seq("custkey", "partkey")

  /** A split: examples with feature `f` (1-based) ≤ `t` go left. */
  final case class Split(f: Int, t: Long)

  /** The fitted tree: root, left-child, right-child splits and the fit
    * sample's per-leaf (positive, total) counts — leaves are
    * 0=LL 1=LR 2=RL 3=RR by split direction.
    */
  final case class Tree(root: Split, left: Split, right: Split,
                        leafPos: Array[Long], leafN: Array[Long])

  /** (custkey, partkey, f1, f2, f3, label) — integer features over the
    * repurchase-labeled pairs: f1 = first purchase day index,
    * f2 = floor(acctbal·100) (cent grid), f3 = the segment's dense rank
    * in the distinct-segment dictionary. The dictionary window runs over
    * a DISTINCT enum-sized frame (a plan constant — the one place a
    * global window is the right plan), binary string ordering on both
    * engines.
    */
  def features(customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
               window: Int = 30): DataFrame = {
    val labels = graft.analytics.Repurchase(orders, lineitem, window)
    val segRank = customer.select(col("c_mktsegment").as("seg")).distinct()
      .withColumn("f3", dense_rank().over(Window.orderBy(col("seg"))).cast("long"))
    labels
      // f2 is the cent-grid fold of the account balance: a NULL (or
      // NaN) balance has no fold — excluded by contract, mirrored in
      // the oracle's ex CTE (the segmentation family's rule)
      .join(customer.filter(col("c_acctbal").isNotNull && !isnan(col("c_acctbal"))),
        col("custkey") === col("c_custkey"))
      .join(segRank, col("c_mktsegment") === col("seg"))
      .select(
        col("custkey"), col("partkey"),
        col("first_day").cast("long").as("f1"),
        floor(col("c_acctbal").cast("double") * lit(100.0)).cast("long").as("f2"),
        col("f3"),
        col("repurchased").cast("long").as("label"))
  }

  /** Candidate ranks into the sorted fit sample: the 1/16..15/16
    * quantile positions (integer floor-division, ranks < 1 dropped)
    * plus the max — non-empty for any non-empty sample.
    */
  def candidateRanks(n: Long): Seq[Long] =
    ((1 to 15).map(i => n * i / 16) :+ n).filter(_ >= 1).distinct

  /** Distinct (feature, threshold) candidates: per feature, the values
    * at [[candidateRanks]] of that feature's ascending sort. The value
    * at a rank is deterministic under duplicates (sorted multiset).
    */
  def candidates(rows: Array[Array[Long]]): Seq[(Int, Long)] = {
    val ranks = candidateRanks(rows.length.toLong)
    (1 to 3).flatMap { f =>
      val sorted = rows.map(_(f - 1)).sorted
      ranks.map(r => (f, sorted((r - 1).toInt)))
    }.distinct
  }

  /** Exact-Gini best split over `rows` from the shared candidate set.
    * Score = 2·(posL·negL·nR + posR·negR·nL) / (nL·nR) — the weighted
    * Gini impurity scaled by n, all-integer numerator/denominator
    * (bounded by ~2^49 at the fit cap, far from Long overflow) and ONE
    * double division; an empty side scores the 1e18 sentinel. Minimum
    * by (score, f, t) — the same ORDER BY the oracle uses.
    */
  def bestSplit(rows: Array[Array[Long]], cand: Seq[(Int, Long)]): Split = {
    val scored = cand.map { case (f, t) =>
      var nl = 0L; var posl = 0L; var n = 0L; var pos = 0L
      rows.foreach { r =>
        n += 1; pos += r(3)
        if (r(f - 1) <= t) { nl += 1; posl += r(3) }
      }
      val nr = n - nl; val posr = pos - posl
      val score =
        if (nl == 0L || nr == 0L) 1e18
        else (2L * (posl * (nl - posl) * nr + posr * (nr - posr) * nl)).toDouble /
          (nl * nr).toDouble
      (score, f, t)
    }
    val best = scored.min(
      Ordering.Tuple3(Ordering.Double.TotalOrdering, Ordering.Int, Ordering.Long))
    Split(best._2, best._3)
  }

  /** Depth-2 fit on the driver over the bounded sample: root split on
    * all rows, child splits on each side, leaf stats from the sample.
    * All three nodes search the SAME global candidate set (the
    * fixed-histogram-bins discipline Spark's own trees use via maxBins).
    */
  def fit(rows: Array[Array[Long]]): Tree = {
    val cand = candidates(rows)
    val root = bestSplit(rows, cand)
    val (l, r) = rows.partition(row => row(root.f - 1) <= root.t)
    val left = bestSplit(l, cand)
    val right = bestSplit(r, cand)
    val leafPos = new Array[Long](4); val leafN = new Array[Long](4)
    rows.foreach { row =>
      val leaf =
        if (row(root.f - 1) <= root.t) { if (row(left.f - 1) <= left.t) 0 else 1 }
        else { if (row(right.f - 1) <= right.t) 2 else 3 }
      leafN(leaf) += 1; leafPos(leaf) += row(3)
    }
    Tree(root, left, right, leafPos, leafN)
  }

  /** (custkey, partkey, leaf, leaf_pos, leaf_n, pred) over the FULL
    * example frame: the tree as one literal projection — leaf by two
    * nested comparisons, stats and majority prediction by a 4-way
    * literal CASE on the leaf id.
    */
  def assign(ex: DataFrame, tree: Tree): DataFrame = {
    def fcol(s: Split): Column = col(s"f${s.f}")
    val leaf = when(fcol(tree.root) <= lit(tree.root.t),
        when(fcol(tree.left) <= lit(tree.left.t), lit(0)).otherwise(lit(1)))
      .otherwise(
        when(fcol(tree.right) <= lit(tree.right.t), lit(2)).otherwise(lit(3)))
    def byLeaf(v: Array[Long]): Column =
      when(col("leaf") === 0, lit(v(0))).when(col("leaf") === 1, lit(v(1)))
        .when(col("leaf") === 2, lit(v(2))).otherwise(lit(v(3)))
    val pred = tree.leafPos.zip(tree.leafN).map { case (p, n) =>
      if (2L * p > n) 1L else 0L
    }
    ex.withColumn("leaf", leaf)
      .withColumn("leaf_pos", byLeaf(tree.leafPos))
      .withColumn("leaf_n", byLeaf(tree.leafN))
      .withColumn("pred", byLeaf(pred).cast("int"))
      .select(col("custkey"), col("partkey"), col("leaf"),
        col("leaf_pos"), col("leaf_n"), col("pred"))
  }

  /** Per-example churn-tree scores under the deterministic fit. The
    * result materializes UNSORTED as a ContextCleaner-managed checkpoint
    * and the feature cache is released before return
    * ([[Materialize.checkpointed]]); the global sort is returned lazily
    * over the checkpoint.
    */
  def scores(customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
             window: Int = 30): DataFrame =
    Materialize.checkpointed { scope =>
      val ex = scope.cache(features(customer, orders, lineitem, window))
      val fitRows = BoundedFit.longs(ex, FitKeys, Seq("f1", "f2", "f3", "label"))
      // the empty fit keeps the same ordered-output contract as the
      // normal path (uniform even though the frame is empty today)
      if (fitRows.isEmpty)
        assign(ex, Tree(Split(1, 0L), Split(1, 0L), Split(1, 0L),
          new Array[Long](4), new Array[Long](4))).limit(0)
      else assign(ex, fit(fitRows))
    }.orderBy(col("custkey"), col("partkey"))

  /** DuckDB oracle: the full pipeline — repurchase label, integer
    * features, rank-quantile candidates, the three Gini split searches
    * as windowed argmin CTEs (a dynamic feature reference is
    * `CASE f WHEN 1 THEN f1 ...`), leaf stats from the fit sample,
    * assignment over the full frame. `LEFT JOIN ... ON TRUE` keeps every
    * candidate row alive when a node is empty, so degenerate nodes take
    * the sentinel-scored split exactly like the engine.
    */
  def oracle(window: Int = 30): String = {
    // expression factories keep the three split-search CTEs identical
    def fsel(fa: String, ea: String) =
      s"(CASE $fa.f WHEN 1 THEN $ea.f1 WHEN 2 THEN $ea.f2 ELSE $ea.f3 END)"
    def splitAgg(name: String, from: String) =
      s"""$name AS (
         |  SELECT c.f, c.t,
         |    CAST(COALESCE(SUM(CASE WHEN ${fsel("c", "e")} <= c.t THEN 1 ELSE 0 END), 0) AS BIGINT) AS nl,
         |    CAST(COALESCE(SUM(CASE WHEN ${fsel("c", "e")} <= c.t THEN e.label ELSE 0 END), 0) AS BIGINT) AS posl,
         |    CAST(count(e.custkey) AS BIGINT) AS n,
         |    CAST(COALESCE(SUM(e.label), 0) AS BIGINT) AS pos
         |  FROM cand c LEFT JOIN $from e ON TRUE
         |  GROUP BY c.f, c.t)""".stripMargin
    def best(name: String, from: String) =
      s"""$name AS (
         |  SELECT f, t FROM (
         |    SELECT f, t, row_number() OVER (ORDER BY
         |      CASE WHEN nl = 0 OR n - nl = 0 THEN 1e18
         |           ELSE CAST(2*(posl*(nl-posl)*(n-nl) + (pos-posl)*((n-nl)-(pos-posl))*nl) AS DOUBLE)
         |                / CAST(nl*(n-nl) AS DOUBLE) END ASC, f ASC, t ASC) AS rn
         |    FROM $from) WHERE rn = 1)""".stripMargin
    s"""WITH p AS (
       |  SELECT DISTINCT o_custkey AS custkey, l_partkey AS partkey,
       |    datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) + 1 AS day
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |fp AS (SELECT custkey, partkey, min(day) AS first_day FROM p GROUP BY 1, 2),
       |lab AS (
       |  SELECT fp.custkey, fp.partkey, fp.first_day,
       |    CASE WHEN count(l.day) > 0 THEN 1 ELSE 0 END AS label
       |  FROM fp LEFT JOIN p l ON fp.custkey = l.custkey AND fp.partkey = l.partkey
       |    AND l.day > fp.first_day AND l.day <= fp.first_day + $window
       |  GROUP BY fp.custkey, fp.partkey, fp.first_day),
       |segr AS (
       |  SELECT seg, CAST(dense_rank() OVER (ORDER BY seg) AS BIGINT) AS f3
       |  FROM (SELECT DISTINCT c_mktsegment AS seg FROM customer)),
       |ex AS (
       |  SELECT l.custkey, l.partkey,
       |    CAST(l.first_day AS BIGINT) AS f1,
       |    CAST(floor(CAST(c.c_acctbal AS DOUBLE) * 100.0) AS BIGINT) AS f2,
       |    s.f3 AS f3,
       |    CAST(l.label AS BIGINT) AS label
       |  FROM lab l JOIN customer c ON c.c_custkey = l.custkey
       |  JOIN segr s ON s.seg = c.c_mktsegment
       |  WHERE c.c_acctbal IS NOT NULL AND NOT isnan(CAST(c.c_acctbal AS DOUBLE))),
       |${BoundedFit.oracleCte("ex", FitKeys)},
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM fq),
       |ranks AS (
       |  SELECT DISTINCT r FROM (
       |    SELECT (nn.n * t.i) // 16 AS r FROM nn CROSS JOIN range(1, 16) t(i)
       |    UNION ALL SELECT n AS r FROM nn) WHERE r >= 1),
       |vals AS (
       |  SELECT 1 AS f, f1 AS v FROM fq
       |  UNION ALL SELECT 2, f2 FROM fq
       |  UNION ALL SELECT 3, f3 FROM fq),
       |rv AS (SELECT f, v, row_number() OVER (PARTITION BY f ORDER BY v) AS rn FROM vals),
       |cand AS (SELECT DISTINCT f, v AS t FROM rv JOIN ranks ON rv.rn = ranks.r),
       |${splitAgg("s0", "fq")},
       |${best("b0", "s0")},
       |fq1 AS (SELECT e.* FROM fq e CROSS JOIN b0 b WHERE ${fsel("b", "e")} <= b.t),
       |fq2 AS (SELECT e.* FROM fq e CROSS JOIN b0 b WHERE ${fsel("b", "e")} > b.t),
       |${splitAgg("s1", "fq1")},
       |${best("b1", "s1")},
       |${splitAgg("s2", "fq2")},
       |${best("b2", "s2")},
       |leafx AS (
       |  SELECT e.*,
       |    CASE WHEN ${fsel("r", "e")} <= r.t
       |      THEN CASE WHEN ${fsel("a", "e")} <= a.t THEN 0 ELSE 1 END
       |      ELSE CASE WHEN ${fsel("bb", "e")} <= bb.t THEN 2 ELSE 3 END
       |    END AS leaf
       |  FROM ex e CROSS JOIN b0 r CROSS JOIN b1 a CROSS JOIN b2 bb),
       |leafstats AS (
       |  SELECT x.leaf, CAST(SUM(x.label) AS BIGINT) AS leaf_pos,
       |    CAST(count(*) AS BIGINT) AS leaf_n
       |  FROM leafx x JOIN fq q ON q.custkey = x.custkey AND q.partkey = x.partkey
       |  GROUP BY x.leaf)
       |SELECT x.custkey, x.partkey, CAST(x.leaf AS INT) AS leaf,
       |  COALESCE(s.leaf_pos, 0) AS leaf_pos,
       |  COALESCE(s.leaf_n, 0) AS leaf_n,
       |  CAST(CASE WHEN 2 * COALESCE(s.leaf_pos, 0) > COALESCE(s.leaf_n, 0)
       |       THEN 1 ELSE 0 END AS INT) AS pred
       |FROM leafx x LEFT JOIN leafstats s ON s.leaf = x.leaf
       |ORDER BY x.custkey, x.partkey""".stripMargin
  }
}
