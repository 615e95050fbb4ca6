package graft.ml

import graft.core.{BoundedFit, Materialize}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hash-gated deterministic twin of the K-Means segmentation (M1–M5) —
  * the [[graft.ext.AnnIvf.lloydCentroidsQ]] pattern applied to the
  * reference's customer-segmentation fit
  * (`src/main/java/com/retail/ml/SegmentationModel.java:73-145`).
  *
  * The ML pipeline ([[SegmentationPipeline]]) stays the product path —
  * auto-K by silhouette, reference seeds — but its k-means|| init and
  * order-dependent double sums make it un-replayable by ANSI SQL, so it
  * gates rows-only. This twin swaps in engine-exact arithmetic at every
  * step so DuckDB replays the WHOLE fit bit-identically:
  *
  *   1. the same RFM feature frame ([[SegmentationPipeline.features]],
  *      decimal-exact monetary via [[graft.functions.Exact.dsum]]);
  *   2. deterministic standardization — divide by the per-column
  *      max-abs (an order-independent exact aggregate, where the ML
  *      scaler's stddev is an order-dependent double sum) and quantize
  *      to a 10^6 integer grid: `floor(x / s * Grid)` is the same two
  *      IEEE ops on both engines;
  *   3. fixed-iteration Lloyd with init = the k smallest custkeys'
  *      vectors (cell id = rank), BIGINT squared-distance argmin (ties
  *      to the lower cell), floor-div re-centering — integer sums are
  *      order-independent, so the fit replays as an unrolled CTE chain
  *      ([[oracle]]); empty cells keep their previous centroid.
  *
  * Like the IVF fit, the Lloyd loop itself runs on the driver over the
  * [[BoundedFit]] sample of the smallest custkeys (k·dims longs per
  * iteration of state — a plan constant); the distributed work is the
  * feature scan and the final assignment projection. At 100 TB the
  * assignment is one narrow map over the feature frame with the k
  * centroids as literals — no join, no shuffle beyond the RFM
  * aggregation itself.
  */
object SegmentationLloyd {

  /** Quantization grid: features are first normalized to [-1, 1] by the
    * per-column max-abs, so 10^6 keeps every squared distance far below
    * Long overflow ((2·10^6)^2 · 4 dims ≈ 1.6e13).
    */
  val Grid = 1000000L

  /** The fit sample's order: the [[BoundedFit.MaxRows]] smallest
    * custkeys, in the engine's pull and in the oracle's `fq`.
    */
  private val FitKeys = Seq("custkey")

  private val featCols = Seq("acctbal", "frequency", "monetary", "recency_days")

  /** (custkey, q1..q4): per-column max-abs scales (exact,
    * order-independent; zero/empty falls back to 1 so all-constant
    * columns quantize to 0 instead of NaN) baked in as literals, then
    * one narrow floor-quantization projection — no join, no shuffle.
    */
  def quantized(features: DataFrame): DataFrame = {
    val scaleRow = features
      .agg(max(abs(col(featCols.head))).as(featCols.head),
        featCols.tail.map(c => max(abs(col(c))).as(c)): _*)
      .head()
    val scales = featCols.indices.map { i =>
      if (scaleRow.isNullAt(i) || scaleRow.getDouble(i) == 0.0) 1.0
      else scaleRow.getDouble(i)
    }
    // saturating clamp + NaN guard around the floor, mirroring the
    // embedding paths' quantizer contract ([[graft.functions.QuantizedDot
    // .quantize]]): the max-abs scaling bounds |x/s| ≤ 1 for any frame
    // that honors the catalog contract, so for catalog data every value
    // is in-range and the clamp is a no-op (the DuckDB twin's plain
    // floor stays bit-identical) — but a caller-supplied frame with a
    // NaN/Inf feature now quantizes to 0 / saturates at ±QMax instead of
    // flowing a non-finite double into cast(long) and the BIGINT
    // distance math (|q| ≤ QMax keeps the 4-dim squared distance within
    // long range: 4 · (2·10^8)² ≈ 1.6·10^17 << 2^63)
    val qmax = graft.functions.QuantizedDot.QMax.toDouble
    features.select(
      col("custkey") +:
        featCols.zip(scales).zipWithIndex.map { case ((c, s), i) =>
          val y = floor(col(c) / lit(s) * lit(Grid.toDouble))
          when(isnan(y), lit(0L))
            .otherwise(least(greatest(y, lit(-qmax)), lit(qmax)).cast("long"))
            .as(s"q${i + 1}")
        }: _*)
  }

  /** Fixed-iteration Lloyd over the quantized grid: [[BoundedFit.lloyd]]
    * over [[fitSample]], the kernel [[graft.ext.AnnIvf.lloydCentroidsQ]]
    * runs too. Its `|c|² − 2·v·c` score is the full squared distance
    * the oracle orders by, less the per-row constant `|q|²`, so argmin
    * and ties agree. A corpus smaller than k seeds fewer cells.
    */
  def fitLloyd(q: DataFrame, k: Int, iters: Int): Array[Array[Long]] =
    BoundedFit.lloyd(fitSample(q), k, iters)

  /** The custkey-ordered [[BoundedFit]] sample of the quantized frame as
    * driver rows (q1..q4) — its own def so the auto-K twin, which fits
    * K=2..8, pulls it once instead of once per K.
    */
  def fitSample(q: DataFrame): Array[Array[Long]] =
    BoundedFit.longs(q, FitKeys, Seq("q1", "q2", "q3", "q4"))

  /** (custkey, cluster) under the fitted centroids: one narrow argmin
    * projection — `array_min` over k `struct(score, cluster)` literals,
    * lexicographic ordering = min score, ties to the lower cluster.
    */
  def assign(q: DataFrame, cents: Array[Array[Long]]): DataFrame = {
    // an empty corpus seeds zero centroids — return the operator's
    // normal (custkey, cluster) shape with zero rows instead of
    // planning array_min over an empty literal array
    if (cents.isEmpty)
      return q.select(col("custkey"), lit(0).as("cluster")).limit(0)
    def sq(c: org.apache.spark.sql.Column) = c * c
    val scored = array(cents.toIndexedSeq.zipWithIndex.map { case (ct, i) =>
      struct(
        (sq(col("q1") - lit(ct(0))) + sq(col("q2") - lit(ct(1))) +
          sq(col("q3") - lit(ct(2))) + sq(col("q4") - lit(ct(3)))).as("score"),
        lit(i).as("cluster"))
    }: _*)
    q.select(col("custkey"), array_min(scored).getField("cluster").as("cluster"))
  }

  /** Per-customer segment under the deterministic Lloyd fit. The result
    * materializes UNSORTED as a ContextCleaner-managed checkpoint (the
    * g2 lesson — callers that count or join pay no sort) and the build
    * cache is released before return ([[Materialize.checkpointed]]).
    */
  def segments(customer: DataFrame, orders: DataFrame, k: Int = 4,
               iters: Int = 3): DataFrame = {
    Materialize.checkpointed { scope =>
      val q = scope.cache(quantized(SegmentationPipeline.features(customer, orders)))
      assign(q, fitLloyd(q, k, iters))
    }.orderBy(col("custkey"))
  }

  /** DuckDB oracle: the full pipeline — RFM features, max-abs
    * quantization, the Lloyd fit unrolled as a cent0..centT CTE chain
    * (floor division via the floorMod identity, the
    * [[graft.ext.AnnIvf.lloydTopKOracle]] precedent), final assignment
    * over the FULL quantized frame like the engine's [[assign]].
    */
  def oracle(k: Int = 4, iters: Int = 3): String = {
    val tail =
      s"""SELECT custkey, CAST(cell AS INT) AS cluster FROM (
         |  SELECT f.custkey, c.cell,
         |    row_number() OVER (PARTITION BY f.custkey
         |                       ORDER BY ${oracleScore("f", "c")} ASC, c.cell ASC) AS rn
         |  FROM q f CROSS JOIN cent$iters c) WHERE rn = 1
         |ORDER BY custkey""".stripMargin
    (Seq(oracleBaseCtes) ++ oracleCentChain(k, iters, "")).mkString(",\n") + "\n" + tail
  }

  /** Squared distance between a quantized row `f` and a centroid `c` —
    * the shared scoring term of every assignment CTE.
    */
  private[ml] def oracleScore(f: String, c: String): String =
    (1 to 4).map(d => s"($f.q$d-$c.c$d)*($f.q$d-$c.c$d)").mkString("+")

  /** The K-independent feature/quantization prefix of the oracle — RFM
    * features, max-abs scales, the quantized frame `q`, the bounded fit
    * sample `fq` — shared verbatim by the fixed-K oracle and the auto-K
    * oracle ([[SegmentationAutoK.oracle]]) so the two gates replay the
    * identical feature contract.
    */
  private[ml] def oracleBaseCtes: String =
    s"""WITH rfm AS (
         |  SELECT o_custkey,
         |    count(DISTINCT o_orderkey) AS frequency,
         |    CAST(CAST(SUM(CAST(CASE WHEN o_totalprice IS NULL OR isnan(o_totalprice) OR abs(o_totalprice) > 99999999999999.9 THEN NULL ELSE o_totalprice END AS DECIMAL(18,4))) AS VARCHAR(64)) AS DOUBLE) AS monetary,
         |    datediff('day', CAST(max(o_orderdate) AS DATE),
         |             CAST((SELECT max(o_orderdate) FROM orders) AS DATE)) AS recency_days
         |  FROM orders GROUP BY 1),
         |feats AS (
         |  SELECT c.c_custkey AS custkey,
         |    CAST(c.c_acctbal AS DOUBLE) AS acctbal,
         |    CAST(COALESCE(r.frequency, 0) AS DOUBLE) AS frequency,
         |    COALESCE(r.monetary, 0.0) AS monetary,
         |    CAST(COALESCE(r.recency_days, 0) AS DOUBLE) AS recency_days
         |  FROM customer c LEFT JOIN rfm r ON r.o_custkey = c.c_custkey
         |  WHERE c.c_acctbal IS NOT NULL AND NOT isnan(CAST(c.c_acctbal AS DOUBLE))),
         |scales AS (
         |  SELECT
         |    CASE WHEN COALESCE(max(abs(acctbal)), 0) = 0 THEN 1.0 ELSE max(abs(acctbal)) END AS s1,
         |    CASE WHEN COALESCE(max(abs(frequency)), 0) = 0 THEN 1.0 ELSE max(abs(frequency)) END AS s2,
         |    CASE WHEN COALESCE(max(abs(monetary)), 0) = 0 THEN 1.0 ELSE max(abs(monetary)) END AS s3,
         |    CASE WHEN COALESCE(max(abs(recency_days)), 0) = 0 THEN 1.0 ELSE max(abs(recency_days)) END AS s4
         |  FROM feats),
         |q AS (
         |  SELECT f.custkey,
         |    CAST(floor(f.acctbal / s.s1 * 1000000.0) AS BIGINT) AS q1,
         |    CAST(floor(f.frequency / s.s2 * 1000000.0) AS BIGINT) AS q2,
         |    CAST(floor(f.monetary / s.s3 * 1000000.0) AS BIGINT) AS q3,
         |    CAST(floor(f.recency_days / s.s4 * 1000000.0) AS BIGINT) AS q4
         |  FROM feats f CROSS JOIN scales s),
         |${BoundedFit.oracleCte("q", FitKeys)}""".stripMargin

  /** The unrolled Lloyd fit for one K as a CTE list `cent0$sfx` ..
    * `cent$iters$sfx` over the shared `fq` sample. The suffix keeps the
    * per-K chains disjoint when the auto-K oracle unrolls seven fits in
    * one statement.
    */
  private[ml] def oracleCentChain(k: Int, iters: Int, sfx: String): Seq[String] = {
    val cent0 =
      s"""cent0$sfx AS (
         |  SELECT CAST(row_number() OVER (ORDER BY custkey) - 1 AS INT) AS cell,
         |         q1 AS c1, q2 AS c2, q3 AS c3, q4 AS c4
         |  FROM (SELECT * FROM fq ORDER BY custkey LIMIT $k))""".stripMargin
    val steps = (1 to iters).map { t =>
      val p = t - 1
      val centCols = (1 to 4).map { d =>
        s"COALESCE((n.s$d - (((n.s$d % n.n) + n.n) % n.n)) // n.n, c.c$d) AS c$d"
      }.mkString(",\n    ")
      s"""asg$t$sfx AS (
         |  SELECT custkey, cell FROM (
         |    SELECT f.custkey, c.cell,
         |      row_number() OVER (PARTITION BY f.custkey
         |                         ORDER BY ${oracleScore("f", "c")} ASC, c.cell ASC) AS rn
         |    FROM fq f CROSS JOIN cent$p$sfx c) WHERE rn = 1),
         |newc$t$sfx AS (
         |  SELECT a.cell,
         |    CAST(SUM(f.q1) AS BIGINT) AS s1, CAST(SUM(f.q2) AS BIGINT) AS s2,
         |    CAST(SUM(f.q3) AS BIGINT) AS s3, CAST(SUM(f.q4) AS BIGINT) AS s4,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM fq f JOIN asg$t$sfx a ON a.custkey = f.custkey GROUP BY 1),
         |cent$t$sfx AS (
         |  SELECT c.cell,
         |    $centCols
         |  FROM cent$p$sfx c LEFT JOIN newc$t$sfx n ON n.cell = c.cell)""".stripMargin
    }
    cent0 +: steps
  }
}
