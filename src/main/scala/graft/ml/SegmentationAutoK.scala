package graft.ml

import graft.core.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Hash-gated deterministic twin of the reference's AUTO-K SELECTION —
  * the last reference behavior that until r14 was gated only by
  * metrics. Reference: silhouette-selected K in {2..8}, ties broken by
  * lower WSSSE (`src/main/java/com/retail/ml/SegmentationModel.java:
  * 95-145,181-194`). [[SegmentationPipeline.fitAutoK]] stays the
  * product path (k-means|| init, reference seed 123, Spark's squared
  * silhouette — an iterative seeded fit ANSI SQL cannot replay); this
  * twin re-expresses the SELECTION SEMANTICS with engine-exact
  * arithmetic so DuckDB replays the entire K sweep bit-identically:
  *
  *   1. the same quantized feature frame as [[SegmentationLloyd]]
  *      (shared oracle prefix — one feature contract, two gates);
  *   2. for each K in {kMin..kMax}: the integer-grid Lloyd fit on the
  *      bounded sample (sample pulled ONCE across all K), then one
  *      distributed criterion pass over the FULL quantized frame —
  *      per row, the BIGINT squared distances to all K centroid
  *      literals, sorted; `a` = nearest (sums to the exact WSSSE the
  *      reference reads as trainingCost), `b` = second-nearest;
  *   3. the simplified squared-distance silhouette (b-a)/b — the
  *      O(n·k) centroid form of the O(n²) pairwise silhouette, and the
  *      same squared-distance family Spark's ClusteringEvaluator uses —
  *      quantized per row to a 10^6 integer grid so the corpus sum is
  *      an order-independent BIGINT (a raw double sum would be
  *      order-dependent and un-replayable);
  *   4. selection = rank 1 by (silhouette sum DESC, exact decimal
  *      WSSSE ASC, K ASC) — the reference's "max silhouette, ties to
  *      lower WSSSE" on exact integer/decimal comparisons.
  *
  * Scale shape: the K sweep is kMax-1 narrow map+aggregate passes over
  * one cached quantized frame — no join, no shuffle beyond the RFM
  * aggregation; the Lloyd fits are driver loops over one bounded
  * SQL-expressible sample (the BoundedFitSpec-audited contract), and
  * every per-row term stays in whole-stage codegen. At 100 TB the
  * criterion pass is a scan with k literal centroids, exactly like
  * [[SegmentationLloyd.assign]].
  */
object SegmentationAutoK {

  /** Per-row silhouette quantization grid: s = (b-a)/b lies in [0,1],
    * so 10^6 keeps the corpus sum within BIGINT up to ~9·10^12 rows.
    */
  val SilGrid = 1000000L

  private def sq(c: Column): Column = c * c

  /** Squared distances from a quantized row to every centroid, as a
    * sorted BIGINT array (k literals — a plan constant).
    */
  private def sortedScores(cents: Array[Array[Long]]): Column =
    array_sort(array(cents.toIndexedSeq.map { ct =>
      sq(col("q1") - lit(ct(0))) + sq(col("q2") - lit(ct(1))) +
        sq(col("q3") - lit(ct(2))) + sq(col("q4") - lit(ct(3)))
    }: _*))

  /** One-row criterion frame for a fitted K: (k, wssse_dec, wssse,
    * sil_q). WSSSE sums the BIGINT nearest-distances through
    * DECIMAL(38,0) (exact, order-independent; BIGINT would overflow
    * past ~5·10^5 hostile-magnitude rows) and emits the double through
    * the VARCHAR bridge (the [[graft.functions.Exact]] contract — a
    * direct decimal→double cast diverges between engines past 2^53).
    */
  private def critFrame(q: DataFrame, k: Int, cents: Array[Array[Long]]): DataFrame = {
    val rows =
      if (cents.isEmpty)
        // an empty corpus seeds zero centroids: keep the aggregate's
        // one-NULL-row shape without planning array() over zero columns
        q.limit(0).select(lit(0L).as("a"), lit(0L).as("s_q"))
      else {
        val sc = sortedScores(cents)
        val a = element_at(sc, 1)
        val sQ =
          if (cents.length < 2) lit(0L) // no second centroid: silhouette undefined, pinned to 0
          else {
            val b = element_at(sc, 2)
            // b >= a by construction (sorted), so max(a,b) = b; the
            // division is one IEEE op on two exact long→double casts —
            // identical in both engines — and the floor grid makes the
            // per-row score an integer
            when(b === 0L, lit(0L)).otherwise(
              floor((b - a).cast("double") / b.cast("double") * lit(SilGrid.toDouble))
                .cast("long"))
          }
        q.select(a.as("a"), sQ.as("s_q"))
      }
    rows
      .agg(
        sum(col("a").cast(DecimalType(38, 0))).as("wssse_dec"),
        sum(col("s_q")).as("sil_q"))
      .select(
        lit(k).as("k"),
        col("wssse_dec"),
        col("wssse_dec").cast("string").cast("double").as("wssse"),
        col("sil_q"))
  }

  /** The auto-K report: one row per K in {kMin..kMax} with the exact
    * WSSSE and quantized silhouette sum, plus `selected` = 1 on the
    * reference's choice (max silhouette, ties → lower WSSSE → lower K).
    * The per-K frames materialize as one 7-row checkpoint before the
    * build cache is released ([[Materialize.checkpointed]]).
    */
  def report(customer: DataFrame, orders: DataFrame, kMin: Int = 2,
             kMax: Int = 8, iters: Int = 3): DataFrame = {
    val crit = Materialize.checkpointed { scope =>
      val q = scope.cache(SegmentationLloyd.quantized(
        SegmentationPipeline.features(customer, orders)))
      val sample = SegmentationLloyd.collectFitSample(q)
      (kMin to kMax)
        .map(k => critFrame(q, k, SegmentationLloyd.fitLloydData(sample, k, iters)))
        .reduce(_.unionByName(_))
    }
    // the ranking runs over a (kMax-kMin+1)-row checkpointed frame — the
    // single-partition window is free here
    val w = Window.orderBy(col("sil_q").desc, col("wssse_dec").asc, col("k").asc)
    crit
      .withColumn("selected", when(row_number().over(w) === 1, 1).otherwise(0).cast("int"))
      .select(col("k"), col("wssse"), col("sil_q"), col("selected"))
      .orderBy(col("k"))
  }

  /** DuckDB oracle: the shared feature prefix, then per K the unrolled
    * Lloyd chain (suffixed `_k2`.. `_k8`) and a criterion CTE — nearest
    * and second-nearest via rn<=2 conditional aggregation over the FULL
    * quantized frame — unioned and ranked exactly like [[report]].
    */
  def oracle(kMin: Int = 2, kMax: Int = 8, iters: Int = 3): String = {
    val perK = (kMin to kMax).flatMap { k =>
      val sfx = s"_k$k"
      val chain = SegmentationLloyd.oracleCentChain(k, iters, sfx)
      val crit =
        s"""ab$sfx AS (
           |  SELECT custkey,
           |    SUM(CASE WHEN rn = 1 THEN score END) AS a,
           |    SUM(CASE WHEN rn = 2 THEN score END) AS b
           |  FROM (
           |    SELECT f.custkey, ${SegmentationLloyd.oracleScore("f", "c")} AS score,
           |      row_number() OVER (PARTITION BY f.custkey
           |                         ORDER BY ${SegmentationLloyd.oracleScore("f", "c")} ASC, c.cell ASC) AS rn
           |    FROM q f CROSS JOIN cent$iters$sfx c) WHERE rn <= 2 GROUP BY 1),
           |crit$sfx AS (
           |  SELECT $k AS k,
           |    SUM(CAST(a AS DECIMAL(38,0))) AS wssse_dec,
           |    CAST(CAST(SUM(CAST(a AS DECIMAL(38,0))) AS VARCHAR(64)) AS DOUBLE) AS wssse,
           |    CAST(SUM(CASE WHEN b IS NULL OR b = 0 THEN 0
           |             ELSE CAST(floor(CAST(b - a AS DOUBLE) / CAST(b AS DOUBLE) * ${SilGrid.toDouble}) AS BIGINT) END) AS BIGINT) AS sil_q
           |  FROM ab$sfx)""".stripMargin
      chain :+ crit
    }
    val unions = (kMin to kMax)
      .map(k => s"SELECT k, wssse_dec, wssse, sil_q FROM crit_k$k")
      .mkString("\n  UNION ALL ")
    val tail =
      s"""SELECT CAST(k AS INT) AS k, wssse, sil_q,
         |  CAST(CASE WHEN row_number() OVER (ORDER BY sil_q DESC, wssse_dec ASC, k ASC) = 1
         |       THEN 1 ELSE 0 END AS INT) AS selected
         |FROM ($unions)
         |ORDER BY k""".stripMargin
    (Seq(SegmentationLloyd.oracleBaseCtes) ++ perK).mkString(",\n") + "\n" + tail
  }
}
