package graft.ml

import graft.core.Materialize
import graft.functions.Md5Prefix
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hash-gated deterministic twin of the ALS recommender (M11) — the
  * [[SegmentationLloyd]]/[[ChurnTree]] pattern applied to the last ML
  * family without a bit-exact companion (reference
  * `scripts/product-recommendation/ProductRecommendation.java:53-65`).
  *
  * The ML pipeline ([[Recommender]]) stays the product path — Spark ML
  * implicit ALS, reference seeds — but its blocked factor exchange and
  * order-dependent double sums make it un-replayable by ANSI SQL, so it
  * gates rows-only + MlSpec's planted/organic holdout lifts. This twin
  * is a genuine rank-2 IMPLICIT ALS (Hu–Koren: preference p=1 on
  * observed pairs, confidence from purchase quantity, Gram-trick
  * normal equations over the full item pool) with engine-exact
  * arithmetic at every step, so DuckDB replays the WHOLE factorization
  * (init, every alternating solve, final ranking) bit-identically:
  *
  *   1. ratings = the reference's `groupBy(user, item).sum(quantity)`
  *      [A10] on an exact integer grid (per-row BIGINT cast before the
  *      sum — order-independent), confidence-capped at
  *      c−1 = min(r, [[ConfCap]]) to bound every later product;
  *   2. item factors initialize from the engine's shared md5-prefix
  *      hash ([[Md5Prefix]] of `'als:item:dim'` mod 2001 − 1000) onto the
  *      [[Q]]=10³ grid, so both engines start from the SAME integer
  *      vectors with no seeded RNG;
  *   3. each alternating solve is the closed-form 2×2 regularized
  *      normal-equation solve: the Gram matrix and per-entity moment
  *      sums are BIGINT (order-independent, overflow-audited: |y| ≤
  *      8·10³ ⇒ per-entity moments ≤ 2.7·10¹⁴ < 2⁵³, so every integer
  *      reaches the double stage EXACTLY representable), and the
  *      det/adjugate division is a fixed sequence of single IEEE-754
  *      ops on identical operands (the quantized-cosine license) —
  *      λ = [[Q]]² keeps det ≥ λ² > 0, no degenerate branch;
  *   4. factors re-quantize through the same clamp-then-floor on both
  *      engines; [[Iters]] sweeps unroll as a CTE chain ([[oracle]]);
  *   5. output = top-[[TopN]] per user over the observed pairs whose
  *      both ends carry factors, ranked by the BIGINT grid² dot
  *      product with a partkey tie-break — integer scores, total order.
  *
  * Like the other twins, the fit loop runs on the driver over the
  * [[maxFitRows]]-bounded, SQL-expressible sample (the smallest
  * (custkey, partkey) rating rows — ≤ 1.5 MB of longs, a plan
  * constant); the distributed work is the ratings aggregation and the
  * final scoring, which joins two ≤65536-row broadcast factor frames
  * onto the full rating matrix — no shuffle beyond the groupBy the
  * product ALS already pays. At 100 TB the ratings build is the
  * measured part; the twin adds two broadcast hash joins and a
  * per-user window.
  */
object AlsTwin {

  /** Factor quantization grid: raw factors live in [−8, 8] so grid
    * values are |y| ≤ 8000, keeping per-entity BIGINT moment sums
    * (≤ 63 · 6.4·10⁷ · 65536 ≈ 2.7·10¹⁴) both inside Long range and
    * exactly representable as doubles (< 2⁵³) for the solve stage.
    */
  val Q = 1000L

  /** Clamp bound on the grid scale (raw ±8). */
  val ClampGrid = 8000.0

  /** Ridge λ on the grid² scale: λ_raw = 1 ⇒ λ·Q². Keeps every 2×2
    * system positive definite (det ≥ λ² > 0).
    */
  val LambdaInt: Long = Q * Q

  /** Confidence cap: c − 1 = min(rating, ConfCap). Bounds the moment
    * sums (overflow audit above) while preserving the implicit-ALS
    * "more purchases ⇒ more confident" monotonicity over the whole
    * 1..63 quantity range.
    */
  val ConfCap = 63L

  /** Alternating sweeps (user solve then item solve per sweep). */
  val Iters = 3

  /** Recommendations kept per user, mirroring the product path's
    * `recommendForAllUsers(5)`.
    */
  val TopN = 5

  /** Fit-sample bound — the shared bounded-driver-fit posture: factors
    * are a summary; the fit input is the maxFitRows smallest
    * (custkey, partkey) rating rows (deterministic, SQL-expressible;
    * the full matrix at the oracle gate scale).
    */
  val maxFitRows = 65536

  /** Integer rating matrix: the reference's A10 aggregation with
    * per-row BIGINT quantity cast so the sum is exact and
    * order-independent on both engines.
    */
  def ratingsInt(orders: DataFrame, lineitem: DataFrame): DataFrame =
    orders.join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey").as("custkey"), col("l_partkey").as("partkey"))
      .agg(sum(col("l_quantity").cast("long")).as("r"))
      // a pair whose every quantity is NULL has no rating — excluded by
      // contract (the driver fit reads r with getLong; oracle mirrors
      // with HAVING ... IS NOT NULL)
      .filter(col("r").isNotNull)

  /** Initial factor for one (entity, dim): the [[Md5Prefix]] of
    * `als:<partkey>:<dim>` mod 2001 − 1000, a grid value in [−Q, Q]
    * (raw [−1, 1]).
    */
  def initFactor(partkey: Long, dim: Int): Long =
    Md5Prefix.fold(java.security.MessageDigest.getInstance("MD5")
      .digest(s"als:$partkey:$dim".getBytes("UTF-8"))) % 2001L - 1000L

  /** Closed-form regularized 2×2 solve, quantized back to the grid.
    * m11/m22 already include λ. Every operand is an exactly-
    * representable integer; the op sequence (two products, one
    * difference, one product, one division per coordinate — then
    * clamp, floor) is mirrored token-for-token by the oracle SQL.
    */
  def solve2x2(m11: Long, m12: Long, m22: Long, b1: Long, b2: Long): (Long, Long) = {
    val det = m11.toDouble * m22.toDouble - m12.toDouble * m12.toDouble
    val x1 = (m22.toDouble * b1.toDouble - m12.toDouble * b2.toDouble) * Q.toDouble / det
    val x2 = (m11.toDouble * b2.toDouble - m12.toDouble * b1.toDouble) * Q.toDouble / det
    (quantGrid(x1), quantGrid(x2))
  }

  /** Clamp to ±[[ClampGrid]] then floor — `CAST(floor(LEAST(GREATEST(x,
    * -8000.0), 8000.0)) AS BIGINT)` on the oracle side.
    */
  def quantGrid(x: Double): Long =
    math.floor(math.min(math.max(x, -ClampGrid), ClampGrid)).toLong

  /** Driver fit over the bounded sample rows (custkey, partkey, r):
    * [[Iters]] alternating sweeps of the Hu–Koren normal equations.
    * Returns (user factors, item factors) as sorted (id, f1, f2)
    * arrays. Integer moment sums make iteration order irrelevant.
    */
  def fit(rows: Array[Array[Long]]): (Array[(Long, Long, Long)], Array[(Long, Long, Long)]) = {
    // Primitive-array (CSR) form of the alternating sweeps — the r20
    // Map-of-tuples form spent 0.4–0.9 s of DRIVER wall boxing longs and
    // hashing keys per observation per sweep (OPTIMIZATION_r21.md). Every
    // arithmetic step below is the identical sequence of exact Long adds
    // and [[solve2x2]] calls (integer sums commute exactly; the solve is
    // per-entity), so the factors are bit-identical to the old form —
    // pinned by AlsTwinSpec against the unchanged oracle.
    val nObs = rows.length
    // dense entity indices, keyed by first appearance
    val userIdx = new java.util.HashMap[Long, Integer]()
    val itemIdx = new java.util.HashMap[Long, Integer]()
    val uOf = new Array[Int](nObs); val iOf = new Array[Int](nObs)
    val cm1 = new Array[Long](nObs)
    var k = 0
    while (k < nObs) {
      val r = rows(k)
      var u = userIdx.get(r(0))
      if (u == null) { u = userIdx.size(); userIdx.put(r(0), u) }
      var j = itemIdx.get(r(1))
      if (j == null) { j = itemIdx.size(); itemIdx.put(r(1), j) }
      uOf(k) = u; iOf(k) = j; cm1(k) = math.min(r(2), ConfCap)
      k += 1
    }
    val nU = userIdx.size(); val nI = itemIdx.size()
    val userIds = new Array[Long](nU); val itemIds = new Array[Long](nI)
    userIdx.forEach((id, ix) => userIds(ix) = id)
    itemIdx.forEach((id, ix) => itemIds(ix) = id)
    // CSR adjacency per side: obs offsets grouped by entity index
    def csr(n: Int, of: Array[Int]): (Array[Int], Array[Int]) = {
      val cnt = new Array[Int](n + 1)
      var t = 0
      while (t < nObs) { cnt(of(t) + 1) += 1; t += 1 }
      var e = 1
      while (e <= n) { cnt(e) += cnt(e - 1); e += 1 }
      val pos = java.util.Arrays.copyOf(cnt, n)
      val obsAt = new Array[Int](nObs)
      t = 0
      while (t < nObs) { val ent = of(t); obsAt(pos(ent)) = t; pos(ent) += 1; t += 1 }
      (cnt, obsAt)
    }
    val (uOff, uObs) = csr(nU, uOf)
    val (iOff, iObs) = csr(nI, iOf)

    val if1 = new Array[Long](nI); val if2 = new Array[Long](nI)
    var x = 0
    while (x < nI) {
      if1(x) = initFactor(itemIds(x), 1); if2(x) = initFactor(itemIds(x), 2)
      x += 1
    }
    val uf1 = new Array[Long](nU); val uf2 = new Array[Long](nU)

    // one side's sweep: solve each entity of (f1e, f2e) from the other
    // side's current factors; otherOf maps an obs to its other-side index
    def sweep(n: Int, off: Array[Int], obsAt: Array[Int], otherOf: Array[Int],
              o1: Array[Long], o2: Array[Long], nOther: Int,
              f1e: Array[Long], f2e: Array[Long]): Unit = {
      var g11 = 0L; var g12 = 0L; var g22 = 0L
      var q = 0
      while (q < nOther) {
        val y1 = o1(q); val y2 = o2(q)
        g11 += y1 * y1; g12 += y1 * y2; g22 += y2 * y2
        q += 1
      }
      var e = 0
      while (e < n) {
        var a11 = 0L; var a12 = 0L; var a22 = 0L; var b1 = 0L; var b2 = 0L
        var p = off(e)
        val end = off(e + 1)
        while (p < end) {
          val t = obsAt(p)
          val c = cm1(t)
          val y1 = o1(otherOf(t)); val y2 = o2(otherOf(t))
          a11 += c * y1 * y1; a12 += c * y1 * y2; a22 += c * y2 * y2
          b1 += (c + 1L) * y1; b2 += (c + 1L) * y2
          p += 1
        }
        val (v1, v2) = solve2x2(g11 + a11 + LambdaInt, g12 + a12,
          g22 + a22 + LambdaInt, b1, b2)
        f1e(e) = v1; f2e(e) = v2
        e += 1
      }
    }

    for (_ <- 1 to Iters) {
      sweep(nU, uOff, uObs, iOf, if1, if2, nI, uf1, uf2)
      sweep(nI, iOff, iObs, uOf, uf1, uf2, nU, if1, if2)
    }
    def sortedArr(ids: Array[Long], f1e: Array[Long], f2e: Array[Long])
        : Array[(Long, Long, Long)] =
      ids.indices.map(ix => (ids(ix), f1e(ix), f2e(ix))).toArray.sortBy(_._1)
    (sortedArr(userIds, uf1, uf2), sortedArr(itemIds, if1, if2))
  }

  /** (custkey, partkey, pred, rn): top-[[TopN]] observed pairs per user
    * under the fitted factors — pred is the BIGINT grid² dot product,
    * rn the per-user rank (pred desc, partkey asc). The factor frames
    * are bounded plan constants broadcast onto the full rating matrix;
    * the result materializes UNSORTED as a ContextCleaner-managed
    * checkpoint with the build cache released before return, and the
    * global sort is returned lazily over the checkpoint (both branches
    * ordered — the uniform-contract rule).
    */
  def recommend(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    Materialize.checkpointed { scope =>
      val rat = scope.cache(ratingsInt(orders, lineitem))
      val fitRows: Array[Array[Long]] = rat
        .orderBy(col("custkey"), col("partkey")).limit(maxFitRows)
        .collect()
        .map(r => Array(r.getLong(0), r.getLong(1), r.getLong(2)))
      if (fitRows.isEmpty)
        rat.select(col("custkey"), col("partkey"),
          lit(0L).as("pred"), lit(0).as("rn")).limit(0)
      else {
        val (uf, itf) = fit(fitRows)
        val ufDf = spark.createDataFrame(uf.toIndexedSeq).toDF("custkey", "x1", "x2")
        val ifDf = spark.createDataFrame(itf.toIndexedSeq).toDF("partkey", "y1", "y2")
        val scored = rat
          .join(broadcast(ufDf), Seq("custkey"))
          .join(broadcast(ifDf), Seq("partkey"))
          .withColumn("pred", col("x1") * col("y1") + col("x2") * col("y2"))
        val w = Window.partitionBy(col("custkey"))
          .orderBy(col("pred").desc, col("partkey").asc)
        scored.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= TopN)
          .select(col("custkey"), col("partkey"), col("pred"), col("rn"))
      }
    }.orderBy(col("custkey"), col("partkey"))
  }

  /** DuckDB oracle: the full factorization — integer ratings, bounded
    * fit sample, md5 init, [[Iters]] alternating solves unrolled as
    * gram/moment/solve CTE triples per side, final broadcast-join
    * scoring and per-user ranking. The solve expression mirrors
    * [[solve2x2]]'s IEEE op sequence token-for-token.
    */
  def oracle(): String = {
    // closed-form solve columns from a moments relation `a` (a11..b2)
    // and a gram relation `g` (g11, g12, g22)
    def solveCols: String = {
      val m11 = s"CAST(g.g11 + a.a11 + $LambdaInt AS DOUBLE)"
      val m12 = "CAST(g.g12 + a.a12 AS DOUBLE)"
      val m22 = s"CAST(g.g22 + a.a22 + $LambdaInt AS DOUBLE)"
      val det = s"($m11 * $m22 - $m12 * $m12)"
      def q(num: String) =
        s"CAST(floor(LEAST(GREATEST($num * ${Q}.0 / $det, -$ClampGrid), $ClampGrid)) AS BIGINT)"
      s"""${q(s"($m22 * CAST(a.b1 AS DOUBLE) - $m12 * CAST(a.b2 AS DOUBLE))")} AS f1,
         |    ${q(s"($m11 * CAST(a.b2 AS DOUBLE) - $m12 * CAST(a.b1 AS DOUBLE))")} AS f2""".stripMargin
    }
    // one side's sweep: solve `ent` factors from the `oth` side's
    // current factor relation, joined through the capped sample
    def sweepCtes(t: Int, side: String, ent: String, oth: String, othF: String): String =
      s"""g$side$t AS (
         |  SELECT CAST(COALESCE(SUM(f1*f1), 0) AS BIGINT) AS g11,
         |         CAST(COALESCE(SUM(f1*f2), 0) AS BIGINT) AS g12,
         |         CAST(COALESCE(SUM(f2*f2), 0) AS BIGINT) AS g22
         |  FROM $othF),
         |m$side$t AS (
         |  SELECT f.$ent AS id,
         |    CAST(SUM(f.cm1 * o.f1 * o.f1) AS BIGINT) AS a11,
         |    CAST(SUM(f.cm1 * o.f1 * o.f2) AS BIGINT) AS a12,
         |    CAST(SUM(f.cm1 * o.f2 * o.f2) AS BIGINT) AS a22,
         |    CAST(SUM((f.cm1 + 1) * o.f1) AS BIGINT) AS b1,
         |    CAST(SUM((f.cm1 + 1) * o.f2) AS BIGINT) AS b2
         |  FROM fqc f JOIN $othF o ON o.id = f.$oth GROUP BY 1),
         |$side$t AS (
         |  SELECT a.id,
         |    $solveCols
         |  FROM m$side$t a CROSS JOIN g$side$t g)""".stripMargin
    val sweeps = (1 to Iters).map { t =>
      val prevItems = if (t == 1) "if0" else s"i${t - 1}"
      sweepCtes(t, "u", "custkey", "partkey", prevItems) + ",\n" +
        sweepCtes(t, "i", "partkey", "custkey", s"u$t")
    }
    s"""WITH rat AS (
       |  SELECT o_custkey AS custkey, l_partkey AS partkey,
       |    CAST(SUM(CAST(trunc(l_quantity) AS BIGINT)) AS BIGINT) AS r
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |  GROUP BY 1, 2
       |  HAVING SUM(CAST(trunc(l_quantity) AS BIGINT)) IS NOT NULL),
       |fq AS (SELECT * FROM rat ORDER BY custkey, partkey LIMIT $maxFitRows),
       |fqc AS (SELECT custkey, partkey, LEAST(r, $ConfCap) AS cm1 FROM fq),
       |if0 AS (
       |  SELECT partkey AS id,
       |    ${Md5Prefix.sql("'als:' || partkey || ':1'")} % 2001 - 1000 AS f1,
       |    ${Md5Prefix.sql("'als:' || partkey || ':2'")} % 2001 - 1000 AS f2
       |  FROM (SELECT DISTINCT partkey FROM fq)),
       |${sweeps.mkString(",\n")}
       |SELECT custkey, partkey, pred, CAST(rn AS INT) AS rn FROM (
       |  SELECT r.custkey, r.partkey,
       |    CAST(u.f1 * i.f1 + u.f2 * i.f2 AS BIGINT) AS pred,
       |    row_number() OVER (PARTITION BY r.custkey
       |      ORDER BY u.f1 * i.f1 + u.f2 * i.f2 DESC, r.partkey ASC) AS rn
       |  FROM rat r JOIN u$Iters u ON u.id = r.custkey
       |    JOIN i$Iters i ON i.id = r.partkey)
       |WHERE rn <= $TopN
       |ORDER BY custkey, partkey""".stripMargin
  }
}
