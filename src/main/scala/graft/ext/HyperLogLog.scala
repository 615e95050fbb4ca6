package graft.ext

import graft.functions.Md5Prefix
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Engine-replayable HyperLogLog: the 256-register, constant-memory
  * distinct-count sketch (Flajolet et al.), built so every step —
  * including the final estimate — is bit-identical in Spark and
  * DuckDB and therefore hash-gateable, which Spark's built-in
  * `approx_count_distinct` (xxhash-based, opaque register encoding)
  * can never be.
  *
  * How exactness survives a "probabilistic" sketch: the md5-prefix
  * 48-bit hash splits into an 8-bit register index and a 40-bit
  * pattern `w`; the rank `rho = 41 - length(bin(w))` is pure integer
  * string arithmetic (both engines print `bin` without leading
  * zeros); the harmonic sum `Σ 2^-rho` is kept EXACT by scaling to
  * `Σ 2^(41-rho)` — a BIGINT shift-and-sum bounded by 256·2^41 — and
  * the estimate is then ONE IEEE double division of that exact
  * integer into one precomputed double constant. No libm anywhere.
  *
  * This is the raw HLL estimator (no small-range linear-counting or
  * 32-bit large-range correction): the gated query runs in the
  * n ≫ m regime where raw HLL is the right estimator; `n_zero` is
  * emitted so a driver applying the standard corrections has what it
  * needs. Registers merge across shards/days by per-bucket `max` —
  * the same distributive-merge contract as the count-min (t12) and
  * Bloom (t14) sketches, pinned in ExtSpec.
  */
object HyperLogLog {

  val M = 256

  /** alpha_256 * m^2 * 2^41 as one double constant, embedded as the
    * identical literal in both engines (shortest-repr round-trip).
    */
  private val numer: Double =
    0.7213 / (1.0 + 1.079 / M) * (M.toDouble * M.toDouble) * 2199023255552.0

  /** Per-bucket max rank over the keys — the 256-register sketch as
    * DATA, merged across any partitioning by the max aggregate (one
    * partial+final pass; the register frame is 256 rows regardless of
    * key volume).
    */
  def registers(keys: DataFrame, keyCol: String): DataFrame =
    keys
      .select(Md5Prefix.of(col(keyCol)).as("h"))
      .selectExpr("CAST(h % 256 AS INT) AS bucket", "h DIV 256 AS w")
      .selectExpr("bucket",
        "CAST(CASE WHEN w = 0 THEN 41 ELSE 41 - length(bin(w)) END AS INT) AS rho")
      .groupBy(col("bucket"))
      .agg(max(col("rho")).as("rho"))

  /** One-row estimate frame: (m, s_scaled, n_zero, hll_estimate). */
  def estimate(keys: DataFrame, keyCol: String): DataFrame = {
    val spine = keys.sparkSession.range(0, M.toLong)
      .select(col("id").cast("int").as("bucket"))
    spine.join(registers(keys, keyCol), Seq("bucket"), "left")
      .selectExpr("coalesce(rho, 0) AS rho")
      .agg(
        sum(expr("shiftleft(CAST(1 AS BIGINT), 41 - rho)")).as("s_scaled"),
        sum(when(col("rho") === 0, 1).otherwise(0)).cast("int").as("n_zero"))
      .select(lit(M).as("m"), col("s_scaled"), col("n_zero"),
        (lit(numer) / col("s_scaled").cast("double")).as("hll_estimate"))
  }

  /** DuckDB twin of [[estimate]] over a `keys(key)` CTE the caller
    * prepends (the exact-distinct companion joins in one scalar).
    */
  def estimateSqlTail: String =
    s"""h AS (SELECT ${Md5Prefix.sql("key")} AS h FROM keys),
       |rh AS (
       |  SELECT CAST(h % 256 AS INT) AS bucket,
       |    CAST(CASE WHEN h // 256 = 0 THEN 41
       |              ELSE 41 - length(bin(h // 256)) END AS INT) AS rho
       |  FROM h),
       |regs AS (SELECT bucket, max(rho) AS rho FROM rh GROUP BY 1),
       |spine AS (SELECT unnest(generate_series(0, 255)) AS bucket),
       |filled AS (
       |  SELECT coalesce(r.rho, 0) AS rho
       |  FROM spine s LEFT JOIN regs r ON s.bucket = r.bucket),
       |agg AS (
       |  SELECT CAST(sum(CAST(1 AS BIGINT) << (41 - rho)) AS BIGINT) AS s_scaled,
       |         CAST(sum(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS INT) AS n_zero
       |  FROM filled)
       |SELECT 256 AS m, s_scaled, n_zero,
       |  $numer / CAST(s_scaled AS DOUBLE) AS hll_estimate,
       |  (SELECT count(DISTINCT key) FROM keys) AS exact_distinct
       |FROM agg""".stripMargin
}
