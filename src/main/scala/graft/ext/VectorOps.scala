package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Vector (embedding) column algebra over `array<float>` columns.
  *
  * North-star extension (no reference counterpart — the reference's only
  * vector columns are spark.ml `Vector`s fed to estimators,
  * `src/main/java/com/retail/ml/SegmentationModel.java:73-88`).
  *
  * Determinism: a double dot product is order-dependent under partial
  * aggregation, and float->decimal rounding is engine-specific. The engine
  * instead *quantizes* each component to a 64-bit integer grid
  * (`floor(x * 10^7)`: float widens to double exactly, the multiply and
  * floor are single IEEE ops — bit-identical everywhere), then computes
  * inner products in exact integer arithmetic (order-independent; |dot|
  * bounded by 64 * (10^7)^2 << 2^63). Quantized cosine differs from true
  * cosine by < 1e-6 relative — irrelevant for ranking/dedup — and is
  * reproducible on any partitioning and any engine.
  *
  * The higher-order functions (`zip_with`/`aggregate`) evaluate per-row
  * without shuffles; brute-force pairwise scoring is quadratic and only
  * for oracle-scale verification — the scale path is LSH bucketing
  * ([[AnnLsh]]) which turns ANN into an equi-join.
  */
object VectorOps {

  /** Quantization grid: 10^7 steps per unit (defined once in
    * [[graft.functions.QuantizedDot.Grid]], aliased here).
    */
  val Q: Double = graft.functions.QuantizedDot.Grid

  /** Quantize a float/double element to the integer grid — the Column
    * twin of [[graft.functions.QuantizedDot.quantize]], with the same
    * saturation contract: NaN → 0, ±Inf and out-of-range values clamp
    * to ±QMax (a bare `floor(...).cast(long)` maps +Inf to Long.MaxValue
    * under non-ANSI casts and ABORTS under ANSI — neither is the
    * exclude-or-saturate behavior CorruptVectorSpec pins). In-range data
    * (every real embedding) is untouched, so DuckDB's plain
    * `floor(x * Q)` oracle arithmetic stays bit-identical.
    */
  def quant(x: Column): Column = {
    val qmax = graft.functions.QuantizedDot.QMax.toDouble
    val y = floor(x.cast(DoubleType) * lit(Q))
    when(isnan(y), lit(0L))
      .otherwise(least(greatest(y, lit(-qmax)), lit(qmax)).cast(LongType))
  }

  /** Exact (quantized) integer inner product of two float-array columns.
    * A native codegen'd expression ([[graft.functions.QuantizedDot]]) —
    * `aggregate(zip_with(...))` is CodegenFallback and interprets two
    * lambdas per element per call, ruinous inside pairwise scoring joins.
    */
  def dotQ(a: Column, b: Column): Column = graft.functions.QuantizedDot.of(a, b)

  /** Guard for the cosine divisions: a vector whose quantized norm is
    * zero (all-zero embedding, or NaN components — `floor(NaN·Grid)`
    * quantizes to 0) or NaN (±Inf components overflow the integer dot;
    * sqrt of the wrapped negative is NaN) has no defined cosine and
    * must be EXCLUDED before the divide — under ANSI mode a single such
    * corrupted vector otherwise kills the whole job with DIVIDE_BY_ZERO.
    * The explicit `isnan` matters: Spark orders NaN above every value,
    * so `nrm > 0` alone would PASS a NaN norm. The DuckDB twins carry
    * the value-equivalent `n2 > 0` on their integer squared norms (no
    * NaN exists on that side).
    */
  def validNorm(nrm: Column): Column = !isnan(nrm) && (nrm > 0.0)

  /** Cosine similarity on the quantized grid; the final sqrt/divide are
    * single IEEE double ops (deterministic).
    */
  def cosine(a: Column, b: Column): Column =
    dotQ(a, b).cast(DoubleType) /
      (sqrt(dotQ(a, a).cast(DoubleType)) * sqrt(dotQ(b, b).cast(DoubleType)))

  /** Exact all-pairs (id_a < id_b) with quantized cosine >= threshold as a
    * *distributed* blocked self-join — the shipped embedding-dedup plan.
    *
    * Every row gets block `blk = vec_id mod blocks`; block-pair bucket
    * (i, j), i <= j, receives block i's rows on the left and block j's on
    * the right via one `explode(sequence(...))` replication per side, so
    * each unordered pair lands in exactly one bucket and no executor ever
    * sees more than two blocks. Shuffle volume is `2 * blocks * n` rows of
    * (id, embedding, norm) — never a driver collect, never a broadcast of
    * the corpus — and the per-pair dot product is the codegen'd
    * [[graft.functions.QuantizedDot]]. At 100 TB `blocks` scales with the
    * cluster (work per bucket is (n/blocks)^2) while the plan stays an
    * equi-join on (bi, bj).
    *
    * Exact, not approximate: identical doubles to [[cosine]] (same
    * integer dot, same single sqrt/divide), so the all-pairs DuckDB
    * oracle matches bit-for-bit.
    */
  def blockedAllPairs(embeddings: org.apache.spark.sql.DataFrame,
                      threshold: Double, blocks: Int = 8): org.apache.spark.sql.DataFrame = {
    val base = embeddings.select(
      col("vec_id"), col("embedding"),
      sqrt(dotQ(col("embedding"), col("embedding")).cast(DoubleType)).as("nrm"),
      pmod(col("vec_id"), lit(blocks.toLong)).cast("int").as("blk"))
    val a = base.withColumn("bj", explode(sequence(col("blk"), lit(blocks - 1))))
      .select(col("blk").as("bi"), col("bj"),
        col("vec_id").as("id_a"), col("embedding").as("va"), col("nrm").as("na"))
    val b = base.withColumn("bi", explode(sequence(lit(0), col("blk"))))
      .select(col("bi"), col("blk").as("bj"),
        col("vec_id").as("id_b"), col("embedding").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("bi", "bj"))
      // same-block buckets see both orientations (keep id_a < id_b);
      // cross-block buckets see each pair once, possibly id-reversed
      .filter((col("bi") < col("bj")) || (col("id_a") < col("id_b")))
      .filter(validNorm(col("na")) && validNorm(col("nb")))
      .withColumn("cosine",
        dotQ(col("va"), col("vb")).cast(DoubleType) / (col("na") * col("nb")))
      .filter(col("cosine") >= threshold)
      .select(
        least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        col("cosine"))
  }

  /** All pairs via a broadcast nested-loop scan over a driver-collected
    * quantized matrix. TEST-ONLY exact-recall baseline: `AnnPropertySpec`
    * pins [[blockedAllPairs]] pair-for-pair, bit-for-bit against this
    * across block counts — the shipped corpus-scale plan is
    * [[blockedAllPairs]], which never collects (this one collects the
    * whole input; NEVER call it on a corpus). It is also the shape an
    * IVF cell rescore runs block-locally at scale, where "all vectors"
    * is one cell's list. Identical doubles to [[cosine]]: same integer
    * dot, same single sqrt/divide.
    */
  def bruteForcePairs(embeddings: org.apache.spark.sql.DataFrame,
                      threshold: Double): org.apache.spark.sql.DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val quantized: Array[(Long, Array[Long])] = embeddings
      .select(col("vec_id"), transform(col("embedding"), x => quant(x)).as("q"))
      .as[(Long, Array[Long])]
      .collect()
      .sortBy(_._1)
    val bc = spark.sparkContext.broadcast(quantized)
    val n = quantized.length
    spark.range(0, n, 1, graft.core.GraftSession.parallelism(spark))
      .as[Long]
      .mapPartitions { it =>
        val m = bc.value
        val norms = m.map { case (_, q) =>
          var s = 0L; var d = 0
          while (d < q.length) { s += q(d) * q(d); d += 1 }
          math.sqrt(s.toDouble)
        }
        it.flatMap { ai =>
          val i = ai.toInt
          val (ida, qa) = m(i)
          (i + 1 until n).iterator.flatMap { j =>
            val (idb, qb) = m(j)
            var s = 0L; var d = 0
            while (d < qa.length) { s += qa(d) * qb(d); d += 1 }
            val cos = s.toDouble / (norms(i) * norms(j))
            if (cos >= threshold) Some((ida, idb, cos)) else None
          }
        }
      }
      .toDF("id_a", "id_b", "cosine")
  }

  /** Oracle mirror of the [[graft.core.Catalog.embeddings]] structural
    * validity filter (NULL arrays fail `len` too).
    */
  val oracleValidWhere: String = "len(embedding) = 64"

  /** Shared DuckDB CTE prefix: quantized elements and norms over a 64-dim
    * `embedding` column (testdata layout). `SUM(BIGINT)` is HUGEINT in
    * DuckDB, hence the casts back to BIGINT/DOUBLE. The per-element CASE
    * mirrors [[quant]]'s saturation contract (NaN → 0, out-of-grid and
    * ±Inf clamp to ±QMax) — a plain `floor(x * Q)::BIGINT` is identical
    * on clean data but errors on NaN and overflows on ±Inf exactly where
    * the engine saturates. Structurally invalid rows are excluded like
    * the engine catalog does ([[oracleValidWhere]]).
    */
  val oracleElems: String =
    """el AS (SELECT vec_id, i,
      |         CASE WHEN isnan(CAST(embedding[i] AS DOUBLE)) THEN 0
      |              WHEN floor(CAST(embedding[i] AS DOUBLE) * 10000000) >= 100000000.0 THEN 100000000
      |              WHEN floor(CAST(embedding[i] AS DOUBLE) * 10000000) <= -100000000.0 THEN -100000000
      |              ELSE CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000000) AS BIGINT) END AS x
      |       FROM embeddings, range(1, 65) t(i)
      |       WHERE len(embedding) = 64),
      |norms AS (SELECT vec_id, CAST(SUM(x*x) AS DOUBLE) AS n2 FROM el GROUP BY vec_id)""".stripMargin
}
