package graft.ext

import graft.core.GraftSession
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Product-quantization (PQ) approximate nearest neighbors — the
  * compressed-domain scale path for similarity search, alongside sign-LSH
  * ([[AnnLsh]]) and IVF cells ([[AnnIvf]]).
  *
  * PQ splits each `dim`-float vector into `nSub` subvectors and stores
  * only the id of the nearest per-subspace codebook entry: `nSub` small
  * ints (here 8 bytes) instead of `dim` floats (256 bytes) — a 32×
  * compression of the candidate scan. Query scoring is
  * asymmetric-distance computation (ADC): one distance table of
  * `nSub × nCodes` integers per query, then each candidate costs `nSub`
  * table lookups + adds — no float math per candidate at all. At 100 TB
  * this is what makes exhaustive candidate scans affordable: the scan
  * reads the 8-byte code column (a 32× I/O cut), the per-candidate cost
  * is 8 integer adds, and the table build is per-query constant work. The
  * natural composition is IVF-PQ — [[AnnIvf]]'s cells bound WHICH
  * candidates are scanned, this operator's codes bound what each
  * candidate COSTS; the two are orthogonal and share the argmin/assign
  * machinery.
  *
  * Determinism: codebooks are fixed data (the first `nCodes` vectors by
  * vec_id, the [[AnnIvf.fixedCentroids]] convention), all distances live
  * on the [[graft.functions.QuantizedDot]] integer grid
  * (`score = |c|² − 2·v·c`, the per-row-constant `|v|²` dropped), and
  * every argmin/rank breaks ties to the lower id — so the WHOLE path
  * (encode, table build, ADC scan, rank, exact rescore) is hash-gated by
  * [[topKOracle]]. A k-means-fitted codebook variant would relate to this
  * exactly as s3 relates to s5: statistically better centroids, identical
  * plan, and the fit is the one piece ANSI SQL cannot replay.
  */
object AnnPq {

  /** Codebook `(m)(j)` = subspace-`m` slice of the embedding with
    * `vec_id = j` — fixed, SQL-replayable, collected once driver-side
    * (`nSub × nCodes × dsub` floats — kilobytes; the moral equivalent of
    * a broadcast).
    */
  def fixedCodebooks(embeddings: DataFrame, nSub: Int = 8,
                     nCodes: Int = 16): Array[Array[Array[Float]]] = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val seeds = embeddings.orderBy(col("vec_id")).limit(nCodes)
      .select(col("embedding")).as[Array[Float]].collect()
    require(seeds.length == nCodes, s"corpus smaller than nCodes=$nCodes")
    val dim = seeds.head.length
    require(dim % nSub == 0, s"dim=$dim not divisible by nSub=$nSub")
    val dsub = dim / nSub
    Array.tabulate(nSub, nCodes)((m, j) => seeds(j).slice(m * dsub, (m + 1) * dsub))
  }

  /** `(vec_id, codes, embedding, nrm)`: the PQ encoding as ONE narrow
    * exchange-free projection (PlanSpec-pinned, like IVF assign). At
    * scale only `(vec_id, codes)` is stored — the embedding/norm ride
    * along here because the local gate rescores exactly without a
    * second source scan.
    *
    * The encoding kernel is the native [[graft.functions.PqCodes]] (one
    * compiled triple loop, ties to the lower code id) — the composed
    * `array_min(array(struct(score, code)))` forest it replaced is
    * bit-identical (PqExprSpec) but blew the 64 KB generated-method
    * limit at the 8×16 geometry, so THIS scan — the index build — ran
    * interpreted with 128 slice copies per corpus row.
    */
  def encode(embeddings: DataFrame, cb: Array[Array[Array[Float]]]): DataFrame =
    embeddings.select(
      col("vec_id"),
      graft.functions.PqCodes.of(col("embedding"), cb).as("codes"),
      col("embedding"),
      sqrt(VectorOps.dotQ(col("embedding"), col("embedding")).cast(DoubleType)).as("nrm"))

  /** Top-k in two stages — the standard PQ deployment shape: (1) ADC
    * shortlist of `k × refine` candidates from the compressed codes
    * (integer table lookups only), (2) exact quantized-cosine rescore and
    * re-rank of the shortlist. The shortlist is what makes 8-byte codes
    * usable: ADC alone at tiny k mis-ranks near-ties (compression error),
    * but the true neighbors land in a modest shortlist almost surely, and
    * the exact rescore touches only `k × refine` full vectors per query.
    * `dtab(m)(j)` = the query's subspace-`m` distance-to-code-`j` (same
    * integer form as encoding, the constant `|q_m|²` dropped —
    * rank-invariant per query).
    */
  def topK(embeddings: DataFrame, queries: DataFrame, k: Int,
           cb: Array[Array[Array[Float]]], refine: Int = 10): DataFrame = {
    // The code column goes through ONE thin exchange before the scoring
    // join. The exchange is a deliberate materialization barrier: fused
    // into the join stage, Catalyst's projection collapse re-evaluates
    // the full PQ encode kernel per join-OUTPUT row (nQueries × the
    // rows it should touch, and once per `codes` reference) — measured
    // 7.5 s vs 1.3 s on the sf0.1 gate for identical results. It is
    // also the deployment shape: what ships to the scoring stage at
    // 100 TB is the 8-byte code column, never the raw vectors.
    val spark = embeddings.sparkSession
    val enc = encode(embeddings, cb)
      .select(col("vec_id").as("cid"), col("codes"))
      .repartition(GraftSession.parallelism(spark))
    val qd = queries.select(
      col("vec_id").as("qid"),
      graft.functions.PqDistanceTable.of(col("embedding"), cb).as("dtab"))
    // the ADC sum unrolls into static GetArrayItem lookups (nSub is a
    // small fixed constant) — an `aggregate` lambda fold is
    // CodegenFallback and would push the scoring stage out of
    // whole-stage codegen
    val adcSum = cb.indices
      .map(m => col("dtab")(m)(col("codes")(m)))
      .reduce(_ + _)
    val wAdc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("adc").asc, col("cid").asc)
    val shortlist = enc.crossJoin(broadcast(qd))
      .filter(col("qid") =!= col("cid"))
      .withColumn("adc", adcSum)
      .withColumn("adc_rank", row_number().over(wAdc))
      .filter(col("adc_rank") <= k * refine)
      .select(col("qid"), col("cid"), col("adc"))
    // exact rescore = fetch the shortlist's FULL vectors by id (the tiny
    // shortlist broadcasts against the vector store) — compressed codes
    // carry the scan, exact math touches only k × refine rows per query
    val wExact = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid").asc)
    val cand = embeddings.select(
      col("vec_id").as("cid"), col("embedding").as("cv"),
      sqrt(VectorOps.dotQ(col("embedding"), col("embedding")).cast(DoubleType)).as("cn"))
      .join(broadcast(shortlist), "cid")
    val qv = queries.select(
      col("vec_id").as("qid"), col("embedding").as("qv"),
      sqrt(VectorOps.dotQ(col("embedding"), col("embedding")).cast(DoubleType)).as("qn"))
    cand.join(broadcast(qv), "qid")
      .filter(VectorOps.validNorm(col("qn")) && VectorOps.validNorm(col("cn")))
      .withColumn("cosine",
        VectorOps.dotQ(col("qv"), col("cv")).cast(DoubleType) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("cid"), col("adc"), col("cosine"))
  }

  /** IVF × PQ — the composition the two operators exist for at 100 TB:
    * [[AnnIvf]]'s coarse cells bound WHICH candidates a query scans
    * (`nProbe / nCells` of the corpus), this operator's codes bound what
    * each candidate COSTS (8 integer adds off an 8-byte column). The
    * encoded corpus carries `(cell, codes)`; a query probes its nProbe
    * nearest cells, ADC-shortlists within them, and exact-rescores the
    * `k × refine` survivors by id — under [[AnnIvf.fixedCentroids]] +
    * [[fixedCodebooks]] the whole path is hash-gated by
    * [[ivfPqTopKOracle]]; swapping in fitted centroids/codebooks changes
    * the statistics, not one line of the plan (the s3-vs-s5
    * relationship).
    */
  def ivfPqTopK(embeddings: DataFrame, queries: DataFrame, k: Int,
                cents: Array[org.apache.spark.ml.linalg.Vector],
                cb: Array[Array[Array[Float]]],
                nProbe: Int = 4, refine: Int = 10): DataFrame = {
    val spark = embeddings.sparkSession
    // (cell, cid, codes) through one thin exchange — same barrier
    // rationale as [[topK]]; at scale this frame IS the stored index
    val enc = AnnIvf.assign(embeddings, cents)
      .select(col("cell"), col("vec_id").as("cid"))
      .join(encode(embeddings, cb).select(col("vec_id").as("cid"), col("codes")), "cid")
      .repartition(GraftSession.parallelism(spark))
    val qd = AnnIvf.probeCells(queries, cents, nProbe).select(
      col("qid"), col("cell"),
      graft.functions.PqDistanceTable.of(col("qv"), cb).as("dtab"))
    val adcSum = cb.indices.map(m => col("dtab")(m)(col("codes")(m))).reduce(_ + _)
    val wAdc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("adc").asc, col("cid").asc)
    val shortlist = enc.join(broadcast(qd), "cell")
      .filter(col("qid") =!= col("cid"))
      .withColumn("adc", adcSum)
      .withColumn("adc_rank", row_number().over(wAdc))
      .filter(col("adc_rank") <= k * refine)
      .select(col("qid"), col("cid"), col("adc"))
    val wExact = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid").asc)
    val cand = embeddings.select(
      col("vec_id").as("cid"), col("embedding").as("cv"),
      sqrt(VectorOps.dotQ(col("embedding"), col("embedding")).cast(DoubleType)).as("cn"))
      .join(broadcast(shortlist), "cid")
    val qv = queries.select(
      col("vec_id").as("qid"), col("embedding").as("qv"),
      sqrt(VectorOps.dotQ(col("embedding"), col("embedding")).cast(DoubleType)).as("qn"))
    cand.join(broadcast(qv), "qid")
      .filter(VectorOps.validNorm(col("qn")) && VectorOps.validNorm(col("cn")))
      .withColumn("cosine",
        VectorOps.dotQ(col("qv"), col("cv")).cast(DoubleType) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("cid"), col("adc"), col("cosine"))
  }

  /** DuckDB replay of [[fixedCodebooks]] + [[encode]] + [[topK]] over the
    * `embeddings` table with queries `vec_id < maxQid`: identical grid
    * quantization, identical `|c|² − 2·v·c` argmin with ties to the lower
    * code, identical ADC sum, identical rank and exact rescore.
    */
  def topKOracle(k: Int, maxQid: Long, nSub: Int = 8, nCodes: Int = 16,
                 refine: Int = 10): String = {
    val dsub = 64 / nSub
    s"""WITH ${VectorOps.oracleElems},
       |cbids AS (
       |  SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS j
       |  FROM (SELECT DISTINCT vec_id FROM embeddings
       |        WHERE len(embedding) = 64 ORDER BY 1 LIMIT $nCodes)),
       |cb AS (
       |  SELECT b.j, CAST((e.i - 1) // $dsub AS INT) AS m, e.i, e.x
       |  FROM el e JOIN cbids b ON b.vec_id = e.vec_id),
       |csq AS (SELECT m, j, CAST(SUM(x * x) AS BIGINT) AS c2 FROM cb GROUP BY 1, 2),
       |edots AS (
       |  SELECT e.vec_id, c.m, c.j, CAST(SUM(e.x * c.x) AS BIGINT) AS dot
       |  FROM el e JOIN cb c ON c.i = e.i
       |  GROUP BY 1, 2, 3),
       |escore AS (
       |  SELECT d.vec_id, d.m, d.j, (s.c2 - 2 * d.dot) AS score
       |  FROM edots d JOIN csq s ON d.m = s.m AND d.j = s.j),
       |codes AS (
       |  SELECT vec_id, m, j AS code FROM (
       |    SELECT vec_id, m, j,
       |      row_number() OVER (PARTITION BY vec_id, m ORDER BY score ASC, j ASC) AS rn
       |    FROM escore) WHERE rn = 1),
       |qscore AS (SELECT vec_id AS qid, m, j, score FROM escore WHERE vec_id < $maxQid),
       |adcs AS (
       |  SELECT q.qid, c.vec_id AS cid, CAST(SUM(q.score) AS BIGINT) AS adc
       |  FROM codes c JOIN qscore q ON q.m = c.m AND q.j = c.code
       |  WHERE c.vec_id <> q.qid
       |  GROUP BY 1, 2),
       |shortlist AS (
       |  SELECT qid, cid, adc FROM (
       |    SELECT qid, cid, adc,
       |      row_number() OVER (PARTITION BY qid ORDER BY adc ASC, cid ASC) AS adc_rank
       |    FROM adcs) WHERE adc_rank <= ${k * refine}),
       |dots AS (
       |  SELECT t.qid, t.cid, CAST(SUM(a.x * b.x) AS DOUBLE) AS dot
       |  FROM shortlist t
       |  JOIN el a ON a.vec_id = t.qid
       |  JOIN el b ON b.vec_id = t.cid AND b.i = a.i
       |  GROUP BY 1, 2),
       |rescored AS (
       |  SELECT t.qid, t.cid, t.adc,
       |    d.dot / (sqrt(na.n2) * sqrt(nb.n2)) AS cosine
       |  FROM shortlist t
       |  JOIN dots d ON t.qid = d.qid AND t.cid = d.cid
       |  JOIN norms na ON t.qid = na.vec_id
       |  JOIN norms nb ON t.cid = nb.vec_id
       |  WHERE na.n2 > 0 AND nb.n2 > 0),
       |final AS (
       |  SELECT qid, cid, adc, cosine,
       |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid ASC) AS rank
       |  FROM rescored)
       |SELECT qid, CAST(rank AS INT) AS rank, cid, adc, cosine
       |FROM final WHERE rank <= $k""".stripMargin
  }

  /** DuckDB replay of [[ivfPqTopK]] under fixed centroids + fixed
    * codebooks: the IVF chain (cell assignment + nProbe probing, from
    * [[AnnIvf.fixedTopKOracle]]) feeding the PQ chain (codes + per-query
    * subspace scores), ADC only over cell-colocated candidates,
    * shortlist, exact rescore, final rank.
    */
  def ivfPqTopKOracle(k: Int, maxQid: Long, nCells: Int = 16, nProbe: Int = 4,
                      nSub: Int = 8, nCodes: Int = 16, refine: Int = 10): String = {
    val dsub = 64 / nSub
    s"""WITH ${VectorOps.oracleElems},
       |cells AS (
       |  SELECT cvec, CAST(row_number() OVER (ORDER BY cvec) - 1 AS INT) AS cell
       |  FROM (SELECT DISTINCT vec_id AS cvec FROM embeddings WHERE len(embedding) = 64 ORDER BY 1 LIMIT $nCells)),
       |cc2 AS (
       |  SELECT c.cell, CAST(SUM(ce.x * ce.x) AS BIGINT) AS csq
       |  FROM cells c JOIN el ce ON ce.vec_id = c.cvec GROUP BY 1),
       |cdots AS (
       |  SELECT e.vec_id, c.cell, CAST(SUM(e.x * ce.x) AS BIGINT) AS dot
       |  FROM el e
       |  JOIN cells c ON TRUE
       |  JOIN el ce ON ce.vec_id = c.cvec AND ce.i = e.i
       |  GROUP BY 1, 2),
       |cellscore AS (
       |  SELECT s.vec_id, s.cell, (cc2.csq - 2 * s.dot) AS score
       |  FROM cdots s JOIN cc2 ON s.cell = cc2.cell),
       |assigned AS (
       |  SELECT vec_id AS cid, cell FROM (
       |    SELECT vec_id, cell,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY score ASC, cell ASC) AS rn
       |    FROM cellscore) WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS qid, cell FROM (
       |    SELECT vec_id, cell,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY score ASC, cell ASC) AS rn
       |    FROM cellscore WHERE vec_id < $maxQid) WHERE rn <= $nProbe),
       |cbids AS (
       |  SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS j
       |  FROM (SELECT DISTINCT vec_id FROM embeddings
       |        WHERE len(embedding) = 64 ORDER BY 1 LIMIT $nCodes)),
       |cb AS (
       |  SELECT b.j, CAST((e.i - 1) // $dsub AS INT) AS m, e.i, e.x
       |  FROM el e JOIN cbids b ON b.vec_id = e.vec_id),
       |csq AS (SELECT m, j, CAST(SUM(x * x) AS BIGINT) AS c2 FROM cb GROUP BY 1, 2),
       |edots AS (
       |  SELECT e.vec_id, c.m, c.j, CAST(SUM(e.x * c.x) AS BIGINT) AS dot
       |  FROM el e JOIN cb c ON c.i = e.i
       |  GROUP BY 1, 2, 3),
       |escore AS (
       |  SELECT d.vec_id, d.m, d.j, (s.c2 - 2 * d.dot) AS score
       |  FROM edots d JOIN csq s ON d.m = s.m AND d.j = s.j),
       |codes AS (
       |  SELECT vec_id, m, j AS code FROM (
       |    SELECT vec_id, m, j,
       |      row_number() OVER (PARTITION BY vec_id, m ORDER BY score ASC, j ASC) AS rn
       |    FROM escore) WHERE rn = 1),
       |qscore AS (SELECT vec_id AS qid, m, j, score FROM escore WHERE vec_id < $maxQid),
       |cand AS (
       |  SELECT p.qid, a.cid FROM probes p JOIN assigned a ON p.cell = a.cell
       |  WHERE a.cid <> p.qid),
       |adcs AS (
       |  SELECT c.qid, c.cid, CAST(SUM(q.score) AS BIGINT) AS adc
       |  FROM cand c
       |  JOIN codes k ON k.vec_id = c.cid
       |  JOIN qscore q ON q.qid = c.qid AND q.m = k.m AND q.j = k.code
       |  GROUP BY 1, 2),
       |shortlist AS (
       |  SELECT qid, cid, adc FROM (
       |    SELECT qid, cid, adc,
       |      row_number() OVER (PARTITION BY qid ORDER BY adc ASC, cid ASC) AS adc_rank
       |    FROM adcs) WHERE adc_rank <= ${k * refine}),
       |dots AS (
       |  SELECT t.qid, t.cid, CAST(SUM(a.x * b.x) AS DOUBLE) AS dot
       |  FROM shortlist t
       |  JOIN el a ON a.vec_id = t.qid
       |  JOIN el b ON b.vec_id = t.cid AND b.i = a.i
       |  GROUP BY 1, 2),
       |rescored AS (
       |  SELECT t.qid, t.cid, t.adc,
       |    d.dot / (sqrt(na.n2) * sqrt(nb.n2)) AS cosine
       |  FROM shortlist t
       |  JOIN dots d ON t.qid = d.qid AND t.cid = d.cid
       |  JOIN norms na ON t.qid = na.vec_id
       |  JOIN norms nb ON t.cid = nb.vec_id
       |  WHERE na.n2 > 0 AND nb.n2 > 0),
       |final AS (
       |  SELECT qid, cid, adc, cosine,
       |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid ASC) AS rank
       |  FROM rescored)
       |SELECT qid, CAST(rank AS INT) AS rank, cid, adc, cosine
       |FROM final WHERE rank <= $k""".stripMargin
  }
}
