package graft.ext

import graft.core.BoundedFit
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** IVF (inverted-file) approximate nearest neighbors.
  *
  * The second scale path for similarity search (alongside sign-LSH,
  * [[AnnLsh]]): cluster the corpus into `nCells` Voronoi cells (seeded
  * k-means over a bounded sample — deterministic), store each vector
  * under its cell id, and at query time rescore only the `nProbe` cells
  * nearest the query. At 100 TB the cell id becomes the partition key: a
  * query's candidate scan touches nProbe/nCells of the data, and the
  * rescore is the block-local brute force primitive
  * ([[VectorOps.bruteForcePairs]]-style).
  *
  * Candidate generation is approximate (recall asserted in tests); the
  * rescore uses the same quantized-integer dot + single sqrt/divide as
  * [[VectorOps.cosine]], with per-vector norms computed ONCE in the
  * assignment projection and carried through the join — never re-derived
  * per candidate pair.
  */
object AnnIvf {

  /** Seeded k-means cell centroids over a sample of about
    * [[BoundedFit.MaxRows]] vectors (deterministic for a fixed input
    * partitioning; the model is derived state, recomputable from data
    * alone). Centroids are a *summary*; fitting on the full corpus would
    * make the iterative, driver-coupled fit the bottleneck before the
    * first query runs at 100 TB, and a bounded uniform sample gives
    * statistically equivalent centroids at constant cost.
    */
  def centroids(embeddings: DataFrame, nCells: Int, seed: Long = 42L): Array[Vector] = {
    val n = embeddings.count()
    val sampled =
      if (n <= BoundedFit.MaxRows) embeddings
      else embeddings.sample(withReplacement = false, BoundedFit.MaxRows.toDouble / n, seed)
    val vecs = sampled.select(array_to_vector(col("embedding")).as("features"))
    new KMeans().setK(nCells).setSeed(seed).setMaxIter(10)
      .fit(vecs).clusterCenters
  }

  /** Float/ML centroids quantized once on the driver — the table the
    * scoring kernels ([[graft.functions.IvfNearestCell]] /
    * [[graft.functions.IvfTopCells]]) loop over. The saturating
    * quantizer (not a bare floor): a KMeans centroid fit on corrupt data
    * could carry a non-finite mean, and an unclamped floor would wrap
    * q*q — quantize() clamps Inf and zeroes NaN, exactly as dotQ
    * quantized the same centroid when it was a plan literal. The
    * float-first narrowing matches the literal form's `c.toFloat`
    * (`typedLit(cf)`), so scores are bit-identical to the replaced
    * expression forest (IvfExprSpec).
    */
  private def quantCents(cents: Array[Vector]): Array[Array[Long]] =
    cents.map(_.toArray.map(x =>
      graft.functions.QuantizedDot.quantize(x.toFloat.toDouble)))

  /** (vec_id, cell, embedding, nrm): nearest-centroid assignment + norm
    * as ONE narrow projection — no join, no window, no exchange
    * (PlanSpec pins the exchange-free shape). The norm rides along here
    * because it is a per-vector invariant needed by every downstream
    * rescore. The argmin kernel is native
    * ([[graft.functions.IvfNearestCell]], ties to the lower cell id):
    * the `array_min(struct(score, cell) forest)` it replaced generated
    * code linear in nCells, compiling at gate geometry and falling out
    * of whole-stage codegen at the √n cells a production corpus wants
    * (see [[graft.functions.IvfOps]]).
    */
  def assign(embeddings: DataFrame, cents: Array[Vector]): DataFrame =
    assignQ(embeddings, quantCents(cents))

  /** (qid, qv, qn, cell): each query replicated to its `nProbe` nearest
    * cells — one projection + generate, again exchange-free; the query
    * norm is computed once, before the explode. `private[ext]`: the
    * IVF×PQ composition ([[AnnPq.ivfPqTopK]]) probes cells with the
    * same expression.
    */
  private[ext] def probeCells(queries: DataFrame, cents: Array[Vector], nProbe: Int): DataFrame =
    probeCellsQ(queries, quantCents(cents), nProbe)

  /** Centroids = the vectors with the `nCells` smallest vec_ids (the
    * [[BoundedFit.vectors]] pull). A deterministic, SQL-replayable
    * centroid choice: with it the WHOLE IVF path (assign, probe,
    * rescore, rank) is hash-gated by [[fixedTopKOracle]] — the k-means
    * fit is the only piece ANSI SQL cannot replay, and here it drops
    * out. Statistically worse cells than k-means; byte-identical plan
    * shape.
    */
  def fixedCentroids(embeddings: DataFrame, nCells: Int): Array[Vector] =
    BoundedFit.vectors(embeddings, nCells)
      .map(a => org.apache.spark.ml.linalg.Vectors.dense(a.map(_.toDouble)))

  /** [[assign]] under quantized-integer centroids (the grid the kernels
    * score on directly — the literal form's `(q + 0.5) / Grid` double
    * roundtrip, which re-quantized to exactly q, is gone with the
    * literals).
    */
  def assignQ(embeddings: DataFrame, centsQ: Array[Array[Long]]): DataFrame =
    embeddings.select(
      col("vec_id"),
      graft.functions.IvfNearestCell.of(col("embedding"), centsQ).as("cell"),
      col("embedding"),
      sqrt(VectorOps.dotQ(col("embedding"), col("embedding")).cast(DoubleType)).as("nrm"))

  /** [[probeCells]] under quantized-integer centroids: explode the
    * native top-nProbe kernel ([[graft.functions.IvfTopCells]], ascending
    * `(score, cell)` order — exactly the `slice(array_sort(...), 1,
    * nProbe)` it replaced).
    */
  private[ext] def probeCellsQ(queries: DataFrame, centsQ: Array[Array[Long]],
                               nProbe: Int): DataFrame =
    queries.select(
      col("vec_id").as("qid"), col("embedding").as("qv"),
      sqrt(VectorOps.dotQ(col("embedding"), col("embedding")).cast(DoubleType)).as("qn"),
      explode(graft.functions.IvfTopCells.of(col("embedding"), centsQ, nProbe)).as("cell"))

  /** Deterministic fixed-iteration Lloyd on the integer grid — the
    * SQL-replayable k-means that lets the FITTED IVF path hash-gate
    * (where [[centroids]]' ML k-means fit cannot: k-means|| init +
    * order-dependent double sums). It is [[BoundedFit.lloyd]] over the
    * quantized [[BoundedFit.vectors]] sample of the smallest vec_ids
    * (the full corpus whenever it fits, as at every oracle scale; ≤16 MB
    * at the cap): init = the `nCells` smallest vec_ids (cell id = rank;
    * a corpus smaller than nCells seeds fewer cells), argmin on the
    * integer score grid (ties to the lower cell), floor-div re-centering;
    * T iterations replay bit-identically as an unrolled CTE chain
    * ([[lloydTopKOracle]]), the PageRank/LabelPropagation pattern applied
    * to the clustering fit.
    *
    * The fit is a driver loop with ZERO per-iteration planning or codegen
    * cost. A distributed formulation of the same arithmetic measured
    * 4.8–12 s at a 2000-vector corpus — all of it Catalyst re-planning +
    * janino recompiling the 16×64-literal scoring expression per
    * iteration (the literals change every round), none of it compute.
    */
  def lloydCentroidsQ(embeddings: DataFrame, nCells: Int, iters: Int = 3): Array[Array[Long]] = {
    val data = BoundedFit.vectors(embeddings)
      .map(_.map(x => graft.functions.QuantizedDot.quantize(x.toDouble)))
    BoundedFit.lloyd(data, nCells, iters)
  }

  /** Top-k ANN: probe nProbe cells per query, rescore exactly, rank. */
  def topK(embeddings: DataFrame, queries: DataFrame, k: Int,
           nCells: Int = 16, nProbe: Int = 4, seed: Long = 42L): DataFrame =
    topKWith(embeddings, queries, k, centroids(embeddings, nCells, seed), nProbe)

  /** [[topK]] under [[lloydCentroidsQ]] cells — the fitted-IVF path
    * that hash-gates end to end against [[lloydTopKOracle]].
    */
  def topKLloyd(embeddings: DataFrame, queries: DataFrame, k: Int,
                nCells: Int = 16, nProbe: Int = 4, iters: Int = 3): DataFrame =
    topKQ(embeddings, queries, k, lloydCentroidsQ(embeddings, nCells, iters), nProbe)

  /** [[topK]] with caller-supplied centroids (fitted or fixed). */
  def topKWith(embeddings: DataFrame, queries: DataFrame, k: Int,
               cents: Array[Vector], nProbe: Int = 4): DataFrame =
    topKQ(embeddings, queries, k, quantCents(cents), nProbe)

  /** The one IVF scoring body under quantized-integer centroids: assign
    * the corpus, probe each query's `nProbe` nearest cells, join on
    * cell, rescore exactly, rank. An empty corpus seeds zero cells and
    * returns the operator's normal (qid, rank, cid, cosine) shape with
    * zero rows (the scoring kernels require at least one centroid, like
    * the `array_min` forest they replaced).
    */
  private def topKQ(embeddings: DataFrame, queries: DataFrame, k: Int,
                    centsQ: Array[Array[Long]], nProbe: Int): DataFrame = {
    if (centsQ.isEmpty)
      return queries.select(col("vec_id").as("qid"), lit(1).as("rank"),
        col("vec_id").as("cid"), lit(0.0).as("cosine")).limit(0)
    val assigned = assignQ(embeddings, centsQ)
      .select(col("cell"), col("vec_id").as("cid"), col("embedding").as("cv"),
        col("nrm").as("cn"))
    val probes = probeCellsQ(queries, centsQ, nProbe)
    val scored = probes.join(assigned, "cell")
      .filter(col("qid") =!= col("cid"))
      .filter(VectorOps.validNorm(col("qn")) && VectorOps.validNorm(col("cn")))
      .withColumn("cosine",
        VectorOps.dotQ(col("qv"), col("cv")).cast(DoubleType) / (col("qn") * col("cn")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("cid"), col("cosine"))
  }

  /** DuckDB oracle for [[topKWith]] + [[fixedCentroids]] over the
    * `embeddings` table with queries `vec_id < maxQid`: the same
    * quantized-integer argmin (`score = |c|^2 - 2 v*c`, ties to the
    * lower cell), the same nProbe probe, the same exact rescore and
    * deterministic rank.
    */
  def fixedTopKOracle(k: Int, maxQid: Long, nCells: Int = 16, nProbe: Int = 4,
                      candWhere: String = "TRUE"): String =
    s"""WITH ${VectorOps.oracleElems},
       |cells AS (
       |  SELECT cvec, CAST(row_number() OVER (ORDER BY cvec) - 1 AS INT) AS cell
       |  FROM (SELECT DISTINCT vec_id AS cvec FROM embeddings WHERE len(embedding) = 64 ORDER BY 1 LIMIT $nCells)),
       |c2 AS (
       |  SELECT c.cell, CAST(SUM(ce.x * ce.x) AS BIGINT) AS csq
       |  FROM cells c JOIN el ce ON ce.vec_id = c.cvec GROUP BY 1),
       |cdots AS (
       |  SELECT e.vec_id, c.cell, CAST(SUM(e.x * ce.x) AS BIGINT) AS dot
       |  FROM el e
       |  JOIN cells c ON TRUE
       |  JOIN el ce ON ce.vec_id = c.cvec AND ce.i = e.i
       |  GROUP BY 1, 2),
       |cellscore AS (
       |  SELECT s.vec_id, s.cell, (c2.csq - 2 * s.dot) AS score
       |  FROM cdots s JOIN c2 ON s.cell = c2.cell),
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
       |${rescoreSqlTail(k, candWhere)}""".stripMargin

  /** The shared exact-rescore tail: `cand → dots → scored → ranked` over
    * CTEs `probes(qid, cell)` / `assigned(cid, cell)` / `el` / `norms`
    * the caller defines — identical in the fixed-centroid and Lloyd
    * oracles by construction.
    */
  private def rescoreSqlTail(k: Int, candWhere: String): String =
    s"""cand AS (
       |  SELECT p.qid, a.cid FROM probes p JOIN assigned a ON p.cell = a.cell
       |  WHERE a.cid <> p.qid AND ($candWhere)),
       |dots AS (
       |  SELECT q.qid, q.cid, CAST(SUM(a.x * b.x) AS DOUBLE) AS dot
       |  FROM cand q
       |  JOIN el a ON a.vec_id = q.qid
       |  JOIN el b ON b.vec_id = q.cid AND b.i = a.i
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT qid, cid, dot / (sqrt(na.n2) * sqrt(nb.n2)) AS cosine
       |  FROM dots JOIN norms na ON qid = na.vec_id JOIN norms nb ON cid = nb.vec_id
       |  WHERE na.n2 > 0 AND nb.n2 > 0),
       |ranked AS (
       |  SELECT qid, cid, cosine,
       |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid ASC) AS rank
       |  FROM scored)
       |SELECT qid, CAST(rank AS INT) AS rank, cid, cosine FROM ranked WHERE rank <= $k""".stripMargin

  /** DuckDB oracle for [[topKLloyd]]: the Lloyd fit unrolled as a
    * cent0..centT CTE chain (assign on the integer score grid, re-center
    * with `(s - floorMod(s, n)) / n` — the same floor division
    * `Math.floorDiv` computes engine-side; `%` follows the dividend in
    * both engines, so the double-mod form is floorMod in both), then the
    * shared assign/probe/rescore tail under the final centroids.
    */
  def lloydTopKOracle(k: Int, maxQid: Long, nCells: Int = 16, nProbe: Int = 4,
                      iters: Int = 3, candWhere: String = "TRUE"): String = {
    // the fit CTEs run over `fel` — the [[BoundedFit.MaxRows]] SMALLEST
    // vec_ids, the exact subset [[lloydCentroidsQ]] collects — so the
    // gate stays correct on a corpus larger than the cap (fitting the
    // oracle on ALL rows would silently diverge from the engine there);
    // the final assign/probe/rescore phase scans the full `el`, like the
    // engine's assignQ/probeCellsQ
    val base =
      s"""WITH ${VectorOps.oracleElems},
         |fids AS (SELECT vec_id FROM embeddings WHERE len(embedding) = 64 ORDER BY vec_id LIMIT ${BoundedFit.MaxRows}),
         |fel AS (SELECT e.* FROM el e JOIN fids f ON f.vec_id = e.vec_id),
         |cells0 AS (
         |  SELECT cvec, CAST(row_number() OVER (ORDER BY cvec) - 1 AS INT) AS cell
         |  FROM (SELECT DISTINCT vec_id AS cvec FROM embeddings WHERE len(embedding) = 64 ORDER BY 1 LIMIT $nCells)),
         |cent0 AS (
         |  SELECT c.cell, e.i, e.x AS c FROM cells0 c JOIN fel e ON e.vec_id = c.cvec)""".stripMargin
    val steps = (1 to iters).map { t =>
      val p = t - 1
      s"""csq$p AS (SELECT cell, CAST(SUM(c*c) AS BIGINT) AS csq FROM cent$p GROUP BY 1),
         |dt$p AS (
         |  SELECT e.vec_id, ce.cell, CAST(SUM(e.x * ce.c) AS BIGINT) AS dot
         |  FROM fel e JOIN cent$p ce ON ce.i = e.i GROUP BY 1, 2),
         |asg$t AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT d.vec_id, d.cell,
         |      row_number() OVER (PARTITION BY d.vec_id
         |                         ORDER BY (q.csq - 2 * d.dot) ASC, d.cell ASC) AS rn
         |    FROM dt$p d JOIN csq$p q ON d.cell = q.cell) WHERE rn = 1),
         |newc$t AS (
         |  SELECT a.cell, e.i, CAST(SUM(e.x) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
         |  FROM fel e JOIN asg$t a ON a.vec_id = e.vec_id GROUP BY 1, 2),
         |cent$t AS (
         |  SELECT c.cell, c.i,
         |    COALESCE((n.s - (((n.s % n.n) + n.n) % n.n)) // n.n, c.c) AS c
         |  FROM cent$p c LEFT JOIN newc$t n ON n.cell = c.cell AND n.i = c.i)""".stripMargin
    }
    val finalScore =
      s"""fsq AS (SELECT cell, CAST(SUM(c*c) AS BIGINT) AS csq FROM cent$iters GROUP BY 1),
         |fdt AS (
         |  SELECT e.vec_id, ce.cell, CAST(SUM(e.x * ce.c) AS BIGINT) AS dot
         |  FROM el e JOIN cent$iters ce ON ce.i = e.i GROUP BY 1, 2),
         |cellscore AS (
         |  SELECT d.vec_id, d.cell, (q.csq - 2 * d.dot) AS score
         |  FROM fdt d JOIN fsq q ON d.cell = q.cell),
         |assigned AS (
         |  SELECT vec_id AS cid, cell FROM (
         |    SELECT vec_id, cell,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY score ASC, cell ASC) AS rn
         |    FROM cellscore) WHERE rn = 1),
         |probes AS (
         |  SELECT vec_id AS qid, cell FROM (
         |    SELECT vec_id, cell,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY score ASC, cell ASC) AS rn
         |    FROM cellscore WHERE vec_id < $maxQid) WHERE rn <= $nProbe)""".stripMargin
    (Seq(base) ++ steps ++ Seq(finalScore, rescoreSqlTail(k, candWhere))).mkString(",\n")
  }
}
