package graft.core

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** The engine's one bounded driver fit. The hash-gated twins whose fit
  * the DuckDB oracle replays (the segmentation and auto-K Lloyd twins,
  * the churn tree, the ALS twin and the fitted IVF) all fit on the
  * driver over one kind of sample: the [[MaxRows]] rows of their input
  * smallest by a key list.
  *  - The sample is a summary of plan-constant size (at most 16 MB for
  *    64-float embeddings), so the fit is a tight driver loop with no
  *    per-iteration planning, and rows beyond the cap cannot move it.
  *  - It is SQL-expressible: each oracle replays it as the CTE
  *    [[oracleCte]] built from the same key list the engine pulls with,
  *    so the sample definition is decided here and nowhere else.
  *  - The fixed-seed pulls (IVF centroids, PQ codebooks) are the same
  *    pull with `n` = the seed count.
  *
  * BoundedFitSpec audits every fit's driver pulls for a limit node of at
  * most the cap. Each fit keeps only its own arithmetic; the one kernel
  * two fits share, integer Lloyd, is [[lloyd]].
  */
object BoundedFit {

  /** The fit cap. The full input at every oracle gate scale; at sf0.1
    * the churn-tree and ALS-twin inputs exceed it.
    */
  val MaxRows = 65536

  /** The `n` rows of `df` smallest by `keys`, projected to `cols`, on the
    * driver: the one bounded pull.
    */
  private def sample(df: DataFrame, keys: Seq[String], cols: Seq[String], n: Int): Array[Row] =
    df.orderBy(keys.map(col): _*).limit(n).select(cols.map(col): _*).collect()

  /** The [[MaxRows]]-row [[sample]] of BIGINT columns, one `Array[Long]` per row. */
  def longs(df: DataFrame, keys: Seq[String], cols: Seq[String]): Array[Array[Long]] =
    sample(df, keys, cols, MaxRows).map(r => Array.tabulate(cols.length)(r.getLong))

  /** The `embedding` of the `n` smallest `vec_id`s. */
  def vectors(embeddings: DataFrame, n: Int = MaxRows): Array[Array[Float]] =
    sample(embeddings, Seq("vec_id"), Seq("embedding"), n).map(_.getSeq[Float](0).toArray)

  /** The oracle's fit sample `fq`: [[sample]] over relation `rel` as SQL. */
  def oracleCte(rel: String, keys: Seq[String]): String =
    s"fq AS (SELECT * FROM $rel ORDER BY ${keys.mkString(", ")} LIMIT $MaxRows)"

  /** Fixed-iteration Lloyd on an integer grid. Init = the first `k` rows
    * (cell id = rank); a corpus smaller than `k` seeds fewer cells. Each
    * iteration assigns every row to its argmin cell and re-centers each
    * cell at the elementwise floor-div mean `floorDiv(Σ x, n)`; a cell
    * that loses every member keeps its centroid. Integer sums are
    * order-independent and floor-div is engine-exact, so the oracles
    * replay the loop bit-identically as an unrolled CTE chain.
    *
    * The score is `|c|² − 2·v·c`: it differs from the full squared
    * distance by the row constant `|v|²`, so argmin and ties (strict
    * `<`, ties to the lower cell) are the same. Neither caller can
    * overflow it: quantized values saturate at ±10⁸, so a 4-dim score
    * stays under 1.2·10¹⁷ and a 64-dim one under 2·10¹⁸.
    */
  def lloyd(data: Array[Array[Long]], k: Int, iters: Int): Array[Array[Long]] = {
    var cents: Array[Array[Long]] = data.take(k).map(_.clone())
    val cells = cents.length
    val dims = if (data.isEmpty) 0 else data(0).length
    for (_ <- 1 to iters) {
      val csq = cents.map(c => { var s = 0L; var i = 0; while (i < c.length) { s += c(i) * c(i); i += 1 }; s })
      val sums = Array.fill(cells)(new Array[Long](dims))
      val cnt = new Array[Long](cells)
      data.foreach { v =>
        var best = 0; var bestScore = Long.MaxValue
        var c = 0
        while (c < cells) {
          var dot = 0L; var i = 0
          val cc = cents(c)
          while (i < dims) { dot += v(i) * cc(i); i += 1 }
          val score = csq(c) - 2L * dot
          if (score < bestScore) { bestScore = score; best = c }
          c += 1
        }
        val s = sums(best); var i = 0
        while (i < dims) { s(i) += v(i); i += 1 }
        cnt(best) += 1
      }
      cents = cents.zipWithIndex.map { case (old, c) =>
        if (cnt(c) == 0L) old
        else sums(c).map(s => Math.floorDiv(s, cnt(c)))
      }
    }
    cents
  }
}
