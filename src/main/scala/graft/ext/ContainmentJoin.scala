package graft.ext

import graft.core.Materialize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Containment similarity join with PREFIX FILTERING — the asymmetric
  * member of the set-similarity family. Jaccard ([[NgramJaccard]],
  * [[MinHashDedup]]) misses a short document quoted inside a long one:
  * the union is dominated by the long side, so J stays small while
  * containment C(a,b) = |A∩B| / |A| is ~1. Detecting "doc a lives
  * inside doc b" is the quote/boilerplate/near-superset case of LLM
  * corpus dedup (keep the superset, drop the contained duplicate).
  *
  * Candidate generation is the prefix filter of the PPJoin family
  * (Chaudhuri et al. 2006; Xiao et al. 2008): order every document's
  * gram set by GLOBAL rarity (ascending document frequency, gram hash
  * as tie-break) and take the first `floor((1-t)·|A|) + 1` grams. By
  * pigeonhole, any container holding ≥ t·|A| of A's grams holds at
  * least one gram of that prefix — so joining PREFIX grams against the
  * full posting list loses nothing at threshold t, and the join cost
  * per prefix gram is exactly its document frequency, which the
  * rarest-first ordering minimizes by construction (no tuning cap
  * needed: the algorithm's own selection bounds the hot-bucket risk —
  * a gram enters a prefix only when a doc has nothing rarer).
  *
  * Verification is the exact merge intersection
  * ([[graft.functions.SortedIntersectCount]], codegen'd) on the
  * pre-sorted hashed gram arrays; all arithmetic is integer
  * (containment gated as `n_inter·100 ≥ |A|·t_pct`), so the operator
  * hash-gates. Grams cross the shuffle as the engine's shared 48-bit
  * md5-prefix longs, never as text.
  */
object ContainmentJoin {

  /** @return (doc_a, doc_b, n_grams_a, n_inter, containment_pct) for
    *         every ordered pair where ≥ `thresholdPct`% of a's distinct
    *         word `n`-grams appear in b (a ≠ b), ordered by (a, b).
    *         doc_a is the CONTAINED side; the relation is asymmetric.
    */
  def pairs(documents: DataFrame, n: Int = 3, thresholdPct: Int = 80): DataFrame =
    // the (small) pair set is checkpointed UNSORTED and the (doc_a, doc_b)
    // ordering is applied lazily OVER it: eagerly checkpointing after
    // the sort forced the range-boundary sampling pass to re-execute
    // the verify-join stage — the Triangles.countUnd lesson.
    Materialize.checkpointed(pairsCompute(_, documents, n, thresholdPct))
      .orderBy(col("doc_a"), col("doc_b"))

  /** The pre-materialization compute plan of [[pairs]], its gram cache
    * held by `scope` — what PlanSpec inspects (the public form
    * checkpoints the result, which collapses the executed plan to an
    * RDD scan).
    */
  private[graft] def pairsCompute(scope: Materialize.Scope, documents: DataFrame,
                                  n: Int = 3, thresholdPct: Int = 80): DataFrame = {
    // cached: feeds the posting explode AND both verify sides
    val g = scope.cache(documents.select(col("doc_id"),
        array_sort(array_distinct(
          TextStats.hashedWordGramsCol(col("text"), n))).as("grams"))
      .withColumn("n_grams", size(col("grams")).cast("long"))
      .where(col("n_grams") > 0))
    val posting = g.select(col("doc_id"), col("n_grams"), explode(col("grams")).as("gram"))
    val dfreq = posting.groupBy(col("gram")).agg(count(lit(1)).as("df"))
    val pfx = posting.join(dfreq, Seq("gram"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("gram"))))
      .where(col("rn") <= expr(s"n_grams * ${100 - thresholdPct} DIV 100 + 1"))
      .select(col("doc_id").as("doc_a"), col("gram"))
    val cand = pfx
      .join(posting.select(col("doc_id").as("doc_b"), col("gram")), Seq("gram"))
      .where(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    cand
      .join(g.select(col("doc_id").as("doc_a"), col("grams").as("grams_a"),
        col("n_grams").as("n_grams_a")), Seq("doc_a"))
      .join(g.select(col("doc_id").as("doc_b"), col("grams").as("grams_b")), Seq("doc_b"))
      .withColumn("n_inter",
        graft.functions.SortedIntersectCount.ofSorted(col("grams_a"), col("grams_b"))
          .cast("long"))
      .where(col("n_inter") * 100 >= col("n_grams_a") * thresholdPct)
      .select(col("doc_a"), col("doc_b"), col("n_grams_a"), col("n_inter"),
        expr("n_inter * 100 DIV n_grams_a").as("containment_pct"))
  }

  /** DuckDB twin of [[pairs]]: same distinct word-gram sets (shared
    * md5-prefix longs), same (df, gram) prefix ordering, same integer
    * containment gate.
    */
  def pairsOracle(n: Int = 3, thresholdPct: Int = 80): String = {
    val miss = 100 - thresholdPct
    s"""WITH g0 AS (
       |  SELECT doc_id,
       |    list_distinct(${TextStats.hashedWordGramsSql(n)}) AS grams
       |  FROM documents),
       |gs AS (SELECT doc_id, grams, len(grams) AS n_grams FROM g0
       |       WHERE len(grams) > 0),
       |posting AS (SELECT doc_id, n_grams, unnest(grams) AS gram FROM gs),
       |dfreq AS (SELECT gram, count(*) AS df FROM posting GROUP BY 1),
       |pfx AS (
       |  SELECT doc_id AS doc_a, gram FROM (
       |    SELECT p.doc_id, p.gram, p.n_grams, d.df,
       |      row_number() OVER (PARTITION BY p.doc_id ORDER BY d.df, p.gram) AS rn
       |    FROM posting p JOIN dfreq d USING (gram))
       |  WHERE rn <= n_grams * $miss // 100 + 1),
       |cand AS (
       |  SELECT DISTINCT a.doc_a, b.doc_id AS doc_b
       |  FROM pfx a JOIN posting b USING (gram)
       |  WHERE a.doc_a <> b.doc_id)
       |SELECT c.doc_a, c.doc_b, ga.n_grams AS n_grams_a,
       |  CAST(len(list_intersect(ga.grams, gb.grams)) AS BIGINT) AS n_inter,
       |  CAST(len(list_intersect(ga.grams, gb.grams)) AS BIGINT) * 100
       |    // ga.n_grams AS containment_pct
       |FROM cand c
       |JOIN gs ga ON ga.doc_id = c.doc_a
       |JOIN gs gb ON gb.doc_id = c.doc_b
       |WHERE len(list_intersect(ga.grams, gb.grams)) * 100 >= ga.n_grams * $thresholdPct
       |ORDER BY c.doc_a, c.doc_b""".stripMargin
  }
}
