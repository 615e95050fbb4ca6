package graft.ext

import graft.core.{Materialize, Superstep}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Near-duplicate clustering: connected components over a pair list.
  *
  * Pair detectors ([[MinHashDedup]], [[SimHash]], [[NgramJaccard]]) emit
  * edges; corpus dedup needs *components* — every doc mapped to one
  * canonical representative (min doc_id in its component), so that "keep
  * one per cluster" is well-defined even for chains a~b~c where a and c
  * never matched directly.
  *
  * Algorithm: iterative min-label propagation — each round every vertex
  * takes the min label among itself and its neighbors; converges in
  * O(component diameter) rounds. Each round is one join + aggregate
  * (shuffle on doc_id); the driver only checks the converged flag — the
  * classic Spark pattern for iterative graph algorithms (large-star /
  * small-star is the optimization for web-scale graphs; dedup components
  * are tiny and shallow, so plain propagation is the right tool). The
  * rounds run on [[graft.core.Superstep]] until no label changes, and a
  * run that reaches `maxIter` unconverged fails.
  */
object DedupClusters {

  /** (doc_id, cluster_id) for every document; cluster_id = min doc_id
    * reachable through `pairs` (columns doc_a, doc_b).
    */
  def components(documents: DataFrame, pairs: DataFrame,
                 maxIter: Int = 20): DataFrame = Materialize.scoped { scope =>
    // cache the PAIR LIST before unioning it into the symmetric edge
    // list: the union's two branches otherwise each re-derive the full
    // pair pipeline inside the edge materialization job (for minhash
    // pairs that is the banding shuffle + verify joins TWICE — the 10x
    // scale probe measured d8 paying ~2x its pair cost here). Pairs are
    // orders of magnitude smaller than the corpus; the cache is noise.
    val pairsC = scope.cache(pairs)
    // symmetric edge list, cached: reused every iteration
    val edges = scope.cache(pairsC.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairsC.select(col("doc_b").as("src"), col("doc_a").as("dst"))))
    // iterate over CONNECTED vertices only: a doc with no edge can never
    // change its label, so singletons (the overwhelming majority of a
    // deduplicated corpus) rejoin after convergence via a left join —
    // every round's join/aggregate shuffles |connected| rows, not |corpus|.
    // Labels SEED with the one-hop minimum (least of self and direct
    // neighbors) — one aggregate over the edge list, the same shuffle the
    // old distinct() paid, but it starts every vertex one hop closer to
    // the fixpoint: diameter-1 components (the overwhelming dup shape —
    // direct pairs) converge in ONE confirming round instead of two, and
    // each saved round is a join + aggregate + checkpoint + probe job.
    // The fixpoint (min reachable doc_id) and the convergence probe are
    // unchanged; only the starting point moves. The seed is not cached:
    // the driver checkpoints it before round 1.
    val seed = edges
      .groupBy(col("src"))
      .agg(min(col("dst")).as("nmin"))
      .select(col("src").as("doc_id"), least(col("src"), col("nmin")).as("cluster_id"))
    val labels = Superstep.untilStable("DedupClusters.components", seed, maxIter) { (labels, _) =>
      val neighborMin = edges
        .join(labels, col("dst") === col("doc_id"))
        .groupBy(col("src")).agg(min(col("cluster_id")).as("nmin"))
      // the convergence probe rides along as a flag column — no separate
      // next-vs-previous join per round (one job per iteration total)
      labels
        .join(neighborMin, col("doc_id") === col("src"), "left")
        .select(
          col("doc_id"),
          least(col("cluster_id"), coalesce(col("nmin"), col("cluster_id"))).as("cluster_id"),
          (coalesce(col("nmin"), col("cluster_id")) < col("cluster_id")).as(Superstep.Changed))
    }
    // the converged labels are checkpointed, so nothing lazy reads the
    // scope's caches once it exits
    documents.select(col("doc_id"))
      .join(labels.select(col("doc_id"), col("cluster_id")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
  }

  /** Cluster summary: one row per component with its representative and
    * size (singletons included).
    */
  def clusters(documents: DataFrame, pairs: DataFrame): DataFrame =
    components(documents, pairs)
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"))

  /** DuckDB oracle: transitive closure via recursive CTE, then min-root
    * per doc. `pairsCtes`/`pairsSelect` supply the edge query (e.g. the
    * MinHash verified-pairs SQL).
    */
  def clustersOracle(pairsWithCte: String): String =
    s"""WITH RECURSIVE
       |p AS ($pairsWithCte),
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
       |      UNION ALL SELECT doc_b, doc_a FROM p),
       |reach AS (
       |  SELECT doc_id, doc_id AS root FROM documents
       |  UNION
       |  SELECT e.dst AS doc_id, r.root
       |  FROM reach r JOIN e ON e.src = r.doc_id),
       |comp AS (SELECT doc_id, min(root) AS cluster_id FROM reach GROUP BY doc_id)
       |SELECT cluster_id, count(*) AS n_members FROM comp GROUP BY cluster_id""".stripMargin
}
