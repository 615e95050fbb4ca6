package graft.ext

import graft.core.{Materialize, Superstep}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source breadth-first search — the frontier-expansion member of
  * the iterative-graph family ([[PageRank]] is the fixed-point member,
  * [[Triangles]] the enumeration member, [[DedupClusters]] the
  * component member). Computes the minimum hop count from a seed set
  * to every node reachable within `maxHops` supersteps: the primitive
  * under landmark-distance features, k-hop neighbourhoods, and
  * contamination/influence spread.
  *
  * Shape at scale: the naive formulation re-joins the FULL distance
  * frame to the edge list every round (round k scans every node found
  * so far). This one joins only the FRONTIER — nodes first reached in
  * the previous round — so each node's adjacency list is expanded
  * exactly once over the whole run and total join work is Σ|frontier|
  * ≈ |reached|, not iterations × |reached|. The settled set is carried
  * as a 2-column frame and the newly-reached delta is computed with a
  * single anti-join per round: the frontier form of
  * [[graft.core.Superstep]], which stops on an empty delta.
  * All arithmetic is integer, so the hop counts hash-gate against an
  * oracle that replays the fixed-point as an unrolled min-union CTE
  * chain — frontier expansion and min-union are different SCHEDULES of
  * the same monotone recurrence, so the reached sets and minima agree
  * exactly.
  */
object BfsHops {

  /** @param edges   directed multigraph as (src, dst) BIGINT columns;
    *                parallel edges are deduplicated (hop counts ignore
    *                multiplicity)
    * @param seedMod a node is a seed iff node % seedMod == 0 — a
    *                deterministic, data-independent landmark rule the
    *                oracle states as the same predicate
    * @return (node, hops) for every node within `maxHops` of a seed,
    *         ordered by node id
    */
  def hops(edges: DataFrame, seedMod: Long = 50L,
           maxHops: Int = 4): DataFrame = Materialize.scoped { scope =>
    // co-partition the adjacency by src ONCE and cache (the PageRank
    // idiom): every superstep's frontier join then reuses the cached
    // HashPartitioning(src) and shuffles only the frontier — without
    // this, each round re-shuffled the full edge list (a plain
    // distinct() caches under (src, dst) partitioning, which the
    // src-keyed join cannot reuse). dropDuplicates AFTER the
    // repartition adds no exchange: hash(src) already clusters equal
    // (src, dst) pairs, and Catalyst accepts a subset partitioning for
    // the aggregate's distribution requirement.
    val adj = scope.cache(edges.select(col("src"), col("dst"))
      .repartition(col("src"))
      .dropDuplicates(Seq("src", "dst"))
      // sorted at cache-build time so each superstep's frontier join
      // (a sort-merge join — the frontier is a stats-free LogicalRDD)
      // skips the per-round Sort of the full adjacency; the dedup hash
      // aggregate above preserves the hash(src) partitioning, the sort
      // adds the ordering the SMJ needs (OPTIMIZATION_r20.md — the
      // LabelPropagation sorted-cache measurement, same shape)
      .sortWithinPartitions(col("src")))
    val nodes = adj.select(col("src").as("node"))
      .union(adj.select(col("dst").as("node")))
      .distinct()

    val seeds = nodes.where(col("node") % seedMod === 0)
      .select(col("node"), lit(0L).as("hops"))
    Superstep.frontier(seeds, maxHops) { (dist, frontier, k) =>
      // expand ONLY the frontier, keep first-reach rows only: the
      // anti-join against the settled set is what makes round k cost
      // |frontier_k|, not |reached_k|
      frontier
        .join(adj, col("node") === col("src"))
        .select(col("dst").as("node"))
        .distinct()
        .join(dist, Seq("node"), "left_anti")
        .select(col("node"), lit(k.toLong).as("hops"))
    }.orderBy(col("node"))
  }

  /** DuckDB twin over an `edges(src, dst)` CTE the caller prepends: the
    * same monotone recurrence as an unrolled d0..dN min-union chain
    * (distance frames are tiny relative to a SQL engine's scan cost, so
    * the oracle takes the simple schedule; the engine takes the
    * frontier schedule — identical fixed-point, see class doc).
    */
  def hopsSqlTail(seedMod: Long = 50L, maxHops: Int = 4): String = {
    val base =
      s"""adj AS (SELECT DISTINCT src, dst FROM edges),
         |bnodes AS (SELECT src AS node FROM adj UNION SELECT dst FROM adj),
         |d0 AS (SELECT node, CAST(0 AS BIGINT) AS hops FROM bnodes
         |       WHERE node % $seedMod = 0)""".stripMargin
    val iters = (1 to maxHops).map { k =>
      s"""d$k AS (
         |  SELECT node, min(hops) AS hops FROM (
         |    SELECT node, hops FROM d${k - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, d.hops + 1 AS hops
         |    FROM d${k - 1} d JOIN adj e ON e.src = d.node)
         |  GROUP BY node)""".stripMargin
    }
    (Seq(base) ++ iters).mkString(",\n") +
      s"\nSELECT node, hops FROM d$maxHops ORDER BY node"
  }
}
