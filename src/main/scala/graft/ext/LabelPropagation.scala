package graft.ext

import graft.core.{GraftSession, Materialize, Superstep}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label propagation — the community-detection member of
  * the iterative-graph family ([[PageRank]] fixed-point, [[BfsHops]]
  * frontier expansion, [[Triangles]] enumeration, [[DedupClusters]]
  * components). Each superstep every node adopts the label its
  * in-neighbours hold most often; parallel edges weight the vote like
  * repeated observations (the [[PageRank]] multigraph convention).
  *
  * Vanilla LPA is nondeterministic twice over — random visit order and
  * random tie-breaks — which would make a cross-engine gate impossible.
  * This is the deterministic synchronous form: all nodes update from
  * the PREVIOUS round's labels simultaneously, and ties break to the
  * SMALLEST label. Every quantity is a BIGINT (labels are node ids,
  * votes are counts), so a DuckDB replay of the unrolled superstep
  * chain is bit-identical.
  *
  * Shape at scale: the edge frame is partitioned by `src` once and
  * cached — each superstep shuffles only the 2-column (node, label)
  * frame to that partitioning, counts votes with map-side partial
  * aggregation on (dst, label), and picks the winner with a second
  * partial+final `max(struct(votes, -label))` — an aggregate, NOT a
  * per-dst window, so the argmax never sorts and never ships more than
  * one candidate row per (partition, dst) to the final stage. The
  * rounds are a fixed count on [[graft.core.Superstep]], each planning
  * against the previous round's checkpointed 2-column label frame.
  */
object LabelPropagation {

  /** @param edges directed multigraph as (src, dst) BIGINT columns;
    *              votes flow src -> dst, parallel edges vote repeatedly
    * @return (node, label) after `iterations` synchronous supersteps,
    *         ordered by node id; isolated-in-degree nodes keep their
    *         previous label
    */
  def communities(edges: DataFrame,
                  iterations: Int = 3): DataFrame = Materialize.scoped { scope =>
    // partitioned AND sorted by src at cache-build time: every superstep
    // joins this cache to the ~|nodes| label frame with a sort-merge
    // join, and an unsorted cache re-Sorts the full adjacency every
    // round (a LogicalRDD label frame has no stats, so the planner
    // cannot broadcast it). One sort here removes iterations × |edges|
    // sort work — OPTIMIZATION_r20.md measured the 3-superstep chain
    // 11.49 -> 6.23 s at sf0.1, vs 7.30 s for a forced-broadcast label
    // side (which would also be memory-unsafe at 100 TB node counts).
    // EXPLICIT partition count: with volume-adaptive cached-plan
    // partitioning on (GraftSession, r21), a keyed repartition with no
    // count coalesces to the advisory size — right for caches feeding
    // joins against tiny frames, wrong here: every superstep aggregates
    // the FULL |edges| (dst, label) vote stream, so the cache's
    // partition count is the supersteps' compute parallelism (measured:
    // the coalesced cache read g4 1.03-1.13x slower across four
    // interleaved A/Bs while every other iterative operator won). An
    // explicit count is AQE-exempt, pinning today's behavior at any
    // conf; [[GraftSession.parallelism]] tracks deployment sizing.
    val adj = scope.cache(edges.select(col("src"), col("dst"))
      .repartition(GraftSession.parallelism(edges.sparkSession), col("src"))
      .sortWithinPartitions(col("src")))
    // nodes feeds ONLY the seed labels frame (one consumer — no cache);
    // adj's cache is what the supersteps reuse
    val nodes = adj.select(col("src").as("node"))
      .union(adj.select(col("dst").as("node")))
      .distinct()

    // the argmax encodes "ties to smallest label" as max(-label), which
    // inverts ONLY on non-negative ids; a negative id would silently
    // diverge from the oracle's ORDER BY label ASC, so fail loudly
    val minRow = nodes.agg(min(col("node"))).head()
    if (!minRow.isNullAt(0)) {
      val minNode = minRow.getAs[Number](0).longValue
      require(minNode >= 0L,
        s"LabelPropagation requires non-negative node ids (tie-break is " +
          s"max(-label)); got min node id $minNode")
    }

    Superstep.fixed(nodes.select(col("node"), col("node").as("label")), iterations) { (labels, _) =>
      val votes = adj
        .join(labels.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("votes"))
      // deterministic argmax: max votes, ties to the smallest label —
      // max(struct(votes, -label)) keeps the pick inside a hash
      // aggregate (labels are non-negative ids, so -label orders
      // exactly opposite to label)
      val picked = votes
        .groupBy(col("dst"))
        .agg(max(struct(col("votes"), (-col("label")).as("neg"))).as("m"))
        .select(col("dst").as("node"), (-col("m.neg")).as("new_label"))
      labels
        .join(picked, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("new_label"), col("label")).as("label"))
    }.orderBy(col("node"))
  }

  /** DuckDB twin over an `edges(src, dst)` CTE the caller prepends: the
    * supersteps unrolled as an l0..lN chain; the argmax is a
    * row_number window (the oracle takes the simple schedule, the
    * engine the aggregate one — identical pick by construction).
    */
  def communitiesSqlTail(iterations: Int = 3): String = {
    val base =
      s"""lnodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
         |l0 AS (SELECT node, node AS label FROM lnodes)""".stripMargin
    val iters = (1 to iterations).map { i =>
      s"""p$i AS (
         |  SELECT dst, label FROM (
         |    SELECT dst, label,
         |      row_number() OVER (PARTITION BY dst
         |                         ORDER BY votes DESC, label ASC) AS rn
         |    FROM (SELECT e.dst, l.label, count(*) AS votes
         |          FROM edges e JOIN l${i - 1} l ON l.node = e.src
         |          GROUP BY e.dst, l.label))
         |  WHERE rn = 1),
         |l$i AS (
         |  SELECT n.node, coalesce(p.label, prev.label) AS label
         |  FROM lnodes n
         |  JOIN l${i - 1} prev ON prev.node = n.node
         |  LEFT JOIN p$i p ON p.dst = n.node)""".stripMargin
    }
    (Seq(base) ++ iters).mkString(",\n") +
      s"\nSELECT node, label FROM l$iterations ORDER BY node"
  }
}
