package graft.queries

import graft.core.Catalog
import graft.ext.{BfsHops, LabelPropagation, PageRank, Triangles}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph computation over relationally-derived graphs. The
  * near-dup components operator ([[graft.ext.DedupClusters]], d8) is
  * the other member of this family; g1 adds the weighted-centrality
  * shape.
  */
object GraphQueries {

  /** Co-purchase edges: parts sharing an order, one directed edge per
    * ordered pair occurrence (parallel edges = repeat co-purchases
    * weight the walk). Self-join on the order key — bounded fan-out
    * per key (TPC-H orders hold ≤ 7 lines), so the join output is
    * linear in lineitems, never quadratic in the table.
    */
  private def coPurchaseEdges(s: SparkSession, d: String): DataFrame = {
    val li = Catalog(s, d).lineitem.select(col("l_orderkey"), col("l_partkey"))
    li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") =!= col("b.l_partkey"))
      .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
  }

  /** The simple undirected co-purchase edge SET — the frame the triangle
    * queries' `undSimple(coPurchaseEdges)` derives — built directly:
    * per-order sorted distinct parts, i<j combinations, global distinct.
    * Set-identical to the self-join + least/greatest + distinct chain
    * (OPTIMIZATION_r20.md: set equality pinned, measured 3.01 -> 1.87 s at
    * sf0.1: each unordered pair is emitted ONCE pre-distinct instead of
    * twice-directed, and the orderkey groupBy shuffles 2 narrow columns
    * where the self-join materialized the doubled edge list). Orders
    * hold ≤ 7 lines, so the per-row combination generation is O(1); the
    * g2/g5 oracles keep the self-join formulation — same set by
    * construction, proven by the hash gate.
    */
  private def coPurchaseUndSimple(s: SparkSession, d: String): DataFrame =
    Catalog(s, d).lineitem
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .select(explode(expr(
        "flatten(transform(ps, (x, i) -> transform(slice(ps, i + 2, size(ps)), y -> struct(x AS u, y AS v))))"
      )).as("p"))
      .select(col("p.u"), col("p.v"))
      .distinct()

  private val coPurchaseEdgesSql: String =
    """edges AS (
      |  SELECT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey)""".stripMargin

  def registry: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    // integer-grid PageRank over the co-purchase graph, 5 iterations
    "g1_pagerank" -> (
      ((s: SparkSession, d: String) => PageRank.ranks(coPurchaseEdges(s, d))),
      Some(s"WITH $coPurchaseEdgesSql,\n${PageRank.ranksSqlTail()}")),

    // exact per-node triangle counts with the degree-ordered
    // orientation (wedge work bounded O(m^1.5) under any skew)
    "g2_triangles" -> (
      ((s: SparkSession, d: String) => Triangles.perNodeOfSimpleUnd(coPurchaseUndSimple(s, d))),
      Some(s"WITH $coPurchaseEdgesSql,\n${Triangles.perNodeSqlTail}")),

    // multi-source BFS: min hops from the landmark seed set within 4
    // supersteps (frontier expansion in the engine, min-union unroll in
    // the oracle — same monotone fixed-point)
    "g3_bfs_hops" -> (
      ((s: SparkSession, d: String) => BfsHops.hops(coPurchaseEdges(s, d))),
      Some(s"WITH $coPurchaseEdgesSql,\n${BfsHops.hopsSqlTail()}")),

    // deterministic synchronous label propagation: weighted majority
    // vote per superstep, ties to the smallest label (community
    // detection made engine-replayable)
    "g4_label_prop" -> (
      ((s: SparkSession, d: String) => LabelPropagation.communities(coPurchaseEdges(s, d))),
      Some(s"WITH $coPurchaseEdgesSql,\n${LabelPropagation.communitiesSqlTail()}")),

    // degree-capped EXACT triangle counts (the 100x-scale posture for
    // the one O(m^1.5) operator): drop nodes of degree > 128, count
    // exactly on the induced subgraph — wedge work m*cap, linear in m
    // for a fixed cap under any skew; deterministic semantics, so it
    // hash-gates (no sampling estimate)
    "g5_triangles_capped" -> (
      ((s: SparkSession, d: String) => Triangles.perNodeCappedOfSimpleUnd(coPurchaseUndSimple(s, d))),
      Some(s"WITH $coPurchaseEdgesSql,\n${Triangles.perNodeCappedSqlTail()}"))
  )
}
