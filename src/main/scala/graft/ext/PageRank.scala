package graft.ext

import graft.core.{Materialize, Superstep}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-point PageRank: the iterative-graph-compute pattern (the same
  * shape as label propagation, belief propagation, embedding power
  * iteration) expressed as a deterministic, engine-replayable chain of
  * relational passes.
  *
  * Floating-point PageRank can never hash-gate across engines — the
  * per-node sums are order-dependent doubles, and damping multiplies
  * rounding into every iteration. This one runs entirely on the
  * integer grid: ranks are BIGINT micro-units (`scale` = 10^12 of
  * total mass 1.0), every division is INTEGER division (`DIV` /
  * DuckDB `//`, exact floor for the non-negative domain), so each
  * iteration is bit-identical in any engine and the oracle replays the
  * whole fixed-point as a generated CTE chain. Mass lost to floors and
  * dangling nodes is the documented price of exactness — rank ORDER is
  * what the operator ships, and the floor error (≤ outdeg quanta per
  * node per pass, at scale 10^12) is ~9 orders of magnitude below the
  * teleport floor every node receives.
  *
  * Shape at scale: edges carry (src, dst, outdeg) co-partitioned once
  * by src and cached — the per-iteration work is one shuffle of the
  * (node, rank) frame to the edge partitioning, one partial+final sum
  * by dst, and one left join back to the node set; the edge frame
  * itself never re-shuffles. 5 iterations = 5 such passes — a fixed
  * round count on [[graft.core.Superstep]], so each pass plans against
  * the previous round's checkpointed 2-column frame.
  */
object PageRank {

  /** @param edges directed multigraph as (src, dst) BIGINT columns;
    *              parallel edges weight the transition like repeated
    *              observations (kept, not deduped)
    * @return (node, rank) — top `topK` by rank in micro-units of
    *         `scale`, ties broken by node id
    */
  def ranks(edges: DataFrame, iterations: Int = 5, topK: Int = 100,
            scale: Long = 1000000000000L): DataFrame = Materialize.scoped { scope =>
    // ONE pass over the (possibly expensive) edge-producing plan: the
    // out-degree rides an in-partition window on the src partitioning
    // the iterations need anyway — the groupBy+join formulation
    // re-evaluated the edge plan twice, and deriving nodes from raw
    // edges twice more (4 edge passes total; collapsing to one
    // measured 6.7 -> 5.6 s isolated at sf0.1's 2.4M-edge graph — the
    // remaining cost is the honest 5 supersteps over the cached edges)
    val withDeg = scope.cache(edges
      .repartition(col("src"))
      .withColumn("outdeg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src")))))
    val nodes = scope.cache(withDeg.select(col("src").as("node"))
      .union(withDeg.select(col("dst").as("node")))
      .distinct())
    // ONE scalar driver pull for the iterative fit (the AnnIvf-centroid
    // license: a fixed handful of rows steering plan constants, never
    // data). Folding n into literals removes five broadcast-nested-loop
    // scalar joins from the superstep plans; the arithmetic is the same
    // Long floor division the oracle's nn CTE performs.
    val n = nodes.count()
    if (n == 0L) {
      // empty edge list: the operator's normal (node, rank) shape with
      // zero rows — an upstream filter matching nothing must not kill
      // the pipeline
      nodes.select(col("node"), lit(0L).as("rank"))
    } else {
      val teleport = (scale * 15L) / (100L * n)

      Superstep.fixed(nodes.select(col("node"), lit(scale / n).as("rank")), iterations) { (rank, _) =>
        val inSum = withDeg
          .join(rank.withColumnRenamed("node", "src"), Seq("src"))
          .selectExpr("dst", "rank DIV outdeg AS contrib")
          .groupBy(col("dst"))
          .agg(sum(col("contrib")).as("in_sum"))
        nodes
          .join(inSum.withColumnRenamed("dst", "node"), Seq("node"), "left")
          .selectExpr("node",
            s"${teleport}L + (85 * coalesce(in_sum, 0L)) DIV 100 AS rank")
      }.orderBy(col("rank").desc, col("node").asc).limit(topK)
    }
  }

  /** DuckDB twin of [[ranks]] over an `edges(src, dst)` CTE named
    * `edges` that the caller prepends: the fixed-point unrolled as a
    * generated r0..rN chain, integer arithmetic throughout (`//` is
    * DuckDB's floor division; sums cast back to BIGINT to stop the
    * HUGEINT widening DuckDB applies to sum(BIGINT)).
    */
  def ranksSqlTail(iterations: Int = 5, topK: Int = 100,
                   scale: Long = 1000000000000L): String = {
    val base =
      s"""deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
         |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
         |nn AS (SELECT count(*) AS n_nodes FROM nodes),
         |r0 AS (SELECT node, $scale // n_nodes AS rank FROM nodes, nn)""".stripMargin
    val iters = (1 to iterations).map { i =>
      s"""r$i AS (
         |  SELECT n.node,
         |    ($scale * 15) // (100 * nn.n_nodes)
         |      + (85 * coalesce(s.in_sum, 0)) // 100 AS rank
         |  FROM nodes n CROSS JOIN nn LEFT JOIN (
         |    SELECT e.dst, CAST(sum(r.rank // d.outdeg) AS BIGINT) AS in_sum
         |    FROM edges e JOIN deg d ON e.src = d.src
         |    JOIN r${i - 1} r ON r.node = e.src
         |    GROUP BY e.dst) s ON s.dst = n.node)""".stripMargin
    }
    (Seq(base) ++ iters).mkString(",\n") +
      s"\nSELECT node, rank FROM r$iterations ORDER BY rank DESC, node ASC LIMIT $topK"
  }
}
