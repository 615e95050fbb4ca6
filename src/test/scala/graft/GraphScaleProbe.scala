package graft

import graft.ext.{BfsHops, LabelPropagation, PageRank, Triangles}
import org.apache.spark.sql.functions._

/** Dev-only scaling probe for the iterative-graph family (g1–g4) — the
  * graph sibling of [[ScaleProbe]]'s dedup/curation curve: measures each
  * algorithm at the sf0.1 co-purchase graph (1x ≈ 2.4M directed edges)
  * and on a synthesized 10x graph, so the 100-TB argument for the
  * superstep operators rests on a measured curve.
  *
  * The 10x graph is 10 DISJOINT replicas of the 1x edge list with node
  * ids shifted by replica · 10^7 ([[Probes.replicated]]): within a replica every degree,
  * triangle, community, and hop distance is exactly the original's, and
  * no cross-replica edge exists — so the workload grows 10x with
  * CONSTANT local structure (the same constant-density regime the
  * corpus probe synthesizes), and every output row count must be
  * exactly 10x its 1x value, which the probe prints for the same
  * self-check the corpus probe's pair counts provide. The shift
  * preserves the BFS seed rule too: 10^7 ≡ 0 (mod 50), so replica
  * seeds are exactly the shifted originals.
  *
  * Run: `sbt "Test/runMain graft.GraphScaleProbe"`; paste the JSON line
  * into bench_records/.
  */
object GraphScaleProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.local("graphscaleprobe", 32)
    spark.sparkContext.setLogLevel("ERROR")

    val tmp = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_scale").toString

    // materialize the 1x edge list once (the probe measures the graph
    // algorithms, not the lineitem self-join both scales would share)
    val e1xPath = s"$tmp/edges1x.parquet"
    Probes.coPurchaseEdges(spark.read.parquet(s"$sfDir/lineitem.parquet"))
      .write.mode("overwrite").parquet(e1xPath)

    val e10xPath = s"$tmp/edges10x.parquet"
    Probes.replicated(spark.read.parquet(e1xPath), 10, Seq("src", "dst"), unit = 10000000L)
      .write.mode("overwrite").parquet(e10xPath)

    val results: Probes.Record = scala.collection.mutable.LinkedHashMap.empty
    def time(name: String)(f: => Long): Unit = Probes.time(spark, results, name)(f)

    for ((tag, path) <- Seq("1x" -> e1xPath, "10x" -> e10xPath)) {
      val edges = spark.read.parquet(path)
      results += s"${tag}_edges" -> edges.count()
      // g1's topK truncates to 100 rows at both scales; count the full
      // rank frame's support via the same plan minus the limit is not
      // the shipped operator — keep the operator as-is and record 100
      time(s"g1_pagerank_$tag") { PageRank.ranks(edges).count() }
      time(s"g3_bfs_$tag") { BfsHops.hops(edges).count() }
      time(s"g4_labelprop_$tag") { LabelPropagation.communities(edges).count() }
      // g5 BEFORE the exact variants here too (the clique-stage lesson):
      // the r12 first run measured g5_capped_10x at 59.4 s purely from
      // following BOTH heavy g2 variants — the g5-first rerun and the
      // min-of-3 bench artifact agree it is ~half that
      time(s"g5_capped_$tag") { Triangles.perNodeCapped(edges).count() }
      time(s"g2_triangles_$tag") { Triangles.perNode(edges).count() }
      // the >10^8-edge closure branch (partitioned semi-join, no driver
      // Bloom literal) measured on the same graph: the prune argument
      // for web scale rests on this point scaling like the Bloom form
      time(s"g2_semijoin_$tag") { Triangles.perNodeSemiJoinClosure(edges).count() }
    }

    // Dense-core probe — the regime where exact wedge enumeration's
    // O(m^1.5) bound is TIGHT: embed a clique of c fresh nodes into the
    // 1x graph (c²/2 extra edges but ~c³/4 extra wedges; at c=800
    // that's ~3x the base graph's whole wedge stream for a 13% edge
    // increase). Exact g2 must pay the cubic wedge cost; degree-capped
    // g5 (cap 128 < c-1) drops the clique nodes and stays flat — the
    // measured sub-m^1.5 argument for the capped variant.
    for (c <- Seq(500, 800)) {
      val ids = spark.range(0, c).select((col("id") + 90000000L).as("n"))
      val clique = ids.as("x").crossJoin(ids.as("y"))
        .where(col("x.n") < col("y.n"))
        .select(col("x.n").as("src"), col("y.n").as("dst"))
      val densePath = s"$tmp/edges_clique$c.parquet"
      spark.read.parquet(e1xPath).union(clique)
        .write.mode("overwrite").parquet(densePath)
      val edges = spark.read.parquet(densePath)
      results += s"clique${c}_edges" -> edges.count()
      // g5 FIRST: measured after g2, the capped run would inherit the
      // tail of g2's cubic wedge cleanup even with the per-measurement
      // hygiene (a 45 s predecessor leaves more than one GC reclaims)
      time(s"g5_capped_clique$c") { Triangles.perNodeCapped(edges).count() }
      time(s"g2_triangles_clique$c") { Triangles.perNode(edges).count() }
    }

    println("GRAPHSCALEPROBE_JSON " + Probes.json(results))
    spark.stop()
  }
}
