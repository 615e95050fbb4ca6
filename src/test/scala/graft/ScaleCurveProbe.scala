package graft

import graft.Probes.{rotatedDocs, replicated}
import graft.ext._
import org.apache.spark.sql.functions._

/** Dev-only 3-POINT scale curve for one representative per headline
  * family (the r14 verdict's item 2) — the two earlier probes measured
  * 1x/10x for dedup ([[ScaleProbe]]) and graph ([[GraphScaleProbe]]);
  * this one measures 1x / 3x / 10x of sf0.1 in ONE artifact so a fitted
  * exponent backs each family's 100-TB posture:
  *
  *   - e2  gap sessionization        (analytics/Events.sessionize)
  *   - q8  repurchase band join      (analytics/Repurchase.bandJoin)
  *   - d3  MinHash LSH verified pairs (ext/MinHashDedup.verifiedPairs)
  *   - c1  corpus curation           (ext/CorpusPipeline.curate)
  *   - s7  IVF x PQ ANN top-k        (ext/AnnPq.ivfPqTopK, fits incl.)
  *   - g2  exact triangle counts     (ext/Triangles.perNode)
  *
  * Synthesis preserves LOCAL structure so the curve measures weak
  * scaling (more of the same corpus, the real growth regime):
  *
  *   - documents: per-replica Caesar character bijection
  *     ([[Probes.rotatedDocs]]), so duplicate DENSITY is constant and
  *     d3's pair count must scale exactly Nx. c1's OUTPUT stays ~constant by
  *     design: rotated replicas fail the predicted_lang == "en" gate,
  *     but the dedup work it pays runs over the full Nx corpus.
  *   - orders/lineitem/events: Nx disjoint replicas ([[Probes.replicated]])
  *     (orderkey/custkey/partkey/user_id/event_id + replica * 10^9),
  *     so per-customer repurchase structure, per-user session
  *     structure, and per-order co-purchase fan-out are exactly the
  *     original's — e2/q8/g2 row counts must scale exactly Nx. At 3x
  *     and above the co-purchase graph (oriented m = N·1.2M) crosses
  *     the closure-prune ladder's plan-literal-Bloom bound (2·10^6
  *     since the r16 retune; 10^7 when the r15 curve was recorded)
  *     into the REGIME-2 broadcast-Bloom path.
  *   - embeddings: Nx replicas with offset vec_ids, replica 0 keeping
  *     the originals — the s7 query set (vec_id < 10) and the bounded
  *     fit samples stay comparable while the scanned corpus grows Nx;
  *     output stays 10 queries x k rows, cost is the scan+shortlist.
  *
  * Protocol (the round-discipline pitfalls): scales ascend, queries run
  * cheap-before-heavy within a scale, every point is a min-of-2 of
  * `QueryTrace.timed` runs (hygiene first) with per-run loadavg stamped
  * in the JSON (single-shot absolutes are 20-40% noisy
  * on this box; the fitted exponent over min points is the artifact).
  *
  * Run: `sbt "Test/runMain graft.ScaleCurveProbe"`; paste the JSON line
  * into bench_records/r15_scale_curve.json and the exponent table into
  * SCALING.md.
  */
object ScaleCurveProbe {

  /** Scale points and synthesis seed are env-tunable so a SECOND run
    * can pin the exponents as synthesis-independent:
    * `SPARK_GRAFT_SCALES=1,4,8 SPARK_GRAFT_ROT_SEED=5` varies both the
    * measured points and the per-replica rotation assignment (replica 0
    * always stays the identity so c1's lang gate and s7's query ids
    * keep their meaning).
    */
  private val Scales: Seq[Int] = sys.env.get("SPARK_GRAFT_SCALES")
    .map(_.split(",").map(_.trim.toInt).toSeq).getOrElse(Seq(1, 3, 10))
  private val RotSeed: Int =
    sys.env.get("SPARK_GRAFT_ROT_SEED").map(_.toInt).getOrElse(0)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.local("scalecurve", 32)
    spark.sparkContext.setLogLevel("ERROR")

    val tmp = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_scale_curve",
      s"s$RotSeed").toString

    // ---- synthesize the 3x / 10x corpora (1x reads the originals) ----
    def tablePath(scale: Int, t: String): String =
      if (scale == 1) s"$sfDir/$t.parquet" else s"$tmp/x$scale/$t.parquet"
    for (scale <- Scales if scale > 1) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      rotatedDocs(docs, scale, RotSeed)
        .write.mode("overwrite").parquet(tablePath(scale, "documents"))
      replicated(spark.read.parquet(s"$sfDir/embeddings.parquet"), scale,
          Seq("vec_id"), unit = 10000000L)
        .write.mode("overwrite").parquet(tablePath(scale, "embeddings"))
      replicated(spark.read.parquet(s"$sfDir/events.parquet"), scale,
          Seq("event_id", "user_id"))
        .write.mode("overwrite").parquet(tablePath(scale, "events"))
      replicated(spark.read.parquet(s"$sfDir/orders.parquet"), scale,
          Seq("o_orderkey", "o_custkey"))
        .write.mode("overwrite").parquet(tablePath(scale, "orders"))
      replicated(spark.read.parquet(s"$sfDir/lineitem.parquet"), scale,
          Seq("l_orderkey", "l_partkey"))
        .write.mode("overwrite").parquet(tablePath(scale, "lineitem"))
      println(s"synthesized x$scale under $tmp/x$scale")
    }

    val results: Probes.Record = scala.collection.mutable.LinkedHashMap.empty
    val minSecs = scala.collection.mutable.LinkedHashMap.empty[(String, Int), Double]
    def measure(name: String, scale: Int)(f: => Long): Unit =
      minSecs += (name, scale) -> Probes.time(spark, results, s"${name}_x$scale", runs = 2)(f)

    for (scale <- Scales) {
      val docsRaw = spark.read.parquet(tablePath(scale, "documents"))
      val emb = spark.read.parquet(tablePath(scale, "embeddings"))
      val events = spark.read.parquet(tablePath(scale, "events"))
      val orders = spark.read.parquet(tablePath(scale, "orders"))
      val lineitem = spark.read.parquet(tablePath(scale, "lineitem"))
      results += s"x${scale}_docs" -> docsRaw.count()
      results += s"x${scale}_events" -> events.count()
      results += s"x${scale}_lineitem" -> lineitem.count()

      // cheap-before-heavy (the g5-after-g2 inheritance pitfall)
      measure("e2_sessionize", scale) {
        graft.analytics.Events.sessionize(events, 30).count()
      }
      measure("q8_band_join", scale) {
        graft.analytics.Repurchase.bandJoin(orders, lineitem, 30).count()
      }
      measure("d3_minhash_pairs", scale) {
        val docs = CorpusPipeline.spreadText(docsRaw)
        val n = MinHashDedup.verifiedPairs(docs, 5, 0.5).count()
        docs.unpersist()
        n
      }
      measure("c1_curate", scale) { CorpusPipeline.curate(docsRaw).count() }
      measure("s7_ann_ivfpq", scale) {
        // the registry's exact shape: bounded fits inside the timed
        // region, the same 10 query vectors at every scale (replica 0
        // keeps original vec_ids)
        AnnPq.ivfPqTopK(emb, emb.filter(col("vec_id") < 10), 5,
          AnnIvf.fixedCentroids(emb, 16), AnnPq.fixedCodebooks(emb)).count()
      }
      val edges = Probes.coPurchaseEdges(lineitem)
      results += s"x${scale}_edges" -> edges.count()
      measure("g2_triangles", scale) { Triangles.perNode(edges).count() }
    }

    // least-squares slope of log(min sec) on log(scale): the measured
    // exponent (1.0 = linear weak scaling)
    val queries = minSecs.keys.map(_._1).toSeq.distinct
    for (q <- queries) {
      val pts = Scales.map(s => (math.log(s.toDouble), math.log(minSecs((q, s)))))
      val mx = pts.map(_._1).sum / pts.size
      val my = pts.map(_._2).sum / pts.size
      val slope = pts.map(p => (p._1 - mx) * (p._2 - my)).sum /
        pts.map(p => (p._1 - mx) * (p._1 - mx)).sum
      results += s"${q}_exponent" -> math.rint(slope * 100) / 100
      println(f"EXPONENT $q%-18s ${math.rint(slope * 100) / 100}%5.2f")
    }

    println("SCALECURVE_JSON " + Probes.json(results))
    spark.stop()
  }
}
