package graft

import graft.ext._
import org.apache.spark.sql.functions._

/** Dev-only scaling probe (not part of the suite): measures the dedup /
  * curation pipelines at sf0.1 (1x) and on a synthesized 10x corpus, so
  * the 100x design argument rests on a measured scaling curve rather
  * than plan-shape pins alone.
  *
  * The 10x corpus is 10 per-replica CHARACTER BIJECTIONS of sf0.1's
  * documents ([[Probes.rotatedDocs]]: within a replica every Jaccard
  * value, bucket structure, span grid position and length is EXACTLY the
  * original's). Duplicate DENSITY therefore stays constant as the corpus
  * grows — the regime where runtime should
  * scale ~linearly. (A first attempt suffixed every word with a replica
  * tag instead; with the corpus's tiny word vocabulary that INFLATED
  * within-replica similarity — 479M LSH candidates, 5159-doc buckets,
  * ~1800x pair growth — which is exactly the failure mode the probe's
  * pair-count printout exists to catch. Expected here: pair counts grow
  * ~10x, not ~100x.)
  *
  * Run: `sbt "Test/runMain graft.ScaleProbe"`; paste the JSON line into
  * bench_records/r09_scale_probe.json.
  */
object ScaleProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.local("scaleprobe", 32)
    spark.sparkContext.setLogLevel("ERROR")

    val tmp = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_scale").toString
    val tenxPath = s"$tmp/docs10x.parquet"
    Probes.rotatedDocs(spark.read.parquet(s"$sfDir/documents.parquet"), 10)
      .write.mode("overwrite").parquet(tenxPath)

    val results: Probes.Record = scala.collection.mutable.LinkedHashMap.empty
    def time(name: String)(f: => Long): Unit = Probes.time(spark, results, name)(f)

    for ((tag, path) <- Seq("1x" -> s"$sfDir/documents.parquet", "10x" -> tenxPath)) {
      val raw = spark.read.parquet(path)
      results += s"${tag}_docs" -> raw.count()
      val docs = CorpusPipeline.spreadText(raw)
      time(s"d3_pairs_$tag") { MinHashDedup.verifiedPairs(docs, 5, 0.5).count() }
      time(s"d8_clusters_$tag") {
        DedupClusters.clusters(docs, MinHashDedup.verifiedPairs(docs, 5, 0.5)).count()
      }
      time(s"c1_curate_$tag") { CorpusPipeline.curate(raw).count() }
      time(s"c2_filter_first_$tag") { CorpusPipeline.curateFiltered(raw).count() }
      time(s"d10_spans_$tag") { SpanDedup.spanPairs(docs).count() }
      time(s"d11_removal_$tag") { SpanDedup.removeSpans(docs).count() }
      // LSH band-bucket telemetry: candidate volume and cap pressure
      val hist = MinHashDedup.candidateBucketHistogram(docs, 5, 50)
        .agg(sum(col("candidate_pairs")).as("cand"),
          sum(when(col("dropped_by_cap"), col("n_buckets")).otherwise(0L)).as("capped"),
          max(col("bucket_size")).as("max_bucket"))
        .head()
      results += s"${tag}_lsh_candidate_pairs" -> hist.getLong(0)
      results += s"${tag}_lsh_buckets_over_cap" -> hist.getLong(1)
      results += s"${tag}_lsh_max_bucket" -> hist.getLong(2)
      docs.unpersist()
    }

    // PQ ANN scan scaling: the 10x corpus is a plain replication with
    // remapped vec_ids (vectors unchanged — this measures the compressed
    // scan + shortlist cost, not recall; replica 0 keeps the original
    // ids so the fixed codebooks are identical at both scales)
    val emb1x = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val emb10xPath = s"$tmp/emb10x.parquet"
    Probes.replicated(emb1x, 10, Seq("vec_id"), unit = 10000000L).write.mode("overwrite").parquet(emb10xPath)
    for ((tag, e) <- Seq("1x" -> emb1x, "10x" -> spark.read.parquet(emb10xPath))) {
      val cb = AnnPq.fixedCodebooks(e)
      time(s"s6_pq_$tag") { AnnPq.topK(e, e.filter(col("vec_id") < 10), 5, cb).count() }
    }

    println("SCALEPROBE_JSON " + Probes.json(results))
    spark.stop()
  }
}
