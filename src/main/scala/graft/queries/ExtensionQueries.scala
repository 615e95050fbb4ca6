package graft.queries

import graft.core.Catalog
import graft.ext._
import graft.analytics.Events
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline extensions (dedup, similarity search,
  * multimodal, text analysis, events) as named queries with DuckDB
  * oracles where SQL can express them.
  */
object ExtensionQueries {

  /** Exact top-k by brute force (the recall baseline for s2/s3/s4).
    * Per-vector norms are computed once in each side's projection and
    * carried through the join — identical doubles to [[VectorOps.cosine]]
    * (same integer dot, same single sqrt/divide), half the dot products.
    */
  def bruteTopK(embeddings: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    def withNorm(df: DataFrame, id: String, v: String, n: String) =
      df.select(col("vec_id").as(id), col("embedding").as(v),
        sqrt(VectorOps.dotQ(col("embedding"), col("embedding")).cast(DoubleType)).as(n))
    val q = withNorm(queries, "qid", "qv", "qn")
    val c = withNorm(embeddings, "cid", "cv", "cn")
    val scored = c.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("cid"))
      .filter(VectorOps.validNorm(col("qn")) && VectorOps.validNorm(col("cn")))
      .withColumn("cosine",
        VectorOps.dotQ(col("qv"), col("cv")).cast(DoubleType) / (col("qn") * col("cn")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("cid"), col("cosine"))
  }

  private def annBruteForce(s: SparkSession, d: String): DataFrame = {
    val e = Catalog(s, d).embeddings
    bruteTopK(e, e.filter(col("vec_id") < 10), 5)
  }

  private val annBruteOracle: String =
    s"""WITH ${VectorOps.oracleElems},
       |dots AS (
       |  SELECT a.vec_id AS qid, b.vec_id AS cid, CAST(SUM(a.x * b.x) AS DOUBLE) AS dot
       |  FROM el a JOIN el b ON a.i = b.i AND a.vec_id < 10 AND a.vec_id <> b.vec_id
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT qid, cid, dot / (sqrt(na.n2) * sqrt(nb.n2)) AS cosine
       |  FROM dots JOIN norms na ON qid = na.vec_id JOIN norms nb ON cid = nb.vec_id
       |  WHERE na.n2 > 0 AND nb.n2 > 0),
       |ranked AS (
       |  SELECT qid, cid, cosine,
       |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid ASC) AS rank
       |  FROM scored)
       |SELECT qid, CAST(rank AS INT) AS rank, cid, cosine FROM ranked WHERE rank <= 5""".stripMargin

  /** recall@5 of the LSH scale path against brute force, per query:
    * the honesty gate for approximate search. Both the approximate and
    * exact pipelines are SQL-replayable (md5-parity hyperplanes), so the
    * oracle checks the recall COMPUTATION bit-for-bit rather than
    * asserting a threshold; the threshold lives in ExtSpec.
    */
  private def annLshRecall(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val e = Catalog(s, d).embeddings
    val q = e.filter(col("vec_id") < 10)
    val brute = bruteTopK(e, q, 5).select(col("qid"), col("cid"))
    val lsh = AnnLsh.topK(e, q, 5).select(col("qid"), col("cid"), lit(1L).as("hit"))
    brute.join(lsh, Seq("qid", "cid"), "left")
      .groupBy(col("qid"))
      .agg((coalesce(sum(col("hit")), lit(0L)).cast(DoubleType) / lit(5)).as("recall"))
  }

  private val annLshRecallOracle: String =
    s"""WITH ${VectorOps.oracleElems},
       |${AnnLsh.lshCtes(5, 10)},
       |bdots AS (
       |  SELECT a.vec_id AS qid, b.vec_id AS cid, CAST(SUM(a.x * b.x) AS DOUBLE) AS dot
       |  FROM el a JOIN el b ON a.i = b.i AND a.vec_id < 10 AND a.vec_id <> b.vec_id
       |  GROUP BY 1, 2),
       |bscored AS (
       |  SELECT qid, cid, dot / (sqrt(na.n2) * sqrt(nb.n2)) AS cosine
       |  FROM bdots JOIN norms na ON qid = na.vec_id JOIN norms nb ON cid = nb.vec_id
       |  WHERE na.n2 > 0 AND nb.n2 > 0),
       |branked AS (
       |  SELECT qid, cid,
       |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid ASC) AS rank
       |  FROM bscored),
       |brute AS (SELECT qid, cid FROM branked WHERE rank <= 5)
       |SELECT b.qid,
       |  CAST(SUM(CASE WHEN l.cid IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / 5 AS recall
       |FROM brute b LEFT JOIN lsh l ON b.qid = l.qid AND b.cid = l.cid
       |GROUP BY b.qid""".stripMargin

  /** Copy the parquet payload of `src` — a single file OR a directory of
    * part files, the layout every production table actually has — into
    * `dstDir` as `<prefix><i>.parquet`. `java.nio.file.Files.copy` on a
    * directory creates an EMPTY directory (it does not copy contents),
    * so the pre-fix single-call staging silently produced a footerless
    * stream source on multi-file tables (the r13 layout-variant sweep
    * caught all 7 streaming gates failing on a re-laid-out sf dir).
    * Parts are copied in sorted name order so the file-stream source's
    * mtime-then-path arrival order stays deterministic.
    *
    * Every `*.parquet` regular file already in `dstDir` is deleted
    * first: the staging dirs outlive the (per-process) memo in /tmp, so
    * a source whose layout changed between processes would otherwise
    * leave its old staging alongside the new and double the stream
    * input. Callers therefore stage the primary payload BEFORE writing
    * any additional files into the dir (e8 copies its dup slice after).
    */
  private def stageParquetPayload(src: java.nio.file.Path,
                                  dstDir: java.nio.file.Path,
                                  prefix: String): Unit = {
    import scala.jdk.CollectionConverters._
    val stale = java.nio.file.Files.list(dstDir)
    try stale.iterator().asScala.toSeq
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      .foreach(java.nio.file.Files.delete)
    finally stale.close()
    val parts: Seq[java.nio.file.Path] =
      if (java.nio.file.Files.isDirectory(src)) {
        val s = java.nio.file.Files.list(src)
        try s.iterator().asScala.toSeq
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .sortBy(_.getFileName.toString)
        finally s.close()
      } else Seq(src)
    require(parts.nonEmpty, s"no parquet payload under $src")
    parts.zipWithIndex.foreach { case (p, i) =>
      java.nio.file.Files.copy(p, dstDir.resolve(f"$prefix$i%05d.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** The events table staged into a scratch DIRECTORY (the file-stream
    * source requires one), memoized per sf path so the copy is paid once
    * per process — NOT inside e4's timed bench window, whose min-of-N
    * contract is that measured queries don't pay bring-up.
    *
    * The staging REWRITES the payload into ONE part file rather than
    * byte-copying the source's own files: under `maxFilesPerTrigger=1`
    * the file split IS the arrival schedule, and a multi-file layout
    * that interleaves event time across files (any layout the engine
    * doesn't control) advances the watermark past rows still waiting in
    * later files — the stateful gates (e5/e6/e7/e12) then drop them as
    * late data while the batch oracle counts them (the r13 layout
    * sweep's finding on a shuffled 7-file variant). One part file means
    * one micro-batch: the watermark is -inf while every row arrives, so
    * the "backfill arrives as one batch" contract the oracles replay
    * holds on EVERY source layout. Multi-trigger arrival stays exercised
    * where it is semantically pinned: e10's explicit two-file restart
    * schedule and StreamingPropertySpec's generated disorder laws.
    */
  private def stagedEventsDir(s: SparkSession, d: String): String =
    // under the per-process Scratch root: concurrent harness processes
    // on the same sf never share (or race) a staged copy, and the copy
    // is still paid once per process (r15, the mm3 cross-process
    // finding generalized)
    graft.core.Scratch.staged("e4_events", d) { dir =>
      val rw = dir + "_rw"
      Catalog(s, d).table("events").coalesce(1)
        .write.mode("overwrite").parquet(rw)
      stageParquetPayload(java.nio.file.Paths.get(rw), java.nio.file.Paths.get(dir), "events_")
      org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(rw), true)
      dir
    }

  /** A two-file docs directory with PLANTED full-row duplicates for the
    * streaming-dedup gate: file 0 is the corpus, file 1 re-ships the
    * bucket>=80 slice byte-identically. Because every duplicate ROW is
    * identical, "first arrival survives" yields the same output
    * whichever file the stream lists first — the gate is deterministic
    * without pinning file order. Memoized per sf path like
    * [[stagedEventsDir]].
    */
  private def stagedDupDocsDir(s: SparkSession, d: String): String =
    graft.core.Scratch.staged("e8_docs", d) { dir =>
      stageParquetPayload(java.nio.file.Paths.get(s"$d/documents.parquet"),
        java.nio.file.Paths.get(dir), "batch0_")
      val slice = dir + "_slice"
      Catalog(s, d).documents
        .filter(TextStats.docIdBucketCol(100) >= 80)
        .coalesce(1).write.mode("overwrite").parquet(slice)
      val part = new java.io.File(slice).listFiles()
        .filter(f => f.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, java.nio.file.Paths.get(dir, "batch1.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      dir
    }

  /** The events table time-split into two single-file halves (cut at
    * 2024-01-16 UTC on the canonically-normalized `ts`, so the written
    * halves carry a plain UTC-micros timestamp footer that
    * [[graft.streaming.EventStream.readStream]]'s footer-derived schema
    * reads back unchanged) for the e10 restart gate: half A is the
    * backfill run 1 processes, half B the arrivals after the restart —
    * B holds the global max ts, so the final watermark (and the closed-
    * window set) equals the one-shot run's. Memoized per sf path like
    * [[stagedEventsDir]].
    */
  private def stagedSplitEventFiles(s: SparkSession, d: String): (String, String) =
    graft.core.Scratch.staged("e10_split", d) { base =>
      val cut = to_timestamp(lit("2024-01-16 00:00:00")) // UTC session frame
      val raw = Catalog(s, d).events
      def half(name: String, pred: org.apache.spark.sql.Column): String = {
        val dir = s"$base/$name"
        raw.filter(pred).coalesce(1).write.mode("overwrite").parquet(dir)
        new java.io.File(dir).listFiles()
          .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
      }
      (half("a", col("ts") < cut), half("b", col("ts") >= cut))
    }

  private def embeddingDups(s: SparkSession, d: String): DataFrame =
    VectorOps.blockedAllPairs(Catalog(s, d).embeddings, 0.4)

  private val embeddingDupsOracle: String =
    s"""WITH ${VectorOps.oracleElems},
       |dots AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, CAST(SUM(a.x * b.x) AS DOUBLE) AS dot
       |  FROM el a JOIN el b ON a.i = b.i AND a.vec_id < b.vec_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, dot / (sqrt(na.n2) * sqrt(nb.n2)) AS cosine
       |FROM dots JOIN norms na ON id_a = na.vec_id JOIN norms nb ON id_b = nb.vec_id
       |WHERE na.n2 > 0 AND nb.n2 > 0
       |  AND dot / (sqrt(na.n2) * sqrt(nb.n2)) >= 0.4""".stripMargin

  def registry: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(

    // exact content dedup via hash-groupBy
    "d1_dedup_exact" -> (
      ((s: SparkSession, d: String) => ExactDedup.groups(Catalog(s, d).documents)),
      Some(ExactDedup.groupsOracle)),

    // MinHash signature matrix (md5-based, oracle-shared)
    "d2_minhash_signatures" -> (
      ((s: SparkSession, d: String) => MinHashDedup.signatureStrings(Catalog(s, d).documents)),
      Some(MinHashDedup.signaturesOracle(5))),

    // MinHash LSH banding -> candidates -> exact-Jaccard verify; the
    // text source is spread first (CorpusPipeline.spreadText) so the
    // shingle/min-hash scans parallelize past the single input split
    "d3_minhash_pairs" -> (
      ((s: SparkSession, d: String) =>
        MinHashDedup.verifiedPairs(CorpusPipeline.spreadText(Catalog(s, d).documents), 5, 0.5)),
      Some(MinHashDedup.verifiedPairsOracle(5, 0.5))),

    // blocked n-gram Jaccard near-dup pairs with the MinHash-band
    // prefilter bounding the exact-intersect volume (the scale form)
    "d4_ngram_jaccard" -> (
      ((s: SparkSession, d: String) =>
        NgramJaccard.pairsBanded(CorpusPipeline.spreadText(Catalog(s, d).documents), 5, 0.3)),
      Some(NgramJaccard.bandedOracle(5, 0.3))),

    // the exhaustive (no-banding) form stays gated too — correctness-only,
    // excluded from the bench set (its all-pairs intersect volume is the
    // cost pairsBanded exists to avoid)
    "d4b_ngram_exhaustive" -> (
      ((s: SparkSession, d: String) => NgramJaccard.pairs(Catalog(s, d).documents, 5, 0.3)),
      Some(NgramJaccard.oracle(5, 0.3))),

    // SimHash fingerprints (64-bit, portable bit arithmetic)
    "d5_simhash" -> (
      ((s: SparkSession, d: String) => SimHash.fingerprints(Catalog(s, d).documents)),
      Some(SimHash.fingerprintsOracle())),

    // the wide-lane (30-bit, million-token-doc) SimHash form, oracle-
    // gated at its own lane geometry: correctness-only like d4b (the
    // shipped path is the native expression d5 gates; this gates the
    // lane-packed arithmetic the 100-TB long-doc variant runs on)
    "d5b_simhash_wide" -> (
      ((s: SparkSession, d: String) =>
        SimHash.fingerprintsRelational(Catalog(s, d).documents, 30)),
      Some(SimHash.fingerprintsOracle(30))),

    // SimHash near-dup pairs via block pigeonhole + exact Hamming verify.
    // bucketCap 200, not the default 50: maxHamming=8 means 9 blocks of
    // 7 bits — a 128-value block space — so at sf0.1's 5000 docs the
    // mean bucket occupancy is 39, ratio 0.78 to a cap of 50: inside the
    // measured recall-degradation zone (r20 saturation probe; the lane's
    // guard rejects it, correctly — the old config was silently losing
    // ~5-15% of reachable pairs at sf0.1 with the oracle blind to it
    // because it replays the identical cap). Cap 200 puts the gate at
    // ratio 0.2, the healthy regime; the oracle applies the same cap.
    "d6_simhash_pairs" -> (
      ((s: SparkSession, d: String) => SimHash.pairs(Catalog(s, d).documents, 8, 200)),
      Some(SimHash.pairsOracle(8, 200))),

    // embedding near-dup pairs, exact-decimal cosine
    "d7_embedding_dups" -> (embeddingDups _, Some(embeddingDupsOracle)),

    // near-dup clustering: connected components over minhash-verified
    // pairs (iterative min-label propagation; recursive-CTE oracle)
    "d8_dup_clusters" -> (
      ((s: SparkSession, d: String) => {
        val docs = CorpusPipeline.spreadText(Catalog(s, d).documents)
        DedupClusters.clusters(docs, MinHashDedup.verifiedPairs(docs, 5, 0.5))
      }),
      Some(DedupClusters.clustersOracle(MinHashDedup.verifiedPairsOracle(5, 0.5)))),

    // benchmark decontamination: flag corpus docs sharing any word
    // 8-gram with the "eval suite" (doc_id % 50 == 0 plays the
    // benchmark); the bench gram set broadcasts, the corpus probe is one
    // map-side semi-join pass
    "d9_decontaminate" -> (
      ((s: SparkSession, d: String) => {
        val docs = Catalog(s, d).documents
        Decontaminate.flags(
          docs.filter(pmod(col("doc_id"), lit(50)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(50)) === 0), 8)
      }),
      Some(Decontaminate.flagsOracle(8, "doc_id % 50 = 0"))),

    // incremental dedup: an arriving batch (md5 bucket >= 80) checked
    // against the standing corpus (bucket < 80) — cross pairs only, the
    // daily-ingest shape that never re-pairs the existing index
    "d12_incremental_dedup" -> (
      ((s: SparkSession, d: String) => {
        val docs = CorpusPipeline.spreadText(Catalog(s, d).documents)
        val bucket = TextStats.docIdBucketCol(100)
        MinHashDedup.crossPairs(
          docs.filter(bucket < 80), docs.filter(bucket >= 80), 5, 0.5)
      }),
      Some(MinHashDedup.crossPairsOracle(5, 0.5, 80))),

    // cross-document substring (span) dedup: grid-window rolling hashes,
    // single hash-bucket shuffle (digests on the wire, never span text),
    // stop-bucket cap, exact-substring verify on the capped pair set
    "d10_span_dedup" -> (
      ((s: SparkSession, d: String) =>
        SpanDedup.spanPairs(CorpusPipeline.spreadText(Catalog(s, d).documents))),
      Some(SpanDedup.spanPairsOracle())),

    // span REMOVAL (the act half of d10's detect): duplicated spans
    // stripped from every doc but the lexicographically-first holder,
    // overlaps merged per doc, surviving text reconstructed by one
    // per-row fold — full corpus out, untouched docs pass through
    "d11_span_removal" -> (
      ((s: SparkSession, d: String) =>
        SpanDedup.removeSpans(CorpusPipeline.spreadText(Catalog(s, d).documents))),
      Some(SpanDedup.removeSpansOracle())),

    // containment similarity join (prefix filter + exact intersect):
    // doc-quoted-inside-doc detection, the asymmetric case Jaccard
    // misses — candidates only from each doc's rarest-gram prefix
    "d14_containment" -> (
      ((s: SparkSession, d: String) =>
        ContainmentJoin.pairs(Catalog(s, d).documents)),
      Some(ContainmentJoin.pairsOracle())),

    // edit-distance similarity join (PassJoin segment blocking +
    // capped buckets + exact levenshtein verify) — typo-class near-dup
    "d13_fuzzy_join" -> (
      ((s: SparkSession, d: String) =>
        FuzzyJoin.editDistancePairs(Catalog(s, d).documents)),
      Some(FuzzyJoin.editDistancePairsOracle())),

    // brute-force ANN top-5 (the exactness baseline)
    "s1_ann_brute" -> (annBruteForce _, Some(annBruteOracle)),

    // sign-LSH bucketed ANN (scale path) — fully SQL-replayable since the
    // hyperplanes derive from md5 parity, so it is hash-gated end to end
    "s2_ann_lsh" -> (
      ((s: SparkSession, d: String) => {
        val e = Catalog(s, d).embeddings
        AnnLsh.topK(e, e.filter(col("vec_id") < 10), 5)
      }),
      Some(AnnLsh.topKOracle(5, 10))),

    // IVF-cell ANN (second scale path), FITTED cells — hash-gated end to
    // end: the clustering fit is the deterministic integer-grid Lloyd
    // (fixed iterations, init = smallest vec_ids), which the oracle
    // replays as an unrolled cent0..centT CTE chain — the same
    // make-the-fit-replayable move as PageRank/LabelPropagation, applied
    // to k-means. (AnnIvf.topK keeps the ML KMeans fit as the
    // statistically-stronger API; its recall floor is pinned in ExtSpec.)
    "s3_ann_ivf" -> (
      ((s: SparkSession, d: String) => {
        val e = Catalog(s, d).embeddings
        AnnIvf.topKLloyd(e, e.filter(col("vec_id") < 10), 5)
      }),
      Some(AnnIvf.lloydTopKOracle(5, 10))),

    // recall@5 of LSH vs brute force, per query, both sides SQL-replayed
    "s4_ann_recall" -> (annLshRecall _, Some(annLshRecallOracle)),

    // IVF path with fixed (SQL-replayable) centroids: hash-gates the
    // assign/probe/rescore/rank machinery that s3 runs under fitted cells
    "s5_ann_ivf_fixed" -> (
      ((s: SparkSession, d: String) => {
        val e = Catalog(s, d).embeddings
        AnnIvf.topKWith(e, e.filter(col("vec_id") < 10), 5, AnnIvf.fixedCentroids(e, 16))
      }),
      Some(AnnIvf.fixedTopKOracle(5, 10))),

    // FILTERED ANN (the production hybrid query: metadata predicate +
    // vector similarity): pre-filter semantics — the label predicate
    // restricts the CANDIDATE set before scoring, so top-k is over the
    // matching subset, not a post-filtered (and possibly short) top-k
    // of the full search. Centroids stay the full-corpus fixed
    // convention (partition layout is filter-independent); the filter
    // prunes the assigned side before the probe join
    "s8_ann_filtered" -> (
      ((s: SparkSession, d: String) => {
        val e = Catalog(s, d).embeddings
        AnnIvf.topKWith(e.filter(col("label") <= 2), e.filter(col("vec_id") < 10), 5,
          AnnIvf.fixedCentroids(e, 16))
      }),
      Some(AnnIvf.fixedTopKOracle(5, 10,
        candWhere = "a.cid IN (SELECT vec_id FROM embeddings WHERE label <= 2 AND len(embedding) = 64)"))),

    // product-quantization ANN (third scale path): 32x-compressed codes,
    // integer ADC scan, exact rescore of the k survivors — hash-gated
    // end to end under the fixed (SQL-replayable) codebooks
    "s6_ann_pq" -> (
      ((s: SparkSession, d: String) => {
        val e = Catalog(s, d).embeddings
        AnnPq.topK(e, e.filter(col("vec_id") < 10), 5, AnnPq.fixedCodebooks(e))
      }),
      Some(AnnPq.topKOracle(5, 10))),

    // IVF x PQ composition — cells bound WHICH candidates are scanned,
    // codes bound what each COSTS; fully hash-gated under the fixed
    // centroid + codebook conventions (fitted variants change the
    // statistics, not the plan)
    "s7_ann_ivfpq" -> (
      ((s: SparkSession, d: String) => {
        val e = Catalog(s, d).embeddings
        AnnPq.ivfPqTopK(e, e.filter(col("vec_id") < 10), 5,
          AnnIvf.fixedCentroids(e, 16), AnnPq.fixedCodebooks(e))
      }),
      Some(AnnPq.ivfPqTopKOracle(5, 10))),

    // token counting (whitespace + BPE-ish)
    "t1_token_counts" -> (
      ((s: SparkSession, d: String) => TextStats.tokenCounts(Catalog(s, d).documents)),
      Some(TextStats.tokenCountsOracle)),

    // quality scoring
    "t2_quality" -> (
      ((s: SparkSession, d: String) => TextStats.qualityScore(Catalog(s, d).documents)),
      Some(TextStats.qualityOracle)),

    // rolling-hash (Karp-Rabin) document fingerprints — native codegen'd
    // Catalyst expression, SQL-replayed by the oracle via list_reduce
    "t4_fingerprint" -> (
      ((s: SparkSession, d: String) => Catalog(s, d).documents
        .select(
          col("doc_id"),
          graft.functions.RollingHash(col("text")).as("fingerprint"),
          graft.functions.RollingHash(substring(col("text"), 1, 64)).as("prefix_fingerprint"))),
      Some(s"""SELECT doc_id,
              |  ${graft.functions.RollingHash.oracleSql("text")} AS fingerprint,
              |  ${graft.functions.RollingHash.oracleSql("substr(text, 1, 64)")} AS prefix_fingerprint
              |FROM documents""".stripMargin)),

    // marker-word language ID
    "t3_langid" -> (
      ((s: SparkSession, d: String) => TextStats.langId(Catalog(s, d).documents)),
      Some(TextStats.langIdOracle)),

    // deterministic content-stable train/val/test split (md5 buckets)
    "t5_hash_split" -> (
      ((s: SparkSession, d: String) => TextStats.hashSplit(Catalog(s, d).documents, 80, 10)),
      Some(TextStats.hashSplitOracle(80, 10))),

    // Gopher-style intra-doc repetition signal (dup word-3-gram ratio)
    "t6_repetition" -> (
      ((s: SparkSession, d: String) => TextStats.repetition(Catalog(s, d).documents, 3, 0.2)),
      Some(TextStats.repetitionOracle(3, 0.2))),

    // PII redaction: the corpus text carries no PII, so the query plants
    // deterministic emails/phones per doc (replayed by the oracle) and
    // the redactor must mask exactly those spans
    "t7_pii_redact" -> (
      ((s: SparkSession, d: String) => {
        val docs = Catalog(s, d).documents
        TextStats.redactPii(docs.select(
          col("doc_id"),
          concat(col("text"),
            lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com or +1-555-"),
            lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")).as("text")))
      }),
      Some(s"""WITH pii AS (SELECT doc_id,
              |  text || ' contact user' || doc_id || '@example.com or +1-555-' ||
              |  lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
              |FROM documents)
              |${TextStats.redactPiiOracle("pii")}""".stripMargin)),

    // deterministic stratified take: seeded-md5 top-n per language —
    // balanced eval subsets; rank<=n plans as WindowGroupLimit (pinned)
    "t11_stratified_take" -> (
      ((s: SparkSession, d: String) =>
        TextStats.stratifiedTake(Catalog(s, d).documents, "lang", 25, "graft-r9")),
      Some(TextStats.stratifiedTakeOracle("lang", 25, "graft-r9"))),

    // model-based quality classifier: linear logit over the t2 feature
    // family with embedded fixed weights (the fastText-filter shape),
    // exact by rational-arithmetic-only scoring — no sigmoid on the wire
    "t10_quality_model" -> (
      ((s: SparkSession, d: String) => TextStats.modelQuality(Catalog(s, d).documents)),
      Some(TextStats.modelQualityOracle)),

    // count-min sketch (sublinear-memory frequency structure) built and
    // point-queried end to end — md5-seeded cell hashes make the whole
    // sketch engine-replayable; the spec pins estimate >= exact
    "t12_countmin" -> (
      ((s: SparkSession, d: String) => TextStats.countMinEstimates(Catalog(s, d).documents)),
      Some(TextStats.countMinOracle())),

    // TF-IDF top terms per doc: the log-free rational score preserves
    // the tf*log(N/df) ranking (log is monotone in N/df) while staying
    // bit-exact across engines; per-doc top-k plans as WindowGroupLimit
    "t13_tfidf" -> (
      ((s: SparkSession, d: String) => TextStats.tfidfTopTerms(Catalog(s, d).documents)),
      Some(TextStats.tfidfOracle(5))),

    // SQL-replayable Bloom filter: standing corpus (buckets < 80) sets
    // md5-lane bits, the arriving batch probes membership on 5-token
    // prefix digests; bloom_hit vs exact_hit exposes the one-sided
    // error contract in the gated rows (CorpusOpsSpec pins it)
    "t14_bloom" -> (
      ((s: SparkSession, d: String) => BloomPrune.docMembership(Catalog(s, d).documents)),
      Some(BloomPrune.docMembershipOracle())),

    // engine-replayable HyperLogLog distinct-count sketch over the
    // (user, day) activity keys: exact integer register math, one IEEE
    // division for the estimate; exact distinct joins in for the
    // accuracy audit (ExtSpec pins the error band + register merge)
    "t15_hll" -> (
      ((s: SparkSession, d: String) => {
        val keys = Catalog(s, d).events.select(
          concat(col("user_id").cast("string"), lit(":"),
            col("ts").cast("date").cast("string")).as("key"))
        HyperLogLog.estimate(keys, "key")
          .crossJoin(broadcast(keys.agg(countDistinct(col("key")).as("exact_distinct"))))
      }),
      Some("""WITH keys AS (
             |  SELECT CAST(user_id AS VARCHAR) || ':' ||
             |         CAST(CAST(ts AS DATE) AS VARCHAR) AS key
             |  FROM events),
             |""".stripMargin + HyperLogLog.estimateSqlTail)),

    // curriculum ordering: t10's quality logit banded into tertile
    // tiers + seeded md5 shuffle within tier — sort by order_key
    // replays the curriculum (c5/c6's order-key contract composed
    // with model-based quality); per-row only, zero-Exchange pinned
    "c7_curriculum" -> (
      ((s: SparkSession, d: String) =>
        TextStats.curriculumOrder(Catalog(s, d).documents, "graft-r9")),
      Some(TextStats.curriculumOrderOracle("graft-r9"))),

    // categorical drift monitor: two-sample chi-square over the lang
    // distribution between md5 halves — all-IEEE on exact counts (no
    // libm, unlike PSI/KL), every cell pinned by the gate
    "t16_chi2_drift" -> (
      ((s: SparkSession, d: String) => TextStats.chi2Drift(Catalog(s, d).documents)),
      Some(TextStats.chi2DriftOracle)),

    // numeric drift monitor: two-sample KS over n_chars between md5
    // halves — exact integer ECDF-gap numerators through the scale-safe
    // two-level prefix sum (no single-task global window)
    "t17_ks_drift" -> (
      ((s: SparkSession, d: String) => TextStats.ksDrift(Catalog(s, d).documents)),
      Some(TextStats.ksDriftOracle)),

    // corpus vocabulary: token frequencies, deterministic top-K
    "t8_vocab" -> (
      ((s: SparkSession, d: String) => TextStats.vocab(Catalog(s, d).documents, 500)),
      Some(TextStats.vocabOracle(500))),

    // sequence packing: docs -> fixed-token-budget training bins, packed
    // within md5 shards (parallel, reproducible layout)
    "c4_pack_sequences" -> (
      ((s: SparkSession, d: String) =>
        TextStats.packSequences(Catalog(s, d).documents, 500, 16)),
      Some(TextStats.packSequencesOracle(500, 16))),

    // deterministic domain mixing: per-source keep-rates over md5 buckets
    "c3_mixture_sample" -> (
      ((s: SparkSession, d: String) => TextStats.sampleBySource(
        Catalog(s, d).documents, Map("src0" -> 100, "src1" -> 25, "src2" -> 50), 75)),
      Some(TextStats.sampleBySourceOracle(
        Map("src0" -> 100, "src1" -> 25, "src2" -> 50), 75))),

    // tokenizer-faithful token counts: native greedy longest-match over
    // the embedded merges vocab, replayed by a recursive-CTE oracle
    "t9_bpe_tokens" -> (
      ((s: SparkSession, d: String) => TextStats.bpeTokenCounts(Catalog(s, d).documents)),
      Some(TextStats.bpeTokenCountsOracle)),

    // c4's packing budgeted by t9's tokenizer-faithful counts instead of
    // whitespace words
    "c4b_pack_bpe" -> (
      ((s: SparkSession, d: String) => TextStats.packSequencesBy(
        Catalog(s, d).documents, 500, 16,
        graft.functions.BpeTokenCount.of(col("text")))),
      Some(TextStats.packSequencesBpeOracle(500, 16))),

    // the END of the training-data pipeline: c5's mixture materialized
    // to range-sharded parquet on the seeded order_key (each file one
    // slice of the reproducible global shuffle order, sorted within;
    // filename order IS the training order — WritersSpec pins the
    // per-file disjointness) and read back from the committed files.
    // Content gate = c5's oracle: the write/read cycle must be lossless
    "c6_training_write" -> (
      ((s: SparkSession, d: String) => {
        val mix = TextStats.mixtureEpochs(
          Catalog(s, d).documents,
          Map("src0" -> 300, "src1" -> 230, "src2" -> 50, "src3" -> 0), 100,
          "graft-r9")
        val out = graft.core.Scratch.path("c6_shards")
        graft.sources.Writers.rangeSortedParquet(mix, out, "order_key", 8)
        s.read.parquet(out)
      }),
      Some(TextStats.mixtureEpochsOracle(
        Map("src0" -> 300, "src1" -> 230, "src2" -> 50, "src3" -> 0), 100,
        "graft-r9"))),

    // deterministic mixture with upsampling (epoch repeats > 1x) + the
    // seeded md5 order key for reproducible training-data shuffle order
    "c5_mixture_epochs" -> (
      ((s: SparkSession, d: String) => TextStats.mixtureEpochs(
        Catalog(s, d).documents,
        Map("src0" -> 300, "src1" -> 230, "src2" -> 50, "src3" -> 0), 100,
        "graft-r9")),
      Some(TextStats.mixtureEpochsOracle(
        Map("src0" -> 300, "src1" -> 230, "src2" -> 50, "src3" -> 0), 100,
        "graft-r9"))),

    // multimodal frame sampling (chunk + stride, per-frame fingerprints)
    "mm2_frame_sample" -> (
      ((s: SparkSession, d: String) => Multimodal.sampleFrames(Catalog(s, d).documents, 64, 4)),
      Some(Multimodal.sampleFramesOracle(64, 4))),

    // multimodal payload plumbing with stubbed decode
    "mm1_multimodal" -> (
      ((s: SparkSession, d: String) =>
        Multimodal.decodeFeatures(Multimodal.withPayload(Catalog(s, d).documents)).toDF()),
      Some(Multimodal.oracle)),

    // the REAL decoder, gated (r13 verdict item 5): genuine JDK-encoded
    // PNG/GIF/BMP payloads staged through a parquet binary round trip,
    // decoded by ImageIoDecoder, header facts gated against the DuckDB
    // manifest replay — the stub stops being the only gated path.
    // The staging dir carries a per-invocation nonce and realDecode
    // deletes it after eager materialization: concurrent harness
    // processes on the same sf (bench + correctness) never share a
    // path, and /tmp never accumulates payload files
    "mm3_real_decode" -> (
      ((s: SparkSession, d: String) => {
        val nonce = java.util.UUID.randomUUID().toString.take(8)
        val dir = graft.core.Scratch.path(s"mm3_payloads_$nonce")
        Multimodal.realDecode(Catalog(s, d).documents, dir)
      }),
      Some(Multimodal.realDecodeOracle)),

    // end-to-end corpus curation: quality x language x cluster-dedup
    "c1_corpus_pipeline" -> (
      ((s: SparkSession, d: String) => CorpusPipeline.curate(Catalog(s, d).documents)),
      Some(CorpusPipeline.oracle(0.8, "en", 0.5))),

    // filter-first curation: the production ordering — dedup cost paid
    // only over quality/lang survivors (reps chosen among survivors)
    "c2_corpus_filter_first" -> (
      ((s: SparkSession, d: String) => CorpusPipeline.curateFiltered(Catalog(s, d).documents)),
      Some(CorpusPipeline.filteredOracle(0.8, "en", 0.5))),

    // tumbling-window event aggregate
    "e1_hourly_events" -> (
      ((s: SparkSession, d: String) => Events.hourly(Catalog(s, d).events)),
      Some(Events.hourlyOracle)),

    // sliding 2h/1h windows (overlapping-window aggregate; Expand, not
    // a join; batch==streaming, the streamed twin pinned in StreamingSpec)
    "e11_sliding_windows" -> (
      ((s: SparkSession, d: String) => Events.sliding(Catalog(s, d).events)),
      Some(Events.slidingOracle)),

    // gap sessionization (lag + running sum windows)
    "e2_sessionize" -> (
      ((s: SparkSession, d: String) => Events.sessionize(Catalog(s, d).events, 30)),
      Some(Events.sessionizeOracle(30))),

    // native session_window sessionization (batch/stream-identical form)
    "e3_session_window" -> (
      ((s: SparkSession, d: String) => Events.sessionWindows(Catalog(s, d).events, 30)),
      Some(Events.sessionWindowsOracle(30))),

    // arbitrary stateful streaming (mapGroupsWithState) driven to
    // completion: the update log's final per-user state must equal the
    // batch per-user aggregate (value total on the 1e-4 integer grid so
    // the running sum is arrival-order-independent)
    "e4_stateful_totals" -> (
      ((s: SparkSession, d: String) =>
        graft.streaming.EventStream.runStatefulToCompletion(s, stagedEventsDir(s, d))),
      Some("""SELECT user_id, count(*) AS n_events,
             |  CAST(COALESCE(SUM(CAST(floor(value * 10000) AS BIGINT)), 0) AS DOUBLE) / 10000 AS total_value
             |FROM events GROUP BY user_id""".stripMargin)),

    // stream-stream interval join (view -> purchase attribution): inner
    // joins emit once both sides arrive, so the completed stream equals
    // the batch interval join exactly — no watermark cutoff
    "e6_stream_stream_join" -> (
      ((s: SparkSession, d: String) =>
        graft.streaming.EventStream.runAttributionToCompletion(s, stagedEventsDir(s, d), 30)),
      Some("""SELECT a.user_id,
             |  a.event_id AS view_event_id, b.event_id AS purchase_event_id,
             |  a.ts AS view_ts, b.ts AS purchase_ts
             |FROM events a JOIN events b
             |  ON a.user_id = b.user_id
             | AND a.event_type = 'view' AND b.event_type = 'purchase'
             | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE""".stripMargin)),

    // stream-stream LEFT OUTER interval join: matches emit on arrival
    // (= the batch inner join); a never-matched view null-pads only
    // when the final watermark EVICTS its state — a view young enough
    // to still match a future purchase stays in state unemitted. The
    // oracle replays that eviction cutoff from the data: the global
    // watermark is the MIN of the two inputs' per-side event-time
    // maxima (multipleWatermarkPolicy=min) at 1h delay, ms floor, and
    // a view evicts only once the watermark clears its 30m match bound
    "e12_stream_outer_join" -> (
      ((s: SparkSession, d: String) =>
        graft.streaming.EventStream.runAttributionToCompletion(
          s, stagedEventsDir(s, d), 30, joinType = "left_outer")),
      Some("""WITH mx AS (
             |  SELECT least(
             |    (SELECT epoch_us(max(ts)) // 1000 FROM events WHERE event_type = 'view'),
             |    (SELECT epoch_us(max(ts)) // 1000 FROM events WHERE event_type = 'purchase'))
             |    - 3600000 AS wm_ms),
             |m AS (
             |  SELECT a.user_id,
             |    a.event_id AS view_event_id, b.event_id AS purchase_event_id,
             |    a.ts AS view_ts, b.ts AS purchase_ts
             |  FROM events a JOIN events b
             |    ON a.user_id = b.user_id
             |   AND a.event_type = 'view' AND b.event_type = 'purchase'
             |   AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE),
             |unm AS (
             |  SELECT a.user_id,
             |    a.event_id AS view_event_id, CAST(NULL AS BIGINT) AS purchase_event_id,
             |    a.ts AS view_ts, CAST(NULL AS TIMESTAMP) AS purchase_ts
             |  FROM events a CROSS JOIN mx
             |  WHERE a.event_type = 'view'
             |    AND NOT EXISTS (
             |      SELECT 1 FROM events b
             |      WHERE b.user_id = a.user_id AND b.event_type = 'purchase'
             |        AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE)
             |    AND epoch_us(a.ts) // 1000 + 1800000 < wm_ms)
             |SELECT * FROM m UNION ALL SELECT * FROM unm""".stripMargin)),

    // the production streaming sink: append-mode windowed agg committed
    // to parquet files through a checkpoint (exactly-once file sink),
    // read back from the committed files. Oracle = the batch hourly agg
    // restricted to watermark-closed windows (2h delay, ms-floor wm)
    "e7_stream_file_sink" -> (
      ((s: SparkSession, d: String) =>
        graft.streaming.EventStream.runHourlyToParquet(
          s, stagedEventsDir(s, d), graft.core.Scratch.path("e7_sink"))),
      Some("""SELECT date_trunc('hour', ts) AS hour, event_type,
             |  count(*) AS n_events,
             |  CAST(CAST(SUM(CAST(CASE WHEN value IS NULL OR isnan(value) OR abs(value) > 99999999999999.9 THEN NULL ELSE value END AS DECIMAL(18,4))) AS VARCHAR(64)) AS DOUBLE) AS total_value
             |FROM events
             |GROUP BY 1, 2
             |HAVING epoch_us(date_trunc('hour', ts) + INTERVAL 1 HOUR) // 1000
             |     <= (SELECT epoch_us(max(ts)) // 1000 - 7200000 FROM events)""".stripMargin)),

    // arbitrary stateful streaming #2 (flatMapGroupsWithState, Append +
    // EventTimeTimeout): gap sessions emitted exactly once when the
    // watermark closes them. Oracle = the batch sessionize SQL (e2's
    // grouping, bit-for-bit) filtered to sessions the final watermark
    // (max event time at delay 0, ms floor) closed — sessions ending
    // within one gap of the stream's end stay open in state by design
    "e5_stateful_sessions" -> (
      ((s: SparkSession, d: String) =>
        graft.streaming.EventStream.runStatefulSessionsToCompletion(s, stagedEventsDir(s, d), 30)),
      Some(s"""WITH marked AS (
              |  SELECT user_id, event_id, ts, value,
              |    CASE WHEN lag(ts) OVER w IS NULL
              |           OR date_diff('second', lag(ts) OVER w, ts) > ${30 * 60}
              |         THEN 1 ELSE 0 END AS new_session
              |  FROM events
              |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
              |assigned AS (
              |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
              |  FROM marked),
              |sess AS (
              |  SELECT user_id,
              |    min(ts) AS session_start, max(ts) AS session_end,
              |    count(*) AS n_events,
              |    CAST(COALESCE(SUM(CAST(floor(value * 10000) AS BIGINT)), 0) AS DOUBLE) / 10000 AS session_value
              |  FROM assigned GROUP BY user_id, session_seq)
              |SELECT user_id, session_start, session_end, n_events, session_value
              |FROM sess
              |WHERE epoch_us(session_end) // 1000 + ${30 * 60000L}
              |    < (SELECT epoch_us(max(ts)) // 1000 FROM events)""".stripMargin)),

    // streaming exact dedup run to completion over a 2-file stream with
    // PLANTED duplicate rows (the bucket>=80 slice re-shipped): exactly
    // one row per distinct digest must survive — batch DISTINCT on the
    // digest. The gate is digest-level because WHICH copy survives is
    // arrival-order-dependent (sf0.1 even carries 8 natural same-text
    // doc_id pairs); production dedup keys on the digest, and the
    // digest SET is order-independent. The bounded-state variant
    // (dropDuplicatesWithinWatermark) is pinned separately in
    // StreamingSpec with explicit micro-batches
    "e8_stream_dedup" -> (
      ((s: SparkSession, d: String) =>
        graft.streaming.DocStream.runDedupToCompletion(s, stagedDupDocsDir(s, d))
          .select(col("digest"))),
      Some("SELECT DISTINCT md5(text) AS digest FROM documents")),

    // stream-static join run to completion: per-batch broadcast join of
    // the event stream to the static customer dim, rolled up by nation
    "e9_stream_static_join" -> (
      ((s: SparkSession, d: String) =>
        graft.streaming.EventStream.runStreamStaticToCompletion(
          s, stagedEventsDir(s, d), Catalog(s, d).customer)),
      Some("""SELECT c_nationkey, count(*) AS n_purchases,
             |  CAST(CAST(SUM(CAST(CASE WHEN value IS NULL OR isnan(value) OR abs(value) > 99999999999999.9 THEN NULL ELSE value END AS DECIMAL(18,4))) AS VARCHAR(64)) AS DOUBLE) AS total_value
             |FROM events JOIN customer ON user_id = c_custkey
             |WHERE event_type = 'purchase'
             |GROUP BY c_nationkey""".stripMargin)),

    // checkpointed restart: stop after the older half, resume a NEW
    // query from the same checkpoint as the newer half arrives —
    // exactly-once across the restart is what the hash proves (oracle
    // = e7's one-shot closed-window batch aggregate)
    "e10_stream_restart" -> (
      ((s: SparkSession, d: String) => {
        val (a, b) = stagedSplitEventFiles(s, d)
        graft.streaming.EventStream.runHourlyRestart(s, a, b, graft.core.Scratch.path("e10_scratch"))
      }),
      Some("""SELECT date_trunc('hour', ts) AS hour, event_type,
             |  count(*) AS n_events,
             |  CAST(CAST(SUM(CAST(CASE WHEN value IS NULL OR isnan(value) OR abs(value) > 99999999999999.9 THEN NULL ELSE value END AS DECIMAL(18,4))) AS VARCHAR(64)) AS DOUBLE) AS total_value
             |FROM events
             |GROUP BY 1, 2
             |HAVING epoch_us(date_trunc('hour', ts) + INTERVAL 1 HOUR) // 1000
             |     <= (SELECT epoch_us(max(ts)) // 1000 - 7200000 FROM events)""".stripMargin))
  )
}
