package graft.ext

import graft.core.Materialize
import graft.functions.Md5Prefix
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Character n-gram Jaccard near-duplicate detection.
  *
  * North-star dedup operator: exact set-similarity over character
  * shingles, with *blocking* to bound the pair space — candidate pairs
  * are generated only within a block (here: same `lang`), the standard
  * trade of recall-across-blocks for a join that scales. The oracle uses
  * identical blocking, so results match exactly.
  *
  * Scale: the pair join is the quadratic hot spot; per-block pair count
  * is O(B^2). At corpus scale this operator is the *verifier* stage after
  * [[MinHashDedup]] candidate generation (bounded pairs), not a
  * free-standing all-pairs scan.
  */
object NgramJaccard {

  /** Distinct character n-grams of a string column. Guarded for texts
    * shorter than n: Spark's `sequence(1, 0)` counts *down* (`[1, 0]`),
    * unlike SQL `range(1, 1)` which is empty — without the guard a
    * too-short doc would emit bogus truncated grams.
    */
  def charNgrams(text: Column, n: Int): Column =
    when(length(text) < n, array().cast("array<string>"))
      .otherwise(array_distinct(transform(
        sequence(lit(1), length(text) - (n - 1)),
        i => text.substr(i, lit(n)))))

  /** Distinct n-grams hashed to 48-bit longs (md5 hex prefix — shared
    * verbatim with the DuckDB oracle). Set ops on longs are ~10x cheaper
    * than on short strings, and 48 bits make collisions negligible (and,
    * because the oracle hashes identically, semantically harmless).
    *
    * This HOF formulation is the executable specification of
    * [[graft.functions.HashedNgrams]] (the shipped native expression —
    * `transform` lambdas are CodegenFallback, interpreting md5 per
    * element); `ShingleHashesSpec` pins native == HOF.
    */
  def hashedNgrams(text: Column, n: Int): Column =
    transform(charNgrams(text, n), g => Md5Prefix.of(g))

  /** Oracle fragment for [[hashedNgrams]]. */
  def hashedNgramsSql(n: Int): String =
    s"""list_transform(
       |    list_distinct(list_transform(range(1, greatest(length(text) - ${n - 1}, 0) + 1),
       |      i -> substr(text, i, $n))),
       |    g -> ${Md5Prefix.sql("g")})""".stripMargin

  /** Pairs (doc_a < doc_b) within the same (lang, length-bucket) block
    * whose distinct n-gram Jaccard >= `threshold`.
    *
    * Two exact pre-filters bound the quadratic core:
    *  - blocking on (lang, floor(n_chars/bucketWidth)) — near-dups at
    *    these thresholds have near-equal lengths, so same-bucket is the
    *    standard recall/cost trade (the oracle blocks identically);
    *  - the size bound |A∩B| <= min(|A|,|B|) implies J >= t requires
    *    min >= t * max, checked on precomputed set sizes *before* paying
    *    for `array_intersect`.
    */
  def pairs(documents: DataFrame, n: Int = 5, threshold: Double = 0.3,
            bucketWidth: Int = 50): DataFrame = Materialize.checkpointed { scope =>
    // cached: consumed by both sides of the self-join below — without a
    // materialization point the gram pipeline runs twice. Grams come
    // pre-sorted from the native expression (one loop per doc; the
    // transform-lambda form interprets md5 per element).
    val g = scope.cache(documents.select(
      col("doc_id"), col("lang"),
      floor(col("n_chars") / bucketWidth).as("len_bucket"),
      graft.functions.HashedNgrams.of(col("text"), n).as("grams"))
      .withColumn("n_grams", size(col("grams")))
      // a document with no n-grams (null/empty/shorter-than-n text) has
      // no n-gram similarity — excluded, or the all-empty pair divides
      // 0/0 at the jaccard (ANSI abort; the r13 hostile probe). Oracle
      // mirrors with the same n_grams > 0 predicate.
      .filter(col("n_grams") > 0))
    val a = g.select(col("doc_id").as("doc_a"), col("lang"), col("len_bucket"),
      col("grams").as("grams_a"), col("n_grams").as("na"))
    val b = g.select(col("doc_id").as("doc_b"), col("lang"), col("len_bucket"),
      col("grams").as("grams_b"), col("n_grams").as("nb"))
    a.join(b, Seq("lang", "len_bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(least(col("na"), col("nb")) >= lit(threshold) * greatest(col("na"), col("nb")))
      // graft-native codegen'd merge scan over the pre-sorted gram arrays
      .withColumn("n_inter",
        graft.functions.SortedIntersectCount.ofSorted(col("grams_a"), col("grams_b")))
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("na") + col("nb") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** [[pairs]] with a MinHash-band prefilter on the candidate set: a pair
    * must share (lang, length-bucket) AND collide in at least one LSH
    * band of its MinHash signature before the exact intersect is paid.
    *
    * This is the composition the scale note above prescribes — banding
    * bounds the quadratic verify volume, the exact Jaccard then decides —
    * fused into one operator. The trade is recall at the low end of the
    * threshold: a J≈0.3 pair collides in a 4-row band with probability
    * ~1-(1-0.3^4)^16 ≈ 12%, so this variant finds *confidently similar*
    * pairs cheaply rather than exhaustively enumerating borderline ones
    * ([[pairs]] stays the exhaustive form). The oracle replays banding,
    * blocking, cap, and verify identically, so the gate is exact on the
    * composed semantics.
    *
    * Plan shape: signature + block columns in ONE narrow scan (native
    * [[graft.functions.MinHashSignature]]), bucket-collect pair gen
    * ([[MinHashDedup.pairsFromBuckets]] with the stop-bucket cap), then
    * the gram join + codegen merge-intersect on the surviving pairs only.
    *
    * The cap = 50 default carries the same measured basis as
    * [[MinHashDedup.candidatePairs]] — this lane IS that banding
    * (identical band geometry and bucket topology, sub-keyed by
    * (lang, len_bucket)), so the template-family skew sweep in
    * `bench_records/r19_bucketcap_probe.json` applies verbatim: recall
    * under the cap degrades only for duplicates inside template families
    * larger than ~cap/0.8, with a measured ~0.88+ floor from the
    * cap-immune discriminative bands.
    */
  def pairsBanded(documents: DataFrame, n: Int = 5, threshold: Double = 0.3,
                  bucketWidth: Int = 50,
                  bucketCap: Int = 50): DataFrame = Materialize.checkpointed { scope =>
    import MinHashDedup.{bandsCount, rowsPerBand, numHashes, P}
    val sigs = documents
      .filter(length(col("text")) >= n)
      .select(col("doc_id"), col("lang"),
        floor(col("n_chars") / bucketWidth).as("len_bucket"),
        graft.functions.MinHashSignature.of(col("text"), n, numHashes, P).as("sig"))
    val bandKeys = (0 until bandsCount).map { b =>
      concat_ws(",",
        (0 until rowsPerBand).map(r => element_at(col("sig"), b * rowsPerBand + r + 1)): _*)
    }
    val banded = sigs.select(col("doc_id"), col("lang"), col("len_bucket"),
      posexplode(array(bandKeys: _*)).as(Seq("band", "band_key")))
    val cand = MinHashDedup.pairsFromBuckets(
      banded, struct(col("lang"), col("len_bucket"), col("band")), col("band_key"), bucketCap)
    // cached: joined twice (doc_a / doc_b sides)
    val g = scope.cache(documents.select(
      col("doc_id"), graft.functions.HashedNgrams.of(col("text"), n).as("grams"))
      .withColumn("n_grams", size(col("grams"))))
    cand
      .join(g.select(col("doc_id").as("doc_a"), col("grams").as("grams_a"),
        col("n_grams").as("na")), "doc_a")
      .join(g.select(col("doc_id").as("doc_b"), col("grams").as("grams_b"),
        col("n_grams").as("nb")), "doc_b")
      .filter(least(col("na"), col("nb")) >= lit(threshold) * greatest(col("na"), col("nb")))
      .withColumn("n_inter",
        graft.functions.SortedIntersectCount.ofSorted(col("grams_a"), col("grams_b")))
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("na") + col("nb") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** DuckDB twin of [[pairsBanded]]: identical signatures, banding,
    * blocking, stop-bucket cap, and exact verify.
    */
  def bandedOracle(n: Int, threshold: Double, bucketWidth: Int = 50,
                   bucketCap: Int = 50): String = {
    import MinHashDedup.{bandsCount, rowsPerBand}
    val bandSelects = (0 until bandsCount).map { b =>
      val key = (0 until rowsPerBand).map(r => s"sig_${b * rowsPerBand + r}").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, $key AS band_key FROM sigs"
    }.mkString(" UNION ALL ")
    s"""WITH ${MinHashDedup.oracleSigs(n, "documents")},
       |blk AS (SELECT doc_id, lang, CAST(floor(n_chars / $bucketWidth) AS BIGINT) AS len_bucket
       |  FROM documents),
       |banded0 AS (SELECT bb.doc_id, blk.lang, blk.len_bucket, bb.band, bb.band_key
       |  FROM ($bandSelects) bb JOIN blk ON bb.doc_id = blk.doc_id),
       |counted AS (
       |  SELECT doc_id, lang, len_bucket, band, band_key,
       |    count(*) OVER (PARTITION BY lang, len_bucket, band, band_key) AS bucket_n
       |  FROM banded0),
       |banded AS (SELECT doc_id, lang, len_bucket, band, band_key FROM counted
       |  WHERE bucket_n <= $bucketCap),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b
       |    ON a.lang = b.lang AND a.len_bucket = b.len_bucket
       |   AND a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |g AS (SELECT doc_id, ${hashedNgramsSql(n)} AS grams FROM documents),
       |p AS (SELECT doc_a, doc_b,
       |    len(list_intersect(ga.grams, gb.grams)) AS n_inter,
       |    len(ga.grams) AS na, len(gb.grams) AS nb
       |  FROM cand JOIN g ga ON cand.doc_a = ga.doc_id JOIN g gb ON cand.doc_b = gb.doc_id
       |  WHERE least(len(ga.grams), len(gb.grams)) >= $threshold * greatest(len(ga.grams), len(gb.grams)))
       |SELECT doc_a, doc_b, CAST(n_inter AS DOUBLE) / (na + nb - n_inter) AS jaccard
       |FROM p WHERE CAST(n_inter AS DOUBLE) / (na + nb - n_inter) >= $threshold""".stripMargin
  }

  def oracle(n: Int, threshold: Double, bucketWidth: Int = 50): String =
    s"""WITH g0 AS (SELECT doc_id, lang, CAST(floor(n_chars / $bucketWidth) AS BIGINT) AS len_bucket,
       |  ${hashedNgramsSql(n)} AS grams
       |  FROM documents),
       |g AS (SELECT * FROM g0 WHERE len(grams) > 0),
       |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    len(list_intersect(a.grams, b.grams)) AS n_inter,
       |    len(a.grams) AS na, len(b.grams) AS nb
       |  FROM g a JOIN g b ON a.lang = b.lang AND a.len_bucket = b.len_bucket
       |    AND a.doc_id < b.doc_id
       |    AND least(len(a.grams), len(b.grams)) >= $threshold * greatest(len(a.grams), len(b.grams)))
       |SELECT doc_a, doc_b,
       |  CAST(n_inter AS DOUBLE) / (na + nb - n_inter) AS jaccard
       |FROM p WHERE CAST(n_inter AS DOUBLE) / (na + nb - n_inter) >= $threshold""".stripMargin
}
