package graft.ext

import graft.core.Materialize
import graft.functions.Md5Prefix
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + LSH banding near-duplicate detection.
  *
  * The classic corpus-dedup pipeline: 5-char shingles → k independent
  * min-hashes (signature) → band the signature → equi-join on band keys
  * for candidates → verify candidates with exact shingle Jaccard.
  *
  * Hash family: one md5 per shingle, split into two 48-bit integers
  * (a, b), with the k functions derived as `h_j = (a + j*b) mod P`
  * (Kirsch-Mitzenmacher double hashing) — 64 hash values for the price
  * of one digest, which is what makes the signature pass scan-bound
  * instead of hash-bound. md5 (not xxhash64) because the DuckDB oracle
  * shares it; both engines parse the hex prefix identically.
  * Everything is deterministic: no RNG, no model state.
  *
  * Scale: shingling is a projection; the signature aggregate shuffles
  * (doc_id, 64 longs) — never the text. Banding turns the quadratic
  * all-pairs problem into an equi-join whose fan-out is bucket-bounded;
  * hot buckets (boilerplate-heavy corpora) are handled by AQE skew
  * splitting. The verify stage re-reads only candidate-pair shingle sets.
  */
object MinHashDedup {

  val numHashes   = 64
  val bandsCount  = 16
  val rowsPerBand = numHashes / bandsCount
  /** Modulus for the double-hash family (prime, ~2^40: j*b stays far
    * under 2^63).
    */
  val P = 999999999989L

  /** MinHash signatures: one row per doc, columns sig_0..sig_63 (longs).
    *
    * One narrow pass through the native
    * [[graft.functions.MinHashSignature]] expression — no shingle
    * explode, no (doc_id, hash) shuffle, no 64-way min aggregate; the
    * whole signature folds per row. Docs shorter than `n` have no
    * shingles and are filtered, exactly as the explode formulation
    * dropped them (the oracle's `unnest` of an empty list does too).
    */
  def signatures(documents: DataFrame, n: Int = 5): DataFrame =
    documents
      .filter(length(col("text")) >= n)
      .select(col("doc_id"),
        graft.functions.MinHashSignature.of(col("text"), n, numHashes, P).as("sig"))
      .select(col("doc_id") +:
        (0 until numHashes).map(j => element_at(col("sig"), j + 1).as(s"sig_$j")): _*)

  /** Signatures flattened to a single string column (stable to compare). */
  def signatureStrings(documents: DataFrame, n: Int = 5): DataFrame =
    signatures(documents, n).select(
      col("doc_id"),
      concat_ws(",", (0 until numHashes).map(j => col(s"sig_$j")): _*).as("signature"))

  /** LSH candidate pairs: docs sharing any band key.
    *
    * Stop-bucket cap: a band key shared by thousands of docs (boilerplate
    * corpora) contributes k^2 candidate pairs and almost no dedup signal —
    * drop buckets above the cap before self-joining, exactly as
    * [[SimHash.pairs]] does for its block buckets (standard LSH practice;
    * the oracle applies the identical cap).
    *
    * Cap = 50 CONFIRMED by measurement under adversarial template-family
    * skew (`bench_records/r19_bucketcap_probe.json`): recall loss under
    * the cap is step-structured by family size — a duplicate inside a
    * template family of g docs is found via the family-hot buckets iff
    * ~0.8·g ≤ cap, else via cap-immune discriminative bands (~0.88+
    * floor set by the 16×4 band geometry; cap=∞ reads exactly 1.0, at
    * 69× the candidates and quadratic growth in g). 50→100 bought +2.8
    * recall points for 3.8× the candidates at 212k docs. When a corpus's
    * duplicate mass lives in LARGE template families, tune with
    * [[candidateBucketHistogram]]: raise cap toward 0.8× the family
    * sizes that matter, paying C(cap,2) per hot bucket.
    */
  def candidatePairs(documents: DataFrame, n: Int = 5, bucketCap: Int = 50): DataFrame =
    pairsFromBuckets(bandedSignatures(documents, n), col("band"), col("band_key"), bucketCap)

  /** The banded signature frame (doc_id, band, band_key) candidate
    * generation buckets on.
    */
  private[ext] def bandedSignatures(documents: DataFrame, n: Int): DataFrame = {
    val sigs = signatures(documents, n)
    val bandKeys = (0 until bandsCount).map { b =>
      concat_ws(",", (0 until rowsPerBand).map(r => col(s"sig_${b * rowsPerBand + r}")): _*)
    }
    sigs.select(col("doc_id"), posexplode(array(bandKeys: _*)).as(Seq("band", "band_key")))
  }

  /** Candidate-volume telemetry: the distribution of LSH bucket sizes
    * and the raw pair volume each size class would generate, with the
    * classes the stop-bucket cap drops flagged. This is how `bucketCap`
    * (and `bits`/band geometry) get tuned at a NEW scale factor with
    * data instead of guesses — dev loop:
    *
    * {{{
    * MinHashDedup.candidateBucketHistogram(docs).show()
    * // bucket_size | n_buckets | candidate_pairs | dropped_by_cap
    * // pick the smallest cap whose dropped classes carry ~no real dups
    * }}}
    *
    * `candidate_pairs` counts each bucket's C(size, 2) BEFORE the
    * cross-band distinct, so it upper-bounds (never underestimates) the
    * verify-stage volume — the safe direction for capacity planning.
    */
  def candidateBucketHistogram(documents: DataFrame, n: Int = 5,
                               bucketCap: Int = 50): DataFrame =
    bucketHistogram(bandedSignatures(documents, n), col("band"), col("band_key"), bucketCap)

  /** Size histogram of the (bucket, key) groups `pairsFromBuckets`
    * collects (shared by every pair generator's telemetry).
    */
  private[ext] def bucketHistogram(members: DataFrame, bucket: Column, key: Column,
                                   bucketCap: Int): DataFrame =
    members
      .groupBy(bucket, key)
      .agg(count(lit(1)).as("bucket_size"))
      .groupBy(col("bucket_size"))
      .agg(count(lit(1)).as("n_buckets"))
      .select(
        col("bucket_size"),
        col("n_buckets"),
        // integral throughout: `/ 2` (Divide) would round-trip the count
        // through double and silently lose exactness above 2^53 — real
        // territory for 100-TB upper-bound telemetry. `div` keeps it a
        // long, exact to 2^63 (C(size,2) is even*odd/2, always integral);
        // bucket sizes past ~4e9 docs per band key would overflow the
        // inner product long before that and mean the banding is broken
        (col("n_buckets") * expr("(bucket_size * (bucket_size - 1)) div 2"))
          .as("candidate_pairs"),
        (col("bucket_size") > bucketCap).as("dropped_by_cap"))
      .orderBy(col("bucket_size"))

  /** Bucket members -> unordered candidate pairs (a < b), with the
    * stop-bucket cap applied on bucket SIZE.
    *
    * ONE aggregation collects each bucket's (distinct) members into a
    * sorted list and a per-row nested `transform` emits the i<j pairs —
    * replacing the previous window-count + cached self-join + distinct
    * chain (three shuffles of the banded frame plus a cache) with a
    * single shuffle + a narrow generate. The candidate SET is identical
    * (cap on list size == cap on windowed bucket count), so oracles that
    * replay the window formulation still match. List sizes are bounded by
    * the cap, so the quadratic pair generation is O(cap^2) per bucket —
    * the same bound the join had.
    */
  private[ext] def pairsFromBuckets(members: DataFrame, bucket: Column, key: Column,
                                    bucketCap: Int): DataFrame =
    members
      .groupBy(bucket, key)
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")).between(2, bucketCap))
      .select(explode(flatten(expr(
        "transform(ids, (x, i) -> transform(slice(ids, i + 2, size(ids)), y -> struct(x AS doc_a, y AS doc_b)))"
      ))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct()

  /** Candidates verified with exact shingle Jaccard >= threshold (on
    * hashed shingles — oracle-shared hashing, see
    * [[NgramJaccard.hashedNgrams]]).
    *
    * The gram arrays come from the native
    * [[graft.functions.HashedNgrams]] expression (pre-sorted, one tight
    * loop per doc) — sharing ONE scan between signatures and grams via a
    * cache or a fused aggregate was tried and measured slower than two
    * independent narrow scans; with both sides now native expressions
    * the second scan is cheap. (When the INPUT rows are expensive to
    * produce — a multi-regex survivor filter in front — that math flips:
    * use [[prepared]] + [[verifiedPairsFromPrepared]] instead.)
    */
  def verifiedPairs(documents: DataFrame, n: Int = 5, threshold: Double = 0.5,
                    bucketCap: Int = 50): DataFrame = Materialize.checkpointed { scope =>
    // cached: joined twice (doc_a / doc_b sides)
    val g = scope.cache(documents.select(
      col("doc_id"), graft.functions.HashedNgrams.of(col("text"), n).as("grams")))
    verify(candidatePairs(documents, n, bucketCap), g, threshold)
  }

  /** Per-doc dedup state in ONE text scan: the MinHash signature array
    * and the sorted hashed-gram array (both null for docs shorter than
    * `n` chars — no shingles, can never pair), with every other input
    * column EXCEPT `text` passed through. For callers whose rows are
    * expensive to produce — [[CorpusPipeline.curateFiltered]]'s survivor
    * predicate is a ~6-regex pass that dominated its r6 cost when
    * recomputed per downstream scan — derive everything once, cache this
    * frame (narrow: no text; the gram array is the same one
    * [[verifiedPairs]] caches corpus-wide anyway), and feed it to
    * [[verifiedPairsFromPrepared]].
    */
  def prepared(documents: DataFrame, n: Int = 5): DataFrame = {
    val passthrough = documents.columns.filterNot(_ == "text").map(col).toSeq
    val shingled = length(col("text")) >= n
    documents.select(passthrough ++ Seq(
      when(shingled,
        graft.functions.MinHashSignature.of(col("text"), n, numHashes, P)).as("sig"),
      when(shingled,
        graft.functions.HashedNgrams.of(col("text"), n)).as("grams")): _*)
  }

  /** [[verifiedPairs]] over a [[prepared]] frame (cache it first — every
    * stage below reads it at least once). Emits the identical pair set:
    * banding element_at's the signature array instead of re-deriving
    * sig_j columns, and the verify joins read the prepared gram arrays.
    */
  def verifiedPairsFromPrepared(prep: DataFrame, threshold: Double = 0.5,
                                bucketCap: Int = 50): DataFrame = {
    val withSig = prep.filter(col("sig").isNotNull)
    val bandKeys = (0 until bandsCount).map { b =>
      concat_ws(",", (0 until rowsPerBand).map(r =>
        element_at(col("sig"), b * rowsPerBand + r + 1)): _*)
    }
    val banded = withSig
      .select(col("doc_id"), posexplode(array(bandKeys: _*)).as(Seq("band", "band_key")))
    verify(pairsFromBuckets(banded, col("band"), col("band_key"), bucketCap),
      withSig.select(col("doc_id"), col("grams")), threshold)
  }

  /** Exact-Jaccard verification of candidate pairs against a
    * `(doc_id, grams)` side (shared by both pair entry points).
    */
  private def verify(candidates: DataFrame, g: DataFrame, threshold: Double): DataFrame =
    candidates
      .join(g.select(col("doc_id").as("doc_a"), col("grams").as("grams_a")), "doc_a")
      .join(g.select(col("doc_id").as("doc_b"), col("grams").as("grams_b")), "doc_b")
      .withColumn("n_inter",
        graft.functions.SortedIntersectCount.ofSorted(col("grams_a"), col("grams_b")))
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (size(col("grams_a")) + size(col("grams_b")) - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /** INCREMENTAL near-dup detection: an arriving batch checked against
    * an existing corpus, emitting only CROSS pairs `(doc_a existing,
    * doc_b arriving, jaccard)`. The production daily-ingest shape — the
    * existing×existing work was paid when those docs arrived, and
    * arriving×arriving dups are the next full-compaction's job — so the
    * incremental cost is `O(|arriving|)` band lookups against the
    * standing band index, not a corpus-wide re-pairing. At 100 TB the
    * existing banded frame IS the persisted index (a table bucketed by
    * band key); here both sides band on the fly.
    *
    * The stop-bucket cap applies to the EXISTING side (boilerplate
    * accumulates in the index; an arriving doc landing in a hot index
    * bucket gets no usable signal from it, same rule as
    * [[candidatePairs]]).
    */
  def crossPairs(existing: DataFrame, arriving: DataFrame, n: Int = 5,
                 threshold: Double = 0.5, bucketCap: Int = 50): DataFrame = {
    val indexBuckets = bandedSignatures(existing, n)
      .groupBy(col("band"), col("band_key"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) <= bucketCap)
    val cand = bandedSignatures(arriving, n)
      .join(indexBuckets, Seq("band", "band_key"))
      .select(explode(col("ids")).as("doc_a"), col("doc_id").as("doc_b"))
      .distinct()
    val ga = existing.select(
      col("doc_id").as("doc_a"), graft.functions.HashedNgrams.of(col("text"), n).as("grams_a"))
    val gb = arriving.select(
      col("doc_id").as("doc_b"), graft.functions.HashedNgrams.of(col("text"), n).as("grams_b"))
    cand.join(ga, "doc_a").join(gb, "doc_b")
      .withColumn("n_inter",
        graft.functions.SortedIntersectCount.ofSorted(col("grams_a"), col("grams_b")))
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (size(col("grams_a")) + size(col("grams_b")) - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** DuckDB replay of [[crossPairs]] with the corpus split by the shared
    * md5 bucket scheme: `bucket < existingPct` plays the standing index,
    * the rest the arriving batch. Same bands, same existing-side cap,
    * same exact-Jaccard verify.
    */
  def crossPairsOracle(n: Int, threshold: Double, existingPct: Int,
                       bucketCap: Int = 50): String = {
    val bandSelects = (0 until bandsCount).map { b =>
      val key = (0 until rowsPerBand).map(r => s"sig_${b * rowsPerBand + r}").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, $key AS band_key FROM sigs"
    }.mkString(" UNION ALL ")
    val bucket = TextStats.docIdBucketSql(100)
    s"""WITH ${oracleSigs(n, "documents")},
       |split AS (SELECT doc_id, $bucket < $existingPct AS is_existing FROM documents),
       |banded0 AS ($bandSelects),
       |eb AS (
       |  SELECT b.doc_id, b.band, b.band_key,
       |    count(*) OVER (PARTITION BY b.band, b.band_key) AS bn
       |  FROM banded0 b JOIN split s USING (doc_id) WHERE s.is_existing),
       |ab AS (
       |  SELECT b.doc_id, b.band, b.band_key
       |  FROM banded0 b JOIN split s USING (doc_id) WHERE NOT s.is_existing),
       |cand AS (
       |  SELECT DISTINCT e.doc_id AS doc_a, a.doc_id AS doc_b
       |  FROM eb e JOIN ab a ON e.band = a.band AND e.band_key = a.band_key
       |  WHERE e.bn <= $bucketCap),
       |g AS (SELECT doc_id, ${NgramJaccard.hashedNgramsSql(n)} AS grams FROM documents),
       |v AS (SELECT doc_a, doc_b,
       |    len(list_intersect(ga.grams, gb.grams)) AS n_inter,
       |    len(ga.grams) AS na, len(gb.grams) AS nb
       |  FROM cand JOIN g ga ON cand.doc_a = ga.doc_id JOIN g gb ON cand.doc_b = gb.doc_id)
       |SELECT doc_a, doc_b, CAST(n_inter AS DOUBLE) / (na + nb - n_inter) AS jaccard
       |FROM v WHERE CAST(n_inter AS DOUBLE) / (na + nb - n_inter) >= $threshold""".stripMargin
  }

  /** Oracle CTE builders take the source relation name so filtered
    * variants ([[CorpusPipeline.curateFiltered]]) can replay the same
    * pipeline over a surviving-docs CTE instead of the base table.
    */
  private def oracleShingles(n: Int, table: String): String =
    s"""sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |  range(1, greatest(length(text) - ${n - 1}, 0) + 1),
       |  i -> substr(text, i, $n)))) AS shingle FROM $table),
       |shab AS (SELECT doc_id,
       |  ${Md5Prefix.sql("shingle")} % $P AS a,
       |  ${Md5Prefix.sql("shingle", 1)} % $P AS b
       |  FROM sh)""".stripMargin

  private[ext] def oracleSigs(n: Int, table: String): String = {
    val aggs = (0 until numHashes)
      .map(j => s"min((a + $j * b) % $P) AS sig_$j")
      .mkString(", ")
    s"${oracleShingles(n, table)}, sigs AS (SELECT doc_id, $aggs FROM shab GROUP BY doc_id)"
  }

  def signaturesOracle(n: Int): String = {
    val cols = (0 until numHashes).map(j => s"sig_$j").mkString(" || ',' || ")
    s"WITH ${oracleSigs(n, "documents")}\nSELECT doc_id, $cols AS signature FROM sigs"
  }

  def verifiedPairsOracle(n: Int, threshold: Double, bucketCap: Int = 50,
                          table: String = "documents"): String = {
    val bandSelects = (0 until bandsCount).map { b =>
      val key = (0 until rowsPerBand).map(r => s"sig_${b * rowsPerBand + r}").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, $key AS band_key FROM sigs"
    }.mkString(" UNION ALL ")
    s"""WITH ${oracleSigs(n, table)},
       |banded0 AS ($bandSelects),
       |counted AS (
       |  SELECT doc_id, band, band_key,
       |    count(*) OVER (PARTITION BY band, band_key) AS bucket_n
       |  FROM banded0),
       |banded AS (SELECT doc_id, band, band_key FROM counted WHERE bucket_n <= $bucketCap),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |g AS (SELECT doc_id, ${NgramJaccard.hashedNgramsSql(n)} AS grams FROM $table),
       |v AS (SELECT doc_a, doc_b,
       |    len(list_intersect(ga.grams, gb.grams)) AS n_inter,
       |    len(ga.grams) AS na, len(gb.grams) AS nb
       |  FROM cand JOIN g ga ON cand.doc_a = ga.doc_id JOIN g gb ON cand.doc_b = gb.doc_id)
       |SELECT doc_a, doc_b, CAST(n_inter AS DOUBLE) / (na + nb - n_inter) AS jaccard
       |FROM v WHERE CAST(n_inter AS DOUBLE) / (na + nb - n_inter) >= $threshold""".stripMargin
  }
}
