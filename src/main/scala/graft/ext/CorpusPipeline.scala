package graft.ext

import graft.core.{GraftSession, Materialize}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end training-corpus curation: the composition every LLM data
  * pipeline runs — quality filter ∘ language filter ∘ near-dup dedup —
  * expressed as one declarative plan so Catalyst fuses the per-row stages
  * into a single scan and the only shuffles are the dedup component
  * rounds.
  *
  * Keep rule: a document survives iff (a) its quality score clears the
  * threshold, (b) its predicted language matches, and (c) it is the
  * canonical representative (min doc_id) of its near-dup cluster.
  */
object CorpusPipeline {

  /** The corpus text spread across every core, cached.
    *
    * The curation stages are CPU-bound per-row work (multi-regex quality/
    * lang scoring, shingling, min-hashing), so their parallelism is the
    * parallelism of the text SOURCE — and a small-file corpus (one
    * unsplittable parquet row group at bench scale; any cluster whose
    * input splits < cores) pins all of it to one task. Redistributing the
    * raw (doc_id, text) rows round-robin first makes every downstream
    * scan corpus-parallel. The cache is ALSO the load-bearing barrier:
    * filters on computed columns are deterministic, so without it
    * Catalyst's pushdown would drag them through the exchange back into
    * the single-split scan task. At 100 TB the input has thousands of
    * splits and this is a no-op shuffle of (doc_id, text) — the standard
    * "spread a hot narrow input before expensive per-row compute" move,
    * paid once per pipeline. The barrier is a lazy `localCheckpoint`,
    * not a cache: it has no release point (see [[graft.core.Materialize]]).
    */
  def spreadText(documents: DataFrame): DataFrame =
    documents
      .repartition(GraftSession.parallelism(documents.sparkSession))
      // eager = false: the no-arg overload is EAGER and would run the
      // corpus scan + shuffle at DataFrame-CONSTRUCTION time — a plan
      // built then discarded (PlanSpec printing d10/d11, a registry
      // query composed but not run) paid a full corpus job for nothing.
      // The lazy form is the same Catalyst barrier (the plan is a
      // LogicalRDD either way); materialization waits for first action.
      .localCheckpoint(eager = false)

  /** All per-row curation state in ONE text pass over the spread corpus:
    * stats/lang (one RegexCounts pass each) + MinHash signature + sorted
    * gram array, cached WITHOUT the text column. The survivor predicate
    * is a ~6-regex scan; expressing it as `.filter(qualityScoreCol(...))`
    * recomputes those regexes in every operator that mentions them —
    * subexpression elimination works within one Project, never across a
    * Filter/Project boundary, and Catalyst's pushdown re-inlines
    * computed-column predicates into the scan. Deriving ALL per-row state
    * in a single projection and caching the no-text frame means every
    * downstream stage (filters, banding, verify joins, the component
    * rounds' doc list) reads stored columns instead of re-running regex/
    * shingle passes — the plan shape that made c2 fast in r7 and that
    * r7's verdict prescribed for c1 (its spreadText-cached form re-ran
    * every regex against cached full-width text, 5.0→6.9 s).
    */
  private def preparedCorpus(scope: Materialize.Scope, documents: DataFrame): DataFrame =
    scope.cache(MinHashDedup.prepared(
      documents
        .repartition(GraftSession.parallelism(documents.sparkSession))
        .select(col("doc_id"), col("text"),
          TextStats.nWordsCol(col("text")).as("n_words"),
          TextStats.qualityScoreCol(col("text")).as("quality_score"),
          TextStats.predictedLangCol(col("text")).as("predicted_lang"))))

  def curate(documents: DataFrame, minQuality: Double = 0.8,
             lang: String = "en", jaccard: Double = 0.5): DataFrame =
    Materialize.checkpointed { scope =>
      // full-corpus representative semantics: components (and the pairs
      // feeding them) run over ALL docs, so a survivor whose cluster rep
      // was rejected is dropped — the quality/lang predicates apply AFTER
      // the cluster join, on stored columns of the prepared frame
      val prep = preparedCorpus(scope, documents)
      val comp = DedupClusters.components(
        prep, MinHashDedup.verifiedPairsFromPrepared(prep, jaccard))
      prep.join(comp, "doc_id")
        .filter(
          col("quality_score") >= minQuality &&
          col("predicted_lang") === lang &&
          col("doc_id") === col("cluster_id"))
        .select(col("doc_id"), col("n_words"), col("quality_score"))
    }

  /** Filter-first curation: quality + language predicates applied BEFORE
    * any dedup work, so MinHash signatures, the LSH pair join, and the
    * component propagation rounds run over *survivors only* — the
    * production shape. At a 100 TB corpus with (say) 50% quality/lang
    * rejection this halves the dominant (dedup-shaped) cost; the trade vs
    * [[curate]] is semantic, not approximate: cluster representatives are
    * chosen among survivors (min surviving doc_id), whereas [[curate]]
    * picks the min doc_id of the FULL corpus's cluster, so a survivor
    * whose cluster-rep was rejected is dropped there but kept here. Both
    * forms are oracle-gated; pick by whether cross-reject dup evidence
    * should suppress survivors.
    */
  def curateFiltered(documents: DataFrame, minQuality: Double = 0.8,
                     lang: String = "en", jaccard: Double = 0.5): DataFrame =
    Materialize.checkpointed { scope =>
      // quality/lang are per-row column algebra, so the survivor set is ONE
      // narrow filtered scan — no scored-frame self-joins (measured 2s
      // SLOWER than curate() at sf0.1 in the joined formulation; the whole
      // point of filter-first is that rejects never reach a shuffle).
      // ONE text pass for the whole pipeline, every regex evaluated ONCE
      // (see preparedCorpus — a predicate over the cached no-text frame
      // reads stored values instead of re-deriving them). Sig/grams for
      // rejected docs are wasted per-row CPU (~25% at this corpus's
      // rejection rate) but never reach a shuffle; at high rejection rates
      // a second filtered text pass wins instead — that trade re-pays the
      // regex pass, so it starts losing below ~50% rejection.
      val prepAll = preparedCorpus(scope, documents)
      val prep = prepAll.filter(
        col("quality_score") >= minQuality && col("predicted_lang") === lang)
      val comp = DedupClusters.components(
        prep, MinHashDedup.verifiedPairsFromPrepared(prep, jaccard))
      prep
        .join(comp, "doc_id")
        .filter(col("doc_id") === col("cluster_id"))
        .select(col("doc_id"), col("n_words"), col("quality_score"))
    }

  /** DuckDB twin of [[curateFiltered]]: the identical verified-pairs +
    * recursive-closure SQL, with every dedup CTE reading the `sdocs`
    * (survivors) CTE instead of the base table.
    */
  def filteredOracle(minQuality: Double, lang: String, jaccard: Double): String =
    s"""WITH RECURSIVE
       |qual AS (${TextStats.qualityOracle}),
       |lang AS (${TextStats.langIdOracle}),
       |sdocs AS (
       |  SELECT d.* FROM documents d
       |  JOIN qual ON d.doc_id = qual.doc_id
       |  JOIN lang ON d.doc_id = lang.doc_id
       |  WHERE qual.quality_score >= $minQuality
       |    AND lang.predicted_lang = '$lang'),
       |p AS (${MinHashDedup.verifiedPairsOracle(5, jaccard, table = "sdocs")}),
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
       |      UNION ALL SELECT doc_b, doc_a FROM p),
       |reach AS (
       |  SELECT doc_id, doc_id AS root FROM sdocs
       |  UNION
       |  SELECT e.dst AS doc_id, r.root FROM reach r JOIN e ON e.src = r.doc_id),
       |comp AS (SELECT doc_id, min(root) AS cluster_id FROM reach GROUP BY doc_id)
       |SELECT s.doc_id, qual.n_words, qual.quality_score
       |FROM sdocs s
       |JOIN qual ON s.doc_id = qual.doc_id
       |JOIN comp ON s.doc_id = comp.doc_id
       |WHERE s.doc_id = comp.cluster_id""".stripMargin

  def oracle(minQuality: Double, lang: String, jaccard: Double): String =
    s"""WITH RECURSIVE
       |p AS (${MinHashDedup.verifiedPairsOracle(5, jaccard)}),
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
       |      UNION ALL SELECT doc_b, doc_a FROM p),
       |reach AS (
       |  SELECT doc_id, doc_id AS root FROM documents
       |  UNION
       |  SELECT e.dst AS doc_id, r.root FROM reach r JOIN e ON e.src = r.doc_id),
       |comp AS (SELECT doc_id, min(root) AS cluster_id FROM reach GROUP BY doc_id),
       |qual AS (${TextStats.qualityOracle}),
       |lang AS (${TextStats.langIdOracle})
       |SELECT d.doc_id, qual.n_words, qual.quality_score
       |FROM documents d
       |JOIN qual ON d.doc_id = qual.doc_id
       |JOIN lang ON d.doc_id = lang.doc_id
       |JOIN comp ON d.doc_id = comp.doc_id
       |WHERE qual.quality_score >= $minQuality
       |  AND lang.predicted_lang = '$lang'
       |  AND d.doc_id = comp.cluster_id""".stripMargin
}
