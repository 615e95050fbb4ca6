package graft.ext

import graft.functions.Md5Prefix
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for large-scale corpus pipelines: token counting, quality
  * scoring, and n-gram-heuristic language ID over a `documents(doc_id,
  * text, ...)` table. North-star extension (the reference has no string
  * processing at all — SURVEY §2.8 F7).
  *
  * Every op is pure per-row column algebra (regex + arithmetic): no
  * shuffles, stays in whole-stage codegen, trivially scales to any corpus
  * size. Regexes are restricted to a dialect-portable subset (character
  * classes, `\S`, `\b`) so the same pattern means the same thing to Java
  * regex (Spark) and RE2 (DuckDB oracle).
  *
  * Counting runs through the native [[graft.functions.RegexCounts]]
  * expression — one string materialization + one find() pass per
  * pattern GROUP per row, no match-list allocation — while the oracle
  * keeps the `len(regexp_extract_all(...))` form; RegexCountsSpec pins
  * the two formulations equal on the real corpus.
  */
object TextStats {

  /** Marker-word counting contract, PORTABLE across regex engines:
    * extract the ASCII-alphanumeric tokens (`[A-Za-z0-9]+` — Java and
    * RE2 agree exactly on pure ASCII classes) and count membership in a
    * fixed word list. The earlier `\b(word|...)\b` form was
    * engine-DEPENDENT on non-ASCII text: Java's `\b` is Unicode-aware
    * (a combining mark extends the word, so `"á"` hides the
    * stopword) while DuckDB/RE2's `\b` is ASCII (boundary before the
    * mark, stopword counted) — caught by the r13 unicode parity probe.
    * `lowerFirst` lowercases each TOKEN (ASCII-only by construction, so
    * Java and utf8proc case mapping coincide — lowercasing the whole
    * text first would re-introduce divergence via İ-style full-case
    * mappings).
    */
  private[graft] def tokenMemberCount(text: Column, words: Seq[String], lowerFirst: Boolean): Column = {
    val toks = regexp_extract_all(text, lit("[A-Za-z0-9]+"), lit(0))
    size(filter(toks, t => (if (lowerFirst) lower(t) else t).isin(words: _*)))
  }

  /** All four marker-word member counts — stopwords (case-sensitive) +
    * en/es/fr markers (per-token lowered) — as ONE native
    * [[graft.functions.TokenMemberCounts]] pass. [[qualityCounts]] and
    * [[langCounts]] both element_at this SAME expression tree, so a
    * projection computing quality and lang together tokenizes once via
    * subexpression elimination; the r20 form ran four
    * regexp_extract_all materializations + four interpreted
    * higher-order filters per row (OPTIMIZATION_r21.md: the quality+
    * lang projection was 0.93 s of the sf0.1 corpus pass — 4x the cost
    * of both shingle kernels combined). Values are pinned equal to the
    * relational [[tokenMemberCount]] form (and so to the unchanged
    * DuckDB oracles) by NativeParityFuzzSpec.
    */
  private def memberCounts(text: Column): Column =
    graft.functions.TokenMemberCounts.of(text, Seq(
      (stopwords, false), (enMarkers, true), (esMarkers, true), (frMarkers, true)))

  /** The matching DuckDB fragment for [[tokenMemberCount]]. */
  private def tokenMemberCountSql(textCol: String, words: Seq[String], lowerFirst: Boolean): String = {
    val tok = if (lowerFirst) "lower(t)" else "t"
    val list = words.map(w => s"'$w'").mkString(", ")
    s"len(list_filter(regexp_extract_all($textCol, '[A-Za-z0-9]+'), t -> $tok IN ($list)))"
  }

  /** The three quality counts: words and punctuation from ONE
    * RegexCounts pass, stopwords under the portable token contract.
    */
  private def qualityCounts(text: Column): (Column, Column, Column) = {
    val c = graft.functions.RegexCounts.of(text, Seq("\\S+", "[^A-Za-z0-9 ]"))
    (element_at(c, 1), element_at(memberCounts(text), 1), element_at(c, 2))
  }

  /** The three language marker counts — the portable token contract,
    * case-insensitive via per-token lowering — of ONE [[memberCounts]]
    * column `m`.
    */
  private def langCounts(m: Column): (Column, Column, Column) =
    (element_at(m, 2), element_at(m, 3), element_at(m, 4))

  /** BPE-ish subword proxy: letter runs, digit runs, or single punctuation
    * marks — the usual pre-tokenizer split that upper-bounds BPE tokens.
    */
  val bpeishPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

  /** Per-document token counts: whitespace tokens + BPE-ish tokens +
    * chars-per-token ratio.
    */
  def tokenCounts(documents: DataFrame): DataFrame = {
    val c = graft.functions.RegexCounts.of(col("text"), Seq("\\S+", bpeishPattern))
    documents.select(
      col("doc_id"),
      length(col("text")).as("n_chars"),
      element_at(c, 1).as("n_words"),
      element_at(c, 2).as("n_bpeish_tokens"))
      .withColumn("chars_per_word",
        when(col("n_words") > 0, col("n_chars").cast("double") / col("n_words")).otherwise(lit(0.0)))
  }

  val tokenCountsOracle: String =
    """SELECT doc_id,
      |  CAST(length(text) AS INT) AS n_chars,
      |  CAST(len(regexp_extract_all(text, '\S+')) AS INT) AS n_words,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS INT) AS n_bpeish_tokens,
      |  CASE WHEN len(regexp_extract_all(text, '\S+')) > 0
      |       THEN CAST(length(text) AS DOUBLE) / len(regexp_extract_all(text, '\S+'))
      |       ELSE 0.0 END AS chars_per_word
      |FROM documents""".stripMargin

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "it")
  private val enMarkers = Seq("the", "and", "of", "to", "is")
  private val esMarkers = Seq("el", "la", "de", "que", "es")
  private val frMarkers = Seq("le", "la", "de", "et", "est")

  /** Word count as a bare Column (shared by [[qualityScore]] and the
    * join-free survivor filters in [[CorpusPipeline.curateFiltered]]).
    * Fetched from the quality triple so a projection computing both this
    * and [[qualityScoreCol]] shares ONE counting pass via CSE.
    */
  def nWordsCol(text: Column): Column = qualityCounts(text)._1

  /** The [[qualityScore]] `quality_score` expression as a bare Column:
    * per-row algebra, so filters can apply it in the SAME scan instead of
    * computing a scored frame and joining it back on doc_id (a corpus
    * self-join). Values are identical to the DataFrame form — both
    * inline these exact expressions.
    */
  def qualityScoreCol(text: Column): Column = {
    val (words, stops, punct) = qualityCounts(text)
    val stopRatio = when(words > 0, stops.cast("double") / words).otherwise(lit(0.0))
    val punctRatio = when(words > 0, punct.cast("double") / words).otherwise(lit(0.0))
    when(words < 5, lit(0.0)).otherwise(
      lit(1.0)
        - when(stopRatio > 0.5, stopRatio - 0.5).otherwise(lit(0.0))
        - when(punctRatio > 0.2, lit(0.5)).otherwise(lit(0.0)))
  }

  /** Heuristic quality score: length band + stopword ratio + punctuation
    * density — the standard cheap pre-filter for LLM training corpora.
    */
  def qualityScore(documents: DataFrame): DataFrame = {
    val (words, stops, punct) = qualityCounts(col("text"))
    documents.select(
      col("doc_id"),
      words.as("n_words"),
      stops.as("n_stopwords"),
      punct.as("n_punct"))
      .withColumn("stopword_ratio",
        when(col("n_words") > 0, col("n_stopwords").cast("double") / col("n_words")).otherwise(lit(0.0)))
      .withColumn("punct_ratio",
        when(col("n_words") > 0, col("n_punct").cast("double") / col("n_words")).otherwise(lit(0.0)))
      .withColumn("quality_score",
        when(col("n_words") < 5, lit(0.0)).otherwise(
          lit(1.0)
            - when(col("stopword_ratio") > 0.5, col("stopword_ratio") - 0.5).otherwise(lit(0.0))
            - when(col("punct_ratio") > 0.2, lit(0.5)).otherwise(lit(0.0))))
  }

  val qualityOracle: String =
    s"""WITH q AS (SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '\\S+')) AS INT) AS n_words,
      |  CAST(${tokenMemberCountSql("text", stopwords, lowerFirst = false)} AS INT) AS n_stopwords,
      |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS INT) AS n_punct
      |FROM documents)
      |SELECT doc_id, n_words, n_stopwords, n_punct,
      |  CASE WHEN n_words > 0 THEN CAST(n_stopwords AS DOUBLE)/n_words ELSE 0.0 END AS stopword_ratio,
      |  CASE WHEN n_words > 0 THEN CAST(n_punct AS DOUBLE)/n_words ELSE 0.0 END AS punct_ratio,
      |  CASE WHEN n_words < 5 THEN 0.0 ELSE 1.0
      |    - (CASE WHEN (CASE WHEN n_words > 0 THEN CAST(n_stopwords AS DOUBLE)/n_words ELSE 0.0 END) > 0.5
      |            THEN (CASE WHEN n_words > 0 THEN CAST(n_stopwords AS DOUBLE)/n_words ELSE 0.0 END) - 0.5 ELSE 0.0 END)
      |    - (CASE WHEN (CASE WHEN n_words > 0 THEN CAST(n_punct AS DOUBLE)/n_words ELSE 0.0 END) > 0.2
      |            THEN 0.5 ELSE 0.0 END) END AS quality_score
      |FROM q""".stripMargin

  /** Fixed classifier weights for [[modelQuality]]: a linear
    * quality model of the fastText-filter shape (CCNet/LLaMA-style
    * corpus filtering) with the coefficients embedded as data. Signs
    * encode the standard priors — longer docs and stopword-bearing
    * natural language score up, punctuation soup and over-long
    * "words" (code/base64) score down.
    */
  private val QIntercept = -1.2
  private val QwLen = 2.0
  private val QwStop = 1.5
  private val QwPunct = -3.0
  private val QwCpw = -0.5

  /** Model-based quality scoring: a linear classifier over the t2
    * feature family — bounded length, stopword ratio, punctuation
    * ratio, chars-per-word — plus the keep decision at logit ≥ 0.
    *
    * The logit is emitted instead of the sigmoid on purpose: sigmoid
    * needs `exp`, whose bit-level result is libm-dependent, while the
    * logit is rational arithmetic in a pinned evaluation order —
    * bit-identical on any engine — and the keep decision is the same
    * either way (sigmoid is monotone). One RegexCounts pass per row,
    * no shuffle: this is a 100 TB map-only filter by construction.
    */
  def modelQuality(documents: DataFrame): DataFrame = {
    val (words, stops, punct) = qualityCounts(col("text"))
    documents
      .select(col("doc_id"), words.as("n_words"), stops.as("n_stop"),
        punct.as("n_punct"), length(col("text")).as("n_chars_t"))
      .select(
        col("doc_id"),
        (lit(QIntercept)
          + lit(QwLen) * (least(col("n_words"), lit(256)).cast("double") / lit(256.0))
          + lit(QwStop) * when(col("n_words") > 0,
              col("n_stop").cast("double") / col("n_words")).otherwise(lit(0.0))
          + lit(QwPunct) * when(col("n_words") > 0,
              col("n_punct").cast("double") / col("n_words")).otherwise(lit(0.0))
          + lit(QwCpw) * (when(col("n_words") > 0,
              col("n_chars_t").cast("double") / col("n_words")).otherwise(lit(0.0)) / lit(16.0)))
          .as("logit"))
      .withColumn("keep", col("logit") >= 0)
  }

  /** DuckDB replay of [[modelQuality]]: same counts, same weights, same
    * left-associative addition chain (IEEE doubles are order-sensitive,
    * so the oracle pins the identical evaluation order).
    */
  val modelQualityOracle: String =
    s"""WITH q AS (SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '\\S+')) AS INT) AS n_words,
       |  CAST(${tokenMemberCountSql("text", stopwords, lowerFirst = false)} AS INT) AS n_stopwords,
       |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS INT) AS n_punct,
       |  length(text) AS n_chars
       |FROM documents),
       |s AS (SELECT doc_id,
       |  $QIntercept + $QwLen * (CAST(least(n_words, 256) AS DOUBLE) / 256.0)
       |    + $QwStop * (CASE WHEN n_words > 0 THEN CAST(n_stopwords AS DOUBLE) / n_words ELSE 0.0 END)
       |    + $QwPunct * (CASE WHEN n_words > 0 THEN CAST(n_punct AS DOUBLE) / n_words ELSE 0.0 END)
       |    + $QwCpw * ((CASE WHEN n_words > 0 THEN CAST(n_chars AS DOUBLE) / n_words ELSE 0.0 END) / 16.0) AS logit
       |FROM q)
       |SELECT doc_id, logit, logit >= 0 AS keep FROM s""".stripMargin

  /** c7: curriculum data ordering — the t10 quality model's logit cut
    * into three calibration bands (tertile thresholds over this corpus
    * family, fixed constants like the model weights themselves), with
    * a seeded md5 shuffle WITHIN each band. Sorting by `order_key`
    * ascending replays the curriculum: highest-quality tier first,
    * reproducible order inside each tier — the c5/c6 order-key
    * contract (engine-independent, sortable, range-shardable by the
    * same writers) composed with model-based quality. Per-row
    * projection only; zero exchanges.
    */
  def curriculumOrder(documents: DataFrame, seed: String): DataFrame =
    modelQuality(documents)
      .select(col("doc_id"),
        when(col("logit") >= -0.74, 0)
          .when(col("logit") >= -0.97, 1)
          .otherwise(2).cast("int").as("band"))
      .withColumn("order_key", concat(col("band").cast("string"), lit(":"),
        md5(concat(lit(seed), lit(":"), col("doc_id").cast("string")).cast("binary"))))

  def curriculumOrderOracle(seed: String): String =
    s"""WITH mq AS (
       |$modelQualityOracle
       |)
       |SELECT doc_id, band,
       |  band || ':' || md5('$seed:' || doc_id) AS order_key
       |FROM (
       |  SELECT doc_id,
       |    CAST(CASE WHEN logit >= -0.74 THEN 0
       |              WHEN logit >= -0.97 THEN 1 ELSE 2 END AS INT) AS band
       |  FROM mq)""".stripMargin

  /** The [[langId]] `predicted_lang` expression as a bare Column (same
    * rationale as [[qualityScoreCol]]: per-row, join-free filtering).
    */
  def predictedLangCol(text: Column): Column = {
    val (en, es, fr) = langCounts(memberCounts(text))
    predictedLang(en, es, fr)
  }

  /** Highest marker count wins with a fixed precedence
    * (en > es > fr > unknown) so ties are deterministic.
    */
  private def predictedLang(en: Column, es: Column, fr: Column): Column =
    when(en >= es && en >= fr && en > 0, lit("en"))
      .when(es >= fr && es > 0, lit("es"))
      .when(fr > 0, lit("fr"))
      .otherwise(lit("unknown"))

  /** Marker-word language ID (n-gram heuristic): count hits of tiny
    * language-specific word sets, see [[predictedLang]]. The member
    * counts are projected once, so the row is tokenized once whether or
    * not subexpression elimination fires.
    */
  def langId(documents: DataFrame): DataFrame = {
    val (en, es, fr) = langCounts(col("member_counts"))
    documents.select(col("doc_id"), memberCounts(col("text")).as("member_counts"))
      .select(col("doc_id"), en.as("en_score"), es.as("es_score"), fr.as("fr_score"))
      .withColumn("predicted_lang", predictedLang(col("en_score"), col("es_score"), col("fr_score")))
  }

  val langIdOracle: String =
    s"""WITH s AS (SELECT doc_id,
      |  CAST(${tokenMemberCountSql("text", enMarkers, lowerFirst = true)} AS INT) AS en_score,
      |  CAST(${tokenMemberCountSql("text", esMarkers, lowerFirst = true)} AS INT) AS es_score,
      |  CAST(${tokenMemberCountSql("text", frMarkers, lowerFirst = true)} AS INT) AS fr_score
      |FROM documents)
      |SELECT doc_id, en_score, es_score, fr_score,
      |  CASE WHEN en_score >= es_score AND en_score >= fr_score AND en_score > 0 THEN 'en'
      |       WHEN es_score >= fr_score AND es_score > 0 THEN 'es'
      |       WHEN fr_score > 0 THEN 'fr'
      |       ELSE 'unknown' END AS predicted_lang
      |FROM s""".stripMargin

  /** Word n-grams of `text` as an array column (whitespace tokens joined
    * by single spaces). The `when` guard matters: Spark's `sequence(1, k)`
    * generates a DESCENDING [1, 0] when k = 0, which would emit two
    * out-of-bounds grams for docs shorter than n words — short docs get
    * an empty array instead, matching DuckDB's empty `range`.
    */
  def wordGramsCol(text: Column, n: Int): Column = {
    val ws = split(trim(text), "\\s+")
    when(size(ws) >= n,
      transform(sequence(lit(1), size(ws) - (n - 1)),
        i => array_join(slice(ws, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  /** [[wordGramsCol]] hashed to the engine's shared md5-prefix longs —
    * what crosses shuffles/broadcasts in corpus-level gram joins
    * ([[Decontaminate]]): 8 bytes per gram instead of the gram string.
    *
    * Shipped as the native [[graft.functions.WordGramHashesExpr]] — the
    * relational twin `transform(wordGramsCol(text, n), g =>
    * Md5Prefix.of(g))` re-splits the document per gram inside the
    * interpreted lambda (O(words²) per row; it was 7.9 s of d14's
    * 7.8-s sf0.1 bench). Bit parity between the two is pinned in
    * WordGramHashesSpec.
    */
  def hashedWordGramsCol(text: Column, n: Int): Column =
    // coalesce pins NULL-text semantics to the relational twin's: the
    // when/otherwise there yields [] for NULL text while a bare native
    // expression (null-intolerant child) would yield NULL — unobservable
    // at current call sites (explode and n_grams>0 guards treat them
    // identically) but WordGramHashesSpec pins the parity exactly
    coalesce(graft.functions.WordGramHashesExpr.of(text, n),
      array().cast("array<bigint>"))

  /** The interpreted relational formulation of [[hashedWordGramsCol]] —
    * kept as the parity twin the spec replays against the native
    * expression (and as documentation of the exact semantics).
    */
  def hashedWordGramsRelational(text: Column, n: Int): Column =
    transform(wordGramsCol(text, n), g => Md5Prefix.of(g))

  /** The DuckDB twin of [[hashedWordGramsCol]] (a list expression over
    * column `text` of `table`'s rows — embed inside a SELECT).
    */
  def hashedWordGramsSql(n: Int): String =
    s"""list_transform(
       |  list_transform(range(1, greatest(len(string_split_regex(trim(text), '\\s+')) - ${n - 1}, 0) + 1),
       |    i -> array_to_string(list_slice(string_split_regex(trim(text), '\\s+'), i, i + ${n - 1}), ' ')),
       |  g -> ${Md5Prefix.sql("g")})""".stripMargin

  /** Gopher-style repetition signal: the fraction of word n-grams that
    * are duplicates within the SAME document (1 - distinct/total) — the
    * standard "remove repetitious docs" quality filter for LLM corpora
    * (boilerplate, keyword stuffing, decoding loops all show up here).
    * Pure per-row column algebra: no shuffle, any corpus size.
    */
  def repetition(documents: DataFrame, n: Int = 3, maxDupRatio: Double = 0.2): DataFrame = {
    val grams = wordGramsCol(col("text"), n)
    documents
      .select(
        col("doc_id"),
        size(grams).as("n_grams"),
        (size(grams) - size(array_distinct(grams))).as("n_dup_grams"))
      .withColumn("dup_ratio",
        when(col("n_grams") > 0,
          col("n_dup_grams").cast("double") / col("n_grams")).otherwise(lit(0.0)))
      .withColumn("repetitious", col("dup_ratio") > maxDupRatio)
  }

  def repetitionOracle(n: Int, maxDupRatio: Double): String =
    s"""WITH g AS (SELECT doc_id,
       |  list_transform(range(1, greatest(len(string_split_regex(trim(text), '\\s+')) - ${n - 1}, 0) + 1),
       |    i -> array_to_string(list_slice(string_split_regex(trim(text), '\\s+'), i, i + ${n - 1}), ' ')) AS grams
       |FROM documents),
       |c AS (SELECT doc_id,
       |  CAST(len(grams) AS INT) AS n_grams,
       |  CAST(len(grams) - len(list_distinct(grams)) AS INT) AS n_dup_grams
       |FROM g)
       |SELECT doc_id, n_grams, n_dup_grams,
       |  CASE WHEN n_grams > 0 THEN CAST(n_dup_grams AS DOUBLE) / n_grams ELSE 0.0 END AS dup_ratio,
       |  (CASE WHEN n_grams > 0 THEN CAST(n_dup_grams AS DOUBLE) / n_grams ELSE 0.0 END) > $maxDupRatio AS repetitious
       |FROM c""".stripMargin

  /** PII redaction: mask emails and phone-shaped tokens with typed
    * placeholders, counting what was masked. Patterns are restricted to
    * the dialect-portable subset (character classes only) so Spark's Java
    * regex and DuckDB's RE2 replace the identical spans; Spark's
    * `regexp_replace` is global by default and the oracle passes the 'g'
    * flag to match.
    */
  val emailPattern = "[A-Za-z0-9._]+@[A-Za-z0-9.-]+[.][A-Za-z]+"
  val phonePattern = "[+][0-9]{1,2}-[0-9]{3}-[0-9]{4}"

  def redactPii(documents: DataFrame): DataFrame = {
    val counts = graft.functions.RegexCounts.of(col("text"), Seq(emailPattern, phonePattern))
    documents.select(
      col("doc_id"),
      regexp_replace(
        regexp_replace(col("text"), emailPattern, "<EMAIL>"),
        phonePattern, "<PHONE>").as("redacted"),
      element_at(counts, 1).as("n_emails"),
      element_at(counts, 2).as("n_phones"))
  }

  def redactPiiOracle(table: String = "documents"): String =
    s"""SELECT doc_id,
       |  regexp_replace(regexp_replace(text, '$emailPattern', '<EMAIL>', 'g'),
       |                 '$phonePattern', '<PHONE>', 'g') AS redacted,
       |  CAST(len(regexp_extract_all(text, '$emailPattern')) AS INT) AS n_emails,
       |  CAST(len(regexp_extract_all(text, '$phonePattern')) AS INT) AS n_phones
       |FROM $table""".stripMargin

  /** Deterministic per-source downsampling to target keep-rates — the
    * "domain mixing" step of a training-data pipeline (rebalance web vs
    * wiki vs code before training). Same md5(doc_id) bucket scheme as
    * [[hashSplit]]: reproducible across runs/engines/cluster sizes, and
    * a document's keep/drop decision is stable as the corpus grows. Pure
    * projection + filter — no shuffle, no sampling variance.
    */
  def sampleBySource(documents: DataFrame, ratesPct: Map[String, Int],
                     defaultPct: Int): DataFrame = {
    require((ratesPct.values ++ Seq(defaultPct)).forall(r => r >= 0 && r <= 100),
      s"keep rates must be percentages in [0, 100]: $ratesPct default=$defaultPct")
    val bucket = docIdBucketCol(100)
    val rate = ratesPct.foldLeft(lit(defaultPct)) { case (acc, (src, pct)) =>
      when(col("source") === src, lit(pct)).otherwise(acc)
    }
    documents
      .select(col("doc_id"), col("source"), bucket.cast("int").as("bucket"))
      .filter(col("bucket") < rate)
  }

  def sampleBySourceOracle(ratesPct: Map[String, Int], defaultPct: Int): String = {
    // empty map: a bare CASE has no WHEN arms and is invalid SQL, while
    // the Spark twin's foldLeft degrades to the default rate — emit the
    // constant so both twins agree on the edge
    val rateExpr =
      if (ratesPct.isEmpty) defaultPct.toString
      else {
        val cases = ratesPct.toSeq.sortBy(_._1)
          .map { case (src, pct) => s"WHEN source = '$src' THEN $pct" }
          .mkString(" ")
        s"(CASE $cases ELSE $defaultPct END)"
      }
    s"""SELECT doc_id, source,
       |  CAST(${docIdBucketSql(100)} AS INT) AS bucket
       |FROM documents
       |WHERE ${docIdBucketSql(100)}
       |  < $rateExpr""".stripMargin
  }

  /** Deterministic mixture with *upsampling*: per-source rates as
    * percentages where values above 100 repeat documents (230 = 2.3
    * epochs: two guaranteed copies, a third for the 30% of docs whose
    * md5 bucket falls under the fractional part). The dual of
    * [[sampleBySource]] (which only downsamples) — training mixes
    * routinely over-represent small high-quality sources across epochs.
    * Copy generation is `explode(sequence(...))` per row: no shuffle, no
    * randomness, stable as the corpus grows.
    *
    * `order_key` is md5(seed : doc_id : epoch) — a reproducible,
    * engine-independent global shuffle order for training-data writing.
    * It is emitted as a SORTABLE KEY, not a materialized rank: the
    * writer orders by it (`repartitionByRange(order_key)` + in-partition
    * sort at scale), so no single-partition global window ever runs.
    */
  def mixtureEpochs(documents: DataFrame, ratesPct: Map[String, Int],
                    defaultPct: Int, seed: String): DataFrame = {
    require((ratesPct.values ++ Seq(defaultPct)).forall(_ >= 0),
      s"epoch rates must be non-negative percentages: $ratesPct default=$defaultPct")
    val rate = ratesPct.foldLeft(lit(defaultPct)) { case (acc, (src, pct)) =>
      when(col("source") === src, lit(pct)).otherwise(acc)
    }
    documents
      .select(col("doc_id"), col("source"),
        ((rate / 100).cast("int") +
          when(docIdBucketCol(100) < rate % 100, 1).otherwise(0)).as("copies"))
      // sequence(1, 0) yields a DESCENDING [1, 0] — drop zero-copy docs
      // before exploding rather than relying on an empty sequence
      .filter(col("copies") >= 1)
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(1), col("copies"))).as("epoch"))
      .withColumn("order_key",
        md5(concat_ws(":", lit(seed), col("doc_id"), col("epoch")).cast("binary")))
  }

  /** DuckDB twin of [[mixtureEpochs]]: same rate CASE, same md5 bucket
    * for the fractional copy, same seed:doc:epoch order key;
    * `range(1, copies + 1)` drops zero-copy docs like the Spark filter.
    */
  def mixtureEpochsOracle(ratesPct: Map[String, Int], defaultPct: Int,
                          seed: String): String = {
    val rateExpr =
      if (ratesPct.isEmpty) defaultPct.toString
      else {
        val cases = ratesPct.toSeq.sortBy(_._1)
          .map { case (src, pct) => s"WHEN source = '$src' THEN $pct" }
          .mkString(" ")
        s"(CASE $cases ELSE $defaultPct END)"
      }
    s"""WITH rated AS (
       |  SELECT doc_id, source,
       |    ($rateExpr // 100)
       |      + (CASE WHEN ${docIdBucketSql(100)} < $rateExpr % 100
       |         THEN 1 ELSE 0 END) AS copies
       |  FROM documents),
       |exploded AS (
       |  SELECT doc_id, source,
       |    CAST(unnest(range(1, copies + 1)) AS INT) AS epoch
       |  FROM rated)
       |SELECT doc_id, source, epoch,
       |  md5('$seed' || ':' || doc_id || ':' || epoch) AS order_key
       |FROM exploded""".stripMargin
  }

  /** The engine's shared content-stable document bucket: the
    * [[Md5Prefix]] of the stringified doc_id, mod `buckets` — the bucket
    * every bucket-keyed operator ([[hashSplit]], [[sampleBySource]],
    * [[packSequences]]) keys on.
    */
  def docIdBucketCol(buckets: Int): Column =
    Md5Prefix.bucket(col("doc_id").cast("string"), buckets)

  /** DuckDB twin of [[docIdBucketCol]]. */
  def docIdBucketSql(buckets: Int): String =
    s"${Md5Prefix.sql("CAST(doc_id AS VARCHAR)")} % $buckets"

  /** Deterministic stratified take: exactly `min(n, |group|)` docs per
    * group, picked by seeded-md5 order — balanced eval/holdout subsets
    * that are content-stable (adding docs elsewhere never changes an
    * existing group's picks ahead of the boundary, and reruns are
    * byte-identical on any partitioning/engine). The md5 hex string
    * itself is the sort key: lowercase-hex ASCII orders identically in
    * any engine, no integer conversion needed.
    *
    * Scale shape: rank-≤-n over a window LOOKS like a full per-group
    * sort, but Spark 4 plans the filter as `WindowGroupLimit` — each
    * task keeps a per-group top-n heap BEFORE the shuffle (PlanSpec
    * pins it), so skewed groups ship n rows per task, not their share
    * of 100 TB.
    */
  def stratifiedTake(documents: DataFrame, groupCol: String, n: Int,
                     seed: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = md5(concat(lit(seed + ":"), col("doc_id").cast("string")).cast("binary"))
    documents
      .select(col("doc_id"), col(groupCol), ord.as("pick_order"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col(groupCol)).orderBy(col("pick_order").asc, col("doc_id").asc)))
      .filter(col("rn") <= n)
      .select(col("doc_id"), col(groupCol), col("rn"))
  }

  /** DuckDB twin of [[stratifiedTake]]. */
  def stratifiedTakeOracle(groupCol: String, n: Int, seed: String): String =
    s"""SELECT doc_id, $groupCol, CAST(rn AS INT) AS rn FROM (
       |  SELECT doc_id, $groupCol,
       |    row_number() OVER (PARTITION BY $groupCol
       |      ORDER BY md5('$seed:' || CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
       |  FROM documents) WHERE rn <= $n""".stripMargin

  /** Corpus vocabulary: token -> frequency, top `topK` by count with a
    * deterministic token tie-break — the seed step for building a
    * tokenizer vocab. Shape at scale: explode is a projection, the count
    * is a partial+final hash aggregate (map-side combine carries one row
    * per distinct token per task, not per occurrence), and the top-K
    * plans as TakeOrderedAndProject — per-partition heaps, no global
    * sort of the vocabulary.
    */
  def vocab(documents: DataFrame, topK: Int = 500): DataFrame =
    documents
      .select(explode(split(trim(col("text")), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token").asc)
      .limit(topK)

  def vocabOracle(topK: Int): String =
    s"""WITH toks AS (
       |  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token FROM documents)
       |SELECT token, count(*) AS freq FROM toks WHERE length(token) > 0
       |GROUP BY token ORDER BY freq DESC, token ASC LIMIT $topK""".stripMargin

  /** TF-IDF top-`k` terms per document — the classic relevance ranking,
    * kept bit-exact across engines by avoiding `log` entirely: with a
    * fixed corpus the ranking induced by `tf * log(N/df)` is the same as
    * by the rational score `tf * N / df` (log is monotone), and the
    * rational score is ONE IEEE double division of exact integers —
    * engine-identical, unlike libm's `log`.
    *
    * Shape at scale: the TF aggregate is partial+final on (doc, token)
    * — one row per distinct pair per task after map-side combine; DF
    * rides a token-partitioned window over the already-reduced TF frame
    * (vocabulary-sized, not occurrence-sized); the corpus size N joins
    * in as a broadcast scalar (never a driver pull); and the per-doc
    * top-k plans as `WindowGroupLimit` (map-side per-group heaps,
    * pinned in PlanSpec) — a skewed doc ships k candidate rows per
    * task, not its whole vocabulary.
    */
  def tfidfTopTerms(documents: DataFrame, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = documents
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val nDocs = documents.agg(count(lit(1)).as("n_docs"))
    tf.withColumn("df", count(lit(1)).over(Window.partitionBy(col("token"))))
      .crossJoin(broadcast(nDocs))
      .withColumn("score", (col("tf") * col("n_docs")).cast("double") / col("df"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("token").asc)))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("token"), col("tf"), col("df"), col("score"),
        col("rk").cast("int").as("rk"))
  }

  def tfidfOracle(k: Int): String =
    s"""WITH tf AS (
       |  SELECT doc_id, token, count(*) AS tf FROM (
       |    SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
       |    FROM documents)
       |  WHERE length(token) > 0 GROUP BY 1, 2),
       |scored AS (
       |  SELECT doc_id, token, tf,
       |    count(*) OVER (PARTITION BY token) AS df,
       |    CAST(tf * (SELECT count(*) FROM documents) AS DOUBLE)
       |      / count(*) OVER (PARTITION BY token) AS score
       |  FROM tf)
       |SELECT doc_id, token, tf, df, score, rk FROM (
       |  SELECT *, CAST(row_number() OVER (
       |    PARTITION BY doc_id ORDER BY score DESC, token ASC) AS INT) AS rk
       |  FROM scored)
       |WHERE rk <= $k""".stripMargin

  /** q54-style shared-literal expressions for the chi-square drift
    * statistic: expected cells and per-category contributions, parsed
    * identically by Spark and DuckDB (all IEEE ops on exact integer
    * inputs — chi-square needs no libm, unlike PSI/KL which need log
    * and could never hash-gate).
    */
  private val chi2Exprs: Seq[String] = {
    val ea = "((CAST(n_a + n_b AS DOUBLE) * t_a) / (t_a + t_b))"
    val eb = "((CAST(n_a + n_b AS DOUBLE) * t_b) / (t_a + t_b))"
    Seq(
      s"$ea AS exp_a",
      s"$eb AS exp_b",
      s"(n_a - $ea) * (n_a - $ea) / $ea + (n_b - $eb) * (n_b - $eb) / $eb AS chi2_contrib")
  }

  /** t16: categorical drift monitor between two md5 halves of the
    * corpus — the two-sample chi-square over the `lang` distribution,
    * the pipeline health check that catches a skewed ingest batch. Per
    * category: observed counts in both halves, expected under
    * homogeneity, and the chi-square contribution; the decision
    * statistic is the contribution sum (driver-side or a downstream
    * agg — left per-category here so the gate pins every cell).
    * One partial+final count pass over the corpus; the contingency
    * frame is category-sized, and the half totals join in as one
    * broadcast row.
    */
  def chi2Drift(documents: DataFrame): DataFrame = {
    val g = documents
      .select(col("lang"), docIdBucketCol(100).as("bucket"))
      .groupBy(col("lang"))
      .agg(
        sum(when(col("bucket") < 50, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("bucket") >= 50, 1L).otherwise(0L)).as("n_b"))
    val totals = g.agg(sum(col("n_a")).as("t_a"), sum(col("n_b")).as("t_b"))
    g.crossJoin(broadcast(totals))
      .selectExpr(Seq("lang", "n_a", "n_b") ++ chi2Exprs: _*)
      .orderBy(col("lang"))
  }

  def chi2DriftOracle: String =
    s"""WITH g AS (
       |  SELECT lang,
       |    CAST(sum(CASE WHEN bucket < 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |    CAST(sum(CASE WHEN bucket >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
       |  FROM (SELECT lang, ${docIdBucketSql(100)} AS bucket FROM documents)
       |  GROUP BY 1),
       |t AS (
       |  SELECT g.*, tt.t_a, tt.t_b FROM g CROSS JOIN (
       |    SELECT CAST(sum(n_a) AS BIGINT) AS t_a,
       |           CAST(sum(n_b) AS BIGINT) AS t_b FROM g) tt)
       |SELECT lang, n_a, n_b,
       |  ${chi2Exprs.mkString(",\n  ")}
       |FROM t ORDER BY lang""".stripMargin

  /** Shared-literal expressions for the KS statistic cells: the ECDF
    * gap at each value, kept EXACT as the integer cross product
    * `|c_a*t_b - c_b*t_a|` (= gap * t_a*t_b), with the one IEEE
    * division only in the reported `ecdf_gap`.
    */
  private val ksExprs: Seq[String] = {
    val d = "abs(c_a * t_b - c_b * t_a)"
    Seq(
      s"CAST($d AS BIGINT) AS d_num",
      s"CAST($d AS DOUBLE) / (CAST(t_a AS DOUBLE) * CAST(t_b AS DOUBLE)) AS ecdf_gap")
  }

  /** t17: numeric drift monitor — the two-sample Kolmogorov–Smirnov
    * statistic over the `n_chars` distribution between the two md5
    * halves of the corpus (t16's chi-square is the categorical twin;
    * KS is the numeric one — shape drift a mean/variance check misses).
    * Emitted per distinct value with both cumulative counts and the
    * exact integer ECDF-gap numerator, so the gate pins every step of
    * both ECDFs; the KS statistic is the max `ecdf_gap` row, visible in
    * the output rather than reduced away.
    *
    * The cumulative counts go through [[graft.transform.Cumulative]]:
    * a global `sum OVER (ORDER BY v)` would pull the whole
    * distinct-value frame into ONE task; the two-level prefix sum
    * keeps every window partition-local at any cardinality (the
    * 100 TB-safe ECDF). The corpus itself is touched once, by the
    * partial+final count aggregation.
    */
  def ksDrift(documents: DataFrame): DataFrame = {
    val g = documents
      // a document with unknown n_chars has no position on the ECDF
      // (and NULL sorts differently in the two engines' windows — Spark
      // NULLS FIRST, DuckDB NULLS LAST — so keeping it would shift the
      // whole cumulative curve divergently): excluded, oracle mirrors
      .filter(col("n_chars").isNotNull)
      .select(col("n_chars").as("v"), docIdBucketCol(100).as("bucket"))
      .groupBy(col("v"))
      .agg(
        sum(when(col("bucket") < 50, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("bucket") >= 50, 1L).otherwise(0L)).as("n_b"))
    // equi-width value bins from broadcast min/max: deterministic and
    // monotone in v — the bucket must derive from the DATA, never the
    // physical layout (see Cumulative's scaladoc)
    val bounds = g.agg(min(col("v")).as("_v0"), max(col("v")).as("_v1"))
    val binned = g.crossJoin(broadcast(bounds))
    val bucket = floor((col("v") - col("_v0")) * lit(32L) /
      (col("_v1") - col("_v0") + lit(1L))).cast("int")
    // materialize: the ECDF input is a corpus-wide groupBy whose output
    // is tiny (distinct lengths) — checkpointing it is near-free and the
    // agg evaluates once instead of twice (r17 A/B,
    // bench_records/r17_cumulative_ab.json)
    val cum = graft.transform.Cumulative.runningTotals(
      binned, "v", bucket, Seq("n_a" -> "c_a", "n_b" -> "c_b"),
      materialize = true)
    val totals = g.agg(sum(col("n_a")).as("t_a"), sum(col("n_b")).as("t_b"))
    cum.drop("_v0", "_v1").crossJoin(broadcast(totals))
      .selectExpr(Seq("v", "n_a", "n_b", "c_a", "c_b", "t_a", "t_b") ++ ksExprs: _*)
      .orderBy(col("v"))
  }

  def ksDriftOracle: String =
    s"""WITH g AS (
       |  SELECT n_chars AS v,
       |    CAST(sum(CASE WHEN bucket < 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |    CAST(sum(CASE WHEN bucket >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
       |  FROM (SELECT n_chars, ${docIdBucketSql(100)} AS bucket FROM documents
       |        WHERE n_chars IS NOT NULL)
       |  GROUP BY 1),
       |c AS (
       |  SELECT v, n_a, n_b,
       |    CAST(sum(n_a) OVER w AS BIGINT) AS c_a,
       |    CAST(sum(n_b) OVER w AS BIGINT) AS c_b
       |  FROM g
       |  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |t AS (
       |  SELECT c.*, tt.t_a, tt.t_b FROM c CROSS JOIN (
       |    SELECT CAST(sum(n_a) AS BIGINT) AS t_a,
       |           CAST(sum(n_b) AS BIGINT) AS t_b FROM g) tt)
       |SELECT v, n_a, n_b, c_a, c_b, t_a, t_b,
       |  ${ksExprs.mkString(",\n  ")}
       |FROM t ORDER BY v""".stripMargin

  /** Count-min cell hash for sketch row `j`: the [[Md5Prefix]] of
    * `"j:token"` mod `width` — the engine's md5-prefix scheme seeded
    * per row, so the d hash functions are independent-enough AND
    * engine-replayable (a count-min built on murmur/xxhash could never
    * be hash-gated against another engine).
    */
  private def cmHashCol(token: Column, j: Int, width: Int): Column =
    Md5Prefix.bucket(concat(lit(s"$j:"), token), width)

  /** Count-min sketch of the corpus token frequencies as DATA: `depth ×
    * width` cells `(r, c, cnt)`. The sketch is THE sublinear-memory
    * frequency structure at 100 TB — cells bound memory at `depth ×
    * width` counters regardless of vocabulary size, merge by cell-wise
    * addition across shards/days (what the two-level aggregate here does
    * across partitions), and answer point queries with one-sided error
    * (`estimate ≥ true`, over-count ≤ εN with ε = e/width at the usual
    * depths).
    *
    * Shape: occurrences reduce per-token FIRST (the same map-side-combine
    * aggregate as [[vocab]] — one row per distinct token per task, not
    * per occurrence), then the distinct-token frame (vocabulary-sized)
    * explodes ×depth into cell contributions. The ×depth blow-up touches
    * only the reduced frame — never the raw token stream.
    */
  def countMinSketch(documents: DataFrame, depth: Int = 4, width: Int = 1024): DataFrame =
    documents
      .select(explode(split(trim(col("text")), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("freq"))
      .select(col("freq"), explode(array((0 until depth).map(j =>
        struct(lit(j).as("r"), cmHashCol(col("token"), j, width).as("c"))): _*)).as("rc"))
      .groupBy(col("rc.r").as("r"), col("rc.c").as("c"))
      .agg(sum(col("freq")).as("cnt"))

  /** Point-query the sketch for the deterministic top-`probeK` tokens:
    * `cm_estimate = min over rows of cell(r, hash_r(token))`, next to the
    * exact count — the gate checks the whole build+probe path and the
    * spec pins the one-sided error (`cm_estimate ≥ freq`, equal when the
    * token's cells are collision-free).
    */
  def countMinEstimates(documents: DataFrame, depth: Int = 4, width: Int = 1024,
                        probeK: Int = 20): DataFrame = {
    val sketch = countMinSketch(documents, depth, width)
    vocab(documents, probeK)
      .select(col("token"), col("freq"), explode(array((0 until depth).map(j =>
        struct(lit(j).as("r"), cmHashCol(col("token"), j, width).as("c"))): _*)).as("rc"))
      .join(sketch, col("rc.r") === col("r") && col("rc.c") === col("c"))
      .groupBy(col("token"), col("freq"))
      .agg(min(col("cnt")).as("cm_estimate"))
  }

  /** DuckDB replay of [[countMinEstimates]]: identical per-row md5 cell
    * hashes, identical two-level build, identical min-over-rows probe.
    */
  def countMinOracle(depth: Int = 4, width: Int = 1024, probeK: Int = 20): String =
    s"""WITH toks AS (
       |  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token FROM documents),
       |tf AS (
       |  SELECT token, count(*) AS freq FROM toks
       |  WHERE length(token) > 0 GROUP BY token),
       |cells AS (
       |  SELECT j, ${Md5Prefix.sql("j || ':' || token")} % $width AS c,
       |    CAST(SUM(freq) AS BIGINT) AS cnt
       |  FROM tf, range(0, $depth) t(j)
       |  GROUP BY 1, 2),
       |top AS (SELECT token, freq FROM tf ORDER BY freq DESC, token ASC LIMIT $probeK),
       |probes AS (
       |  SELECT token, freq, j,
       |    ${Md5Prefix.sql("j || ':' || token")} % $width AS c
       |  FROM top, range(0, $depth) t(j))
       |SELECT p.token, p.freq, CAST(MIN(s.cnt) AS BIGINT) AS cm_estimate
       |FROM probes p JOIN cells s ON p.j = s.j AND p.c = s.c
       |GROUP BY 1, 2""".stripMargin

  /** Sequence packing: assign documents to fixed-token-budget training
    * bins (the pre-tokenization step that concatenates documents into
    * ~context-length sequences). Documents shard by the engine's md5
    * bucket scheme and pack WITHIN shards — embarrassingly parallel, the
    * shape a 1000-executor packer actually runs (a single global
    * cumulative sum would serialize the corpus through one task) — with
    * a deterministic doc_id order inside each shard, so the layout is
    * reproducible across runs, engines and cluster sizes. A document
    * starts in bin floor(tokens_before / budget); `bin_offset` is its
    * start position within the bin, so downstream writers can place
    * every doc without re-scanning.
    */
  def packSequences(documents: DataFrame, tokenBudget: Int, nShards: Int = 256): DataFrame =
    packSequencesBy(documents, tokenBudget, nShards, nWordsCol(col("text")))

  /** [[packSequences]] with a caller-chosen token counter — in
    * particular [[graft.functions.BpeTokenCount]], so bins budget by
    * tokenizer-faithful counts instead of whitespace words (whitespace
    * under-counts what a model actually consumes; c4b gates the BPE
    * form against the recursive-CTE replay).
    */
  def packSequencesBy(documents: DataFrame, tokenBudget: Int, nShards: Int,
                      tokens: Column): DataFrame = {
    require(tokenBudget > 0 && nShards > 0, s"budget=$tokenBudget shards=$nShards")
    import org.apache.spark.sql.expressions.Window
    val shard = docIdBucketCol(nShards)
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    documents
      .select(col("doc_id"), shard.cast("int").as("shard"),
        tokens.cast("long").as("n_tokens"))
      // a doc whose token budget is incomputable (null text under a
      // tokenizer-derived count) cannot be packed — excluded, like the
      // t9 contract; a null would also silently skip in the running sum
      // while still claiming a bin row
      .filter(col("n_tokens").isNotNull)
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(
        col("doc_id"), col("shard"), col("n_tokens"),
        expr(s"cum_before DIV $tokenBudget").as("bin"),
        pmod(col("cum_before"), lit(tokenBudget.toLong)).as("bin_offset"))
  }

  def packSequencesOracle(tokenBudget: Int, nShards: Int): String =
    s"""WITH t AS (SELECT doc_id,
       |  CAST(${docIdBucketSql(nShards)} AS INT) AS shard,
       |  CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens
       |FROM documents WHERE text IS NOT NULL),
       |${packOracleTail(tokenBudget)}""".stripMargin

  /** The BPE-budget packing oracle (c4b): identical shard/window/bin
    * arithmetic over the recursive-CTE token counts.
    */
  def packSequencesBpeOracle(tokenBudget: Int, nShards: Int): String =
    s"""WITH RECURSIVE
       |${graft.functions.BpeTokenize.oracleCtes("bpe")},
       |t AS (SELECT d.doc_id,
       |  CAST(${docIdBucketSql(nShards)} AS INT) AS shard,
       |  b.n_bpe_tokens AS n_tokens
       |FROM documents d JOIN bpe b USING (doc_id)),
       |${packOracleTail(tokenBudget)}""".stripMargin

  /** Shared tail of the packing oracles: cumulative-before window within
    * shards over a `t(doc_id, shard, n_tokens)` CTE, then bin math.
    */
  private def packOracleTail(tokenBudget: Int): String =
    s"""c AS (SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (
       |    PARTITION BY shard ORDER BY doc_id ASC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
       |FROM t)
       |SELECT doc_id, shard, n_tokens,
       |  cum_before // $tokenBudget AS bin,
       |  cum_before % $tokenBudget AS bin_offset
       |FROM c""".stripMargin

  /** Tokenizer-faithful per-doc token counts (t9): the native greedy
    * longest-match count beside the whitespace count it refines.
    */
  def bpeTokenCounts(documents: DataFrame): DataFrame =
    documents
      // null-text docs have no tokenization (the oracle's recursive CTE
      // naturally emits no row for them) — excluded by the text-family
      // contract: text operators run over documents WITH text
      .filter(col("text").isNotNull)
      .select(
        col("doc_id"),
        nWordsCol(col("text")).cast("long").as("n_ws_tokens"),
        graft.functions.BpeTokenCount.of(col("text")).as("n_bpe_tokens"))

  def bpeTokenCountsOracle: String =
    s"""WITH RECURSIVE
       |${graft.functions.BpeTokenize.oracleCtes("bpe")}
       |SELECT d.doc_id,
       |  CAST(len(regexp_extract_all(d.text, '\\S+')) AS BIGINT) AS n_ws_tokens,
       |  b.n_bpe_tokens
       |FROM documents d JOIN bpe b USING (doc_id)""".stripMargin

  /** Deterministic content-stable train/val/test assignment: bucket =
    * md5(doc_id) mod 100 (the engine's shared md5 hex-prefix integer
    * scheme), split by cumulative percentage. The standard
    * training-pipeline split — unlike `randomSplit` it is reproducible
    * across runs, engines, partitionings and cluster sizes, documents
    * keep their split when the corpus grows, and the oracle replays it
    * exactly. Pure projection: no shuffle, any scale.
    */
  def hashSplit(documents: DataFrame, trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct < 100,
      s"invalid split: train=$trainPct val=$valPct")
    val bucket = docIdBucketCol(100)
    documents.select(
      col("doc_id"),
      bucket.cast("int").as("bucket"),
      when(bucket < trainPct, lit("train"))
        .when(bucket < trainPct + valPct, lit("val"))
        .otherwise(lit("test")).as("split"))
  }

  def hashSplitOracle(trainPct: Int, valPct: Int): String =
    s"""SELECT doc_id,
       |  CAST(${docIdBucketSql(100)} AS INT) AS bucket,
       |  CASE WHEN ${docIdBucketSql(100)} < $trainPct THEN 'train'
       |       WHEN ${docIdBucketSql(100)} < ${trainPct + valPct} THEN 'val'
       |       ELSE 'test' END AS split
       |FROM documents""".stripMargin
}
