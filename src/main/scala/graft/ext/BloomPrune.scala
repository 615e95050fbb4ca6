package graft.ext

import graft.functions.Md5Prefix
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SQL-replayable Bloom-filter membership: the constant-memory "have I
  * seen this key?" structure for incremental ingest at 100 TB, where
  * the exact standing-corpus key set is too large to join every batch
  * against, but `m` bits summarize it with one-sided error (no false
  * negatives, bounded false positives).
  *
  * Spark ships a built-in `BloomFilterAggregate`, but its murmur-based
  * bit layout can never be replayed by another engine — so, like the
  * count-min sketch (t12), this one derives its `numHashes` bit
  * positions from the engine's shared md5-prefix scheme
  * ([[graft.functions.Md5Prefix]]): both engines compute the identical
  * bit set, which is what makes the whole operator hash-gateable.
  *
  * Representation: the filter is DATA — the distinct set of SET bit
  * positions (at most `m` rows, integers only). Build is one
  * map-side-combinable distinct over `keys × numHashes` positions;
  * probe broadcast-joins the (tiny) position set and a key is a member
  * iff ALL of its positions are set (`min(hit)` per key). The sparse
  * set form merges across shards/days by union-distinct, exactly like
  * the count-min's cell-wise add.
  *
  * Sizing: false-positive rate is `(1 - e^(-kn/m))^k` — `m` must scale
  * with the key count (~`1.44 · k · n / ln 2` bits for the optimum; ~10
  * bits/key at k=3 keeps fp under 1%). The gated t14 fixes `m = 2048`
  * for a ~400-key base, which saturates if probed at 10× the corpus —
  * that is the parameter doing its job, not the operator failing: the
  * one-sided contract (zero false negatives) holds at ANY fill level
  * (CorpusOpsSpec pins it), only precision degrades.
  */
object BloomPrune {

  /** md5-prefix bit position of `key` for hash lane `j`, in `[0, m)`. */
  private def posCol(key: Column, j: Int, m: Int): Column =
    Md5Prefix.bucket(concat(lit(s"$j:"), key), m)

  private def posSql(key: String, j: String, m: Int): String =
    s"${Md5Prefix.sql(s"$j || ':' || $key")} % $m"

  /** The filter: distinct set bit positions over the base keys. */
  def build(base: DataFrame, keyCol: String, m: Int, numHashes: Int): DataFrame =
    base
      .select(explode(array((0 until numHashes).map(j =>
        posCol(col(keyCol), j, m)): _*)).as("pos"))
      .distinct()

  /** Probe: one row per probe key with `bloom_hit` (all positions set)
    * and `exact_hit` (true membership, for the false-positive audit).
    * The bloom side is at most `m` integers — always broadcast; the
    * exact side is the real join the filter exists to avoid, carried
    * here only because the operator's CONTRACT (one-sided error) is
    * part of the gated output.
    */
  def membership(base: DataFrame, probe: DataFrame, idCol: String, keyCol: String,
                 m: Int, numHashes: Int): DataFrame = {
    val bloom = build(base, keyCol, m, numHashes).withColumn("set1", lit(1))
    val ppos = probe
      .select(col(idCol), col(keyCol),
        explode(array((0 until numHashes).map(j =>
          posCol(col(keyCol), j, m)): _*)).as("pos"))
    val perKey = ppos
      .join(broadcast(bloom), Seq("pos"), "left")
      .groupBy(col(idCol), col(keyCol))
      .agg(min(coalesce(col("set1"), lit(0))).as("bloom_hit"))
    val baseKeys = base.select(col(keyCol)).distinct().withColumn("seen1", lit(1))
    perKey
      .join(baseKeys, Seq(keyCol), "left")
      .select(col(idCol), col("bloom_hit").cast("int").as("bloom_hit"),
        coalesce(col("seen1"), lit(0)).cast("int").as("exact_hit"))
  }

  /** t14: incremental-ingest membership over the documents table — the
    * standing corpus (md5 doc buckets < `splitAt`) builds the filter, the
    * arriving batch (buckets >= `splitAt`) probes it, keyed on the
    * 5-token text PREFIX digest (the boilerplate/header-membership
    * shape — full-text digests never collide on this corpus, prefixes
    * genuinely do, so both `exact_hit=1` members and false-positive
    * candidates exist in the gated output).
    */
  def docMembership(documents: DataFrame, m: Int = 2048, numHashes: Int = 3,
                    splitAt: Int = 80): DataFrame = {
    val keyed = documents.select(col("doc_id"),
      md5(array_join(slice(split(trim(col("text")), "\\s+"), 1, 5), " ")
        .cast("binary")).as("key"),
      TextStats.docIdBucketCol(100).as("bucket"))
    membership(keyed.filter(col("bucket") < splitAt), keyed.filter(col("bucket") >= splitAt),
      "doc_id", "key", m, numHashes)
  }

  def docMembershipOracle(m: Int = 2048, numHashes: Int = 3, splitAt: Int = 80): String = {
    val js = (0 until numHashes).map(_.toString).mkString(", ")
    s"""WITH keyed AS (
       |  SELECT doc_id,
       |    md5(array_to_string(string_split_regex(trim(text), '\\s+')[1:5], ' ')) AS key,
       |    ${TextStats.docIdBucketSql(100)} AS bucket
       |  FROM documents),
       |lanes AS (SELECT unnest([$js]) AS j),
       |bloom AS (
       |  SELECT DISTINCT ${posSql("key", "j", m)} AS pos
       |  FROM keyed, lanes WHERE bucket < $splitAt),
       |ppos AS (
       |  SELECT doc_id, key, ${posSql("key", "j", m)} AS pos
       |  FROM keyed, lanes WHERE bucket >= $splitAt),
       |perkey AS (
       |  SELECT p.doc_id, p.key,
       |         min(CASE WHEN b.pos IS NULL THEN 0 ELSE 1 END) AS bloom_hit
       |  FROM ppos p LEFT JOIN bloom b ON p.pos = b.pos
       |  GROUP BY 1, 2)
       |SELECT k.doc_id, CAST(k.bloom_hit AS INT) AS bloom_hit,
       |  CAST(CASE WHEN s.key IS NULL THEN 0 ELSE 1 END AS INT) AS exact_hit
       |FROM perkey k LEFT JOIN (
       |  SELECT DISTINCT key FROM keyed WHERE bucket < $splitAt) s
       |  ON k.key = s.key""".stripMargin
  }
}
