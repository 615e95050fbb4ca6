package graft.ext

import graft.core.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SimHash document fingerprinting.
  *
  * 64-bit SimHash over whitespace tokens: each token hashes to 64 bits
  * (md5 hex prefix, shared with the DuckDB oracle — xxhash64 is the
  * production drop-in); bit b of the fingerprint is 1 iff the sum over
  * token *occurrences* of (+1 if token bit b set else -1) is positive.
  * Near-duplicates differ in few bits (low Hamming distance).
  *
  * Bits are extracted portably — hex digit -> value via
  * `instr('0123456789abcdef', c) - 1`, then `floor(v / 2^s) % 2` — the
  * exact same arithmetic runs on both engines, so fingerprints match
  * bit-for-bit.
  *
  * Scale: one explode + one 64-column aggregate per doc; the shuffle
  * carries (doc_id, 64 small ints). Hamming-bucket pairing (split the
  * fingerprint into B = maxHamming+1 near-even blocks; a pair within
  * Hamming <= maxHamming differs in at most maxHamming blocks, so by
  * pigeonhole it shares at least one exact block) makes pair generation
  * an equi-join, as with MinHash banding.
  */
object SimHash {

  /** Default lane width for the packed bit-count aggregate: each hex
    * digit's 4 bits are spread into 4 lanes of 15 bits inside one long,
    * so 16 packed sums replace 64 per-bit sums. Sound while every doc
    * has fewer than 2^15 = 32768 tokens (max packed sum ~2^60, no signed
    * overflow in either engine); the 100-TB variant with million-token
    * docs widens to 30-bit lanes (2 per long, 32 aggregates) — pass
    * `laneBits = 30` to [[fingerprintsRelational]], which derives the
    * lane layout for any width (ExtSpec pins 30-bit == 15-bit == the
    * native expression).
    *
    * The precondition is ENFORCED, not just documented: a doc at or above
    * 2^laneBits tokens would carry per-bit counts into the adjacent lane
    * and — because the oracle replays the identical packed arithmetic —
    * corrupt fingerprints invisibly to the parity check. Both engines
    * raise an error on such a doc ([[fingerprints]] via `raise_error`,
    * the oracle via DuckDB `error()`).
    */
  val laneBits = 15

  /** Lane geometry for a given width: how many lanes fit in the 63
    * non-sign bits of a long, how many longs a digit's 4 bits need
    * (15 -> 4 lanes/long, 1 long/digit; 30 -> 2 lanes/long, 2 longs/digit),
    * and one digit-value->packed-bits encoding table per long-slot.
    * Shared by [[fingerprintsRelational]] and the parametric oracle so
    * both engines replay the identical packed arithmetic at ANY width.
    */
  private[ext] def laneGeometry(laneBits: Int): (Int, Int, Seq[IndexedSeq[Long]]) = {
    val lanesPerLong = 63 / laneBits
    require(lanesPerLong >= 1, s"laneBits $laneBits exceeds a long's capacity")
    val longsPerDigit = (4 + lanesPerLong - 1) / lanesPerLong
    val encodings = (0 until longsPerDigit).map { li =>
      (0 until 16).map { v =>
        (0 until 4).filter(b => b / lanesPerLong == li)
          .map(b => ((v >> b) & 1).toLong << (laneBits * (b % lanesPerLong))).sum
      }
    }
    (lanesPerLong, longsPerDigit, encodings)
  }

  /** (doc_id, simhash) where simhash is a 64-char '0'/'1' string,
    * bit 0 first — ONE narrow pass through the native
    * [[graft.functions.SimHashFingerprint]] expression (no token
    * explode, no packed-sum shuffle); token-less docs are filtered,
    * exactly as the explode formulation produced no row for them.
    * `SimHashSpec` pins native == the lane-packed aggregate formulation
    * ([[fingerprintsRelational]], kept as the executable spec the
    * DuckDB oracle replays).
    */
  def fingerprints(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"),
        graft.functions.SimHashFingerprint.of(col("text")).as("simhash"))
      .filter(col("simhash").isNotNull)

  /** The lane-packed aggregate formulation of [[fingerprints]] —
    * executable specification only (the shipped path is the native
    * expression).
    *
    * The md5 digest is materialized as a column *before* the aggregate:
    * Catalyst does not share common subexpressions across aggregate
    * expressions, so inlining the digest would evaluate md5 per
    * aggregate per token (measured 15s -> ~2s at sf0.1 for hoisting it).
    * Per-row work is then 16 lookup-array fetches (one per hex digit)
    * and the aggregate keeps 16 packed long sums + 1 count instead of
    * 64 bit-sums; `s_b = 2*cnt_b - n > 0  <=>  2*cnt_b > n` recovers
    * each bit after the aggregate. Integer sums are order-independent,
    * so the DuckDB oracle matches bit-for-bit.
    */
  private[graft] def fingerprintsRelational(documents: DataFrame,
                                            laneBits: Int = SimHash.laneBits): DataFrame = {
    val (lanesPerLong, longsPerDigit, encodings) = laneGeometry(laneBits)
    val mask = (1L << laneBits) - 1
    val maxToks = 1L << laneBits
    val toks = documents
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
      .withColumn("h", md5(col("token").cast("binary")))
    val withPacked = (0 until 16).foldLeft(toks) { (df, d) =>
      encodings.zipWithIndex.foldLeft(df) { case (df2, (enc, li)) =>
        df2.withColumn(s"e_${d}_$li",
          element_at(array(enc.map(lit): _*),
            conv(substring(col("h"), d + 1, 1), 16, 10).cast("int") + 1))
      }
    }
    val aggs = count(lit(1)).as("n") +:
      (for { d <- 0 until 16; li <- 0 until longsPerDigit }
        yield sum(col(s"e_${d}_$li")).as(s"p_${d}_$li"))
    val sums = withPacked.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
    val bitChars = (0 until 64).map { j =>
      val d = j / 4
      val b = j % 4
      val cnt = shiftright(col(s"p_${d}_${b / lanesPerLong}"), laneBits * (b % lanesPerLong))
        .bitwiseAND(lit(mask))
      when(cnt * 2 > col("n"), lit("1")).otherwise(lit("0"))
    }
    val guarded = when(col("n") >= lit(maxToks),
      raise_error(concat(
        lit("simhash lane overflow: doc "), col("doc_id").cast("string"),
        lit(" has "), col("n").cast("string"),
        lit(s" tokens (limit ${maxToks - 1}); widen laneBits"))).cast("string"))
      .otherwise(concat(bitChars: _*))
    sums.select(col("doc_id"), guarded.as("simhash"))
  }

  /** Parametric DuckDB twin of [[fingerprintsRelational]]: the identical
    * lane-packed arithmetic at any width, so the wide-lane (30-bit,
    * million-token) path is oracle-gated, not just unit-tested.
    */
  def fingerprintsOracle(laneBits: Int = SimHash.laneBits): String = {
    val (lanesPerLong, longsPerDigit, encodings) = laneGeometry(laneBits)
    val mask = (1L << laneBits) - 1
    val maxToks = 1L << laneBits
    val packedSums = (for { d <- 0 until 16; li <- 0 until longsPerDigit } yield {
      val encList = encodings(li).mkString("[", ", ", "]")
      val v = s"(instr('0123456789abcdef', substr(md5(token), ${d + 1}, 1)) - 1)"
      s"CAST(SUM(list_extract($encList, $v + 1)) AS BIGINT) AS p_${d}_$li"
    }).mkString(", ")
    val bitChars = (0 until 64).map { j =>
      val d = j / 4
      val b = j % 4
      s"CASE WHEN ((p_${d}_${b / lanesPerLong} >> ${laneBits * (b % lanesPerLong)}) & $mask) * 2 > n THEN '1' ELSE '0' END"
    }.mkString(" || ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS token FROM documents),
       |toks2 AS (SELECT doc_id, token FROM toks WHERE length(token) > 0),
       |sums AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n, $packedSums
       |  FROM toks2 GROUP BY doc_id)
       |SELECT doc_id,
       |  CASE WHEN n >= $maxToks
       |       THEN error('simhash lane overflow: doc ' || doc_id || ' has ' || n || ' tokens')
       |       ELSE $bitChars END AS simhash
       |FROM sums""".stripMargin
  }

  /** Block layout for a given maxHamming: B = maxHamming+1 blocks of
    * near-even widths covering all 64 bits ((offset, width) pairs). The
    * pigeonhole recall guarantee holds exactly when the block count
    * exceeds the Hamming budget, so the layout is DERIVED from
    * maxHamming rather than fixed — `pairs(_, 8)` really does guarantee
    * candidate recall to Hamming 8 (9 blocks), where a fixed 4-block
    * scheme would silently miss pairs with 4..8 diffs spread across all
    * four blocks.
    */
  private[graft] def blockLayout(maxHamming: Int): Seq[(Int, Int)] = {
    val b = maxHamming + 1
    require(b >= 1 && b <= 64, s"maxHamming must be in [0, 63], got $maxHamming")
    val widths = (0 until b).map(i => 64 / b + (if (i < 64 % b) 1 else 0))
    widths.scanLeft(0)(_ + _).zip(widths)
  }

  /** DuckDB oracle for [[pairs]]: same fingerprint CTE, B-block
    * pigeonhole candidates, and a generated 64-term Hamming sum.
    */
  def pairsOracle(maxHamming: Int, bucketCap: Int = 50): String = {
    val fpSql = fingerprintsOracle()
    val blocks = blockLayout(maxHamming).zipWithIndex
      .map { case ((off, w), i) =>
        s"SELECT doc_id, $i AS blk, substr(simhash, ${off + 1}, $w) AS bits FROM fp"
      }
      .mkString(" UNION ALL ")
    val ham = (0 until 64)
      .map(i => s"CASE WHEN substr(a_sh, ${i + 1}, 1) <> substr(b_sh, ${i + 1}, 1) THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH fp AS ($fpSql),
       |blocked AS ($blocks),
       |counted AS (
       |  SELECT doc_id, blk, bits,
       |    count(*) OVER (PARTITION BY blk, bits) AS bucket_n
       |  FROM blocked),
       |capped AS (SELECT doc_id, blk, bits FROM counted WHERE bucket_n <= $bucketCap),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM capped a JOIN capped b
       |    ON a.blk = b.blk AND a.bits = b.bits AND a.doc_id < b.doc_id),
       |withsh AS (
       |  SELECT doc_a, doc_b, fa.simhash AS a_sh, fb.simhash AS b_sh
       |  FROM cand JOIN fp fa ON doc_a = fa.doc_id JOIN fp fb ON doc_b = fb.doc_id)
       |SELECT doc_a, doc_b, CAST($ham AS INT) AS hamming
       |FROM withsh WHERE $ham <= $maxHamming""".stripMargin
  }

  /** One fingerprint block as an integer (for cheap pairwise Hamming:
    * `bit_count(xor)` per block instead of 64 char compares).
    */
  private def blockInt(offset: Int, width: Int) =
    (0 until width).map { b =>
      when(substring(col("simhash"), offset + b + 1, 1) === "1", lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Saturation guard bound, MEASURED (r19 verdict item 2;
    * `bench_records/r20_simhash_saturation.json`, which records the
    * probe's sweep and method): the pigeonhole
    * lane collapses when the mean block-bucket occupancy λ = n / 2^width
    * approaches the stop-bucket cap, because EVERY route of a
    * near-duplicate pair runs through family-shared blocks and the lane
    * has no discriminative-band rescue path. On the most favorable
    * corpus shape (flat, uniform fingerprints — real corpora saturate
    * EARLIER: measured occupancy is already overdispersed, max 150 at
    * mean 32), recall of reachable twins at the default 4×16-bit layout:
    * λ/cap 0.32 → 0.999, 0.64 → 0.950 (with wall time PEAKED there at
    * ~9× the 0.32 cost — the lane gets slow exactly where it starts
    * losing recall), 0.96 → 0.686, 1.28 → 0.354 — and the ratio
    * governs, not n alone (cap 25 at n=2²¹ reads 0.355 vs cap 50 at
    * n=2²² reading 0.354, identical to 3 decimals). The bound
    * 0.5 sits between the last ≥0.99 point and measurable degradation.
    * Past the ceiling prefer the MinHash banded lane (recall floor ~0.88
    * under the same adversarial shapes, r19 probe) or pre-group by a
    * family key.
    */
  private[graft] val maxOccupancyPerCap: Double = 0.5

  /** Near-duplicate candidates via (maxHamming+1)-block pigeonholing +
    * exact Hamming verify (<= maxHamming); layout from [[blockLayout]].
    *
    * Block values are materialized as integers once per doc (cached —
    * the frame self-joins, and the word-salad corpus makes block buckets
    * hot, so candidate pairs number in the millions); the per-pair cost
    * is then B x `bit_count(xor)` rather than 64 substring compares.
    * Narrower blocks (larger maxHamming) mean hotter buckets; the
    * stop-bucket cap below bounds the blow-up, at a documented recall
    * cost applied identically in the oracle.
    *
    * Cap sensitivity, MEASURED (`bench_records/r19_bucketcap_probe
    * .json`): this lane is structurally more cap-sensitive than the
    * MinHash bands — near-duplicates inside a template family have
    * near-identical fingerprints, so block buckets are family-sized and
    * there is no discriminative-band rescue path (recall of reachable
    * twins at cap 50: 0.705 overall, 0.16 in 2048-doc families at 212k
    * docs, vs MinHash's 0.88+; cap=∞ reads 1.0). The block space also
    * SATURATES with corpus size alone (r20 probe,
    * `bench_records/r20_simhash_saturation.json`): at the default
    * 4×16-bit layout the ceiling is λ = n/65536 ≈ 0.5·cap — about
    * 1.6M docs at cap 50 — past which even a flat, family-free corpus
    * loses recall to background block collisions (0.95 at 2²¹ docs,
    * 0.355 at 2²²). pairs() now FAILS LOUDLY past the measured bound
    * (see [[maxOccupancyPerCap]]); for corpora past the ceiling
    * use the MinHash banded lane (its 64-bit band space does not
    * saturate at terrestrial corpus sizes) or pre-group by a cheap
    * family key before pigeonholing.
    */
  def pairs(documents: DataFrame, maxHamming: Int = 3,
            bucketCap: Int = 50): DataFrame = Materialize.checkpointed { scope =>
    val layout = blockLayout(maxHamming)
    val nBlocks = layout.size
    val fpInts = scope.cache(fingerprints(documents)
      .select(col("doc_id") +: layout.zipWithIndex.map {
        case ((off, w), i) => blockInt(off, w).as(s"blk_$i")
      }: _*))
    // saturation guard (r20, measured — see [[maxOccupancyPerCap]]):
    // mean bucket occupancy λ = n / 2^minWidth must stay under the
    // bound × cap, else the cap silently drops the only routes
    // near-duplicate pairs have. The count materializes the cache the
    // self-join below reuses, so the extra job is ~free.
    val nDocs = fpInts.count()
    val minWidth = layout.map(_._2).min
    val lambda = nDocs.toDouble / (1L << minWidth)
    require(bucketCap == Int.MaxValue || lambda <= maxOccupancyPerCap * bucketCap,
      f"simhash pairs: block space saturated — $nDocs docs over ${layout.size} " +
        f"blocks of $minWidth bits gives mean bucket occupancy $lambda%.1f > " +
        f"$maxOccupancyPerCap x bucketCap=$bucketCap (measured collapse past this bound: " +
        f"recall 0.95 at ratio 0.64, 0.686 at 0.96, 0.354 at 1.28 — " +
        f"bench_records/r20_simhash_saturation.json). Use the MinHash banded " +
        f"lane for corpora this size, pre-group by a family key, or raise " +
        f"bucketCap (Int.MaxValue turns the cap and this guard off)")
    val blocked = fpInts.select(
      col("doc_id"), posexplode(array((0 until nBlocks).map(i => col(s"blk_$i")): _*))
        .as(Seq("block", "block_val")))
    // stop-bucket cap: a block value shared by thousands of docs (heavy
    // shared vocabulary) contributes k^2 candidate pairs and almost no
    // dedup signal — drop buckets above the cap (standard LSH practice;
    // the oracle applies the identical cap). Pair generation is the
    // single-shuffle bucket-collect ([[MinHashDedup.pairsFromBuckets]]).
    val cand = MinHashDedup.pairsFromBuckets(blocked, col("block"), col("block_val"), bucketCap)
    val withInts = cand
      .join(fpInts.toDF("doc_a" +: (0 until nBlocks).map(i => s"a_$i"): _*), "doc_a")
      .join(fpInts.toDF("doc_b" +: (0 until nBlocks).map(i => s"b_$i"): _*), "doc_b")
    val hamming = (0 until nBlocks)
      .map(i => bit_count(col(s"a_$i").bitwiseXOR(col(s"b_$i"))))
      .reduce(_ + _)
    withInts.withColumn("hamming", hamming)
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }
}
