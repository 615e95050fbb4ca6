package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming over the `documents` corpus — the streaming face
  * of the LLM-pipeline text operators (no reference counterpart; §2.11
  * north-star, same contract style as [[EventStream]]: the batch
  * operator IS the streaming correctness oracle).
  *
  * A training-data pipeline at 100 TB ingests continuously; the two
  * shapes that matter are (a) stateless per-document scoring, which
  * streams trivially because [[graft.ext.TextStats]] is a narrow
  * projection, and (b) stateful exact dedup, which becomes streaming
  * `dropDuplicates` on the content digest — one state row per distinct
  * digest, the digest (16 bytes) never the text.
  */
object DocStream {

  /** Schema of the documents source (TESTDATA layout). */
  val rawSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** File-based streaming read of a documents directory. */
  def readStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(rawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)

  /** Stateless per-doc token stats: the IDENTICAL
    * [[graft.ext.TextStats.tokenCounts]] projection, so the hash-gated
    * batch query (`t1_token_counts`) doubles as the streaming contract.
    */
  def tokenStats(docs: DataFrame): DataFrame =
    graft.ext.TextStats.tokenCounts(docs)

  /** Streaming exact dedup: first arrival per content digest survives.
    * State is one row per distinct digest — UNBOUNDED over an infinite
    * stream; use [[dedupWithinWatermark]] (the production variant) to
    * bound it with a time horizon.
    */
  def dedupByDigest(docs: DataFrame): DataFrame =
    docs
      .withColumn("digest", md5(col("text").cast("binary")))
      .dropDuplicates("digest")

  /** Streaming exact dedup with BOUNDED state: dedup-within-horizon
    * semantics via `dropDuplicatesWithinWatermark`. The first arrival per
    * digest is emitted; later arrivals of the same digest are dropped as
    * long as they land within `horizon` of the watermark; digest state
    * whose event time has fallen more than `horizon` behind the watermark
    * is evicted, so state size is O(distinct digests per horizon), not
    * O(all digests ever) — the property that makes a 100 TB continuous
    * ingest run forever. A re-arrival after eviction is treated as new
    * (emitted again): the horizon is the documented semantic trade for
    * bounded state. `tsCol` is the event/arrival timestamp column
    * (stamp one with `current_timestamp()` at ingest if the source has
    * none); StreamingSpec proves drop-within-horizon and
    * readmit-after-horizon against explicit micro-batches.
    */
  def dedupWithinWatermark(docs: DataFrame, tsCol: String, horizon: String): DataFrame =
    docs
      .withColumn("digest", md5(col("text").cast("binary")))
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("digest")

  /** Run [[tokenStats]] (test harness, as in
    * [[EventStream.runToCompletion]]) / [[dedupByDigest]] (the e8 gate)
    * over a static directory to completion via the in-memory sink.
    */
  def runStatsToCompletion(spark: SparkSession, dir: String): DataFrame =
    StreamRunner.toMemory(tokenStats(readStream(StreamRunner.session(spark), dir)),
      "append", "graft_doc_stats")(identity)

  def runDedupToCompletion(spark: SparkSession, dir: String): DataFrame =
    StreamRunner.toMemory(dedupByDigest(readStream(StreamRunner.session(spark), dir)),
      "append", "graft_doc_dedup")(identity)

  /** The production BOUNDED-state dedup ([[dedupWithinWatermark]]) as one
    * end-to-end call over a static directory. The corpus source carries
    * no event time, so a deterministic one is stamped from doc_id (one
    * second per doc) before the watermark — a live deployment stamps
    * arrival time at ingest instead. With the default 1-hour horizon a
    * whole sf0.1 corpus (5000 docs -> a ~83-minute stamped span) still
    * exercises eviction, while every true duplicate pair in the test
    * corpora lands within the horizon and is dropped.
    */
  def runWatermarkDedupToCompletion(spark: SparkSession, dir: String,
                                    horizon: String = "1 hour"): DataFrame = {
    // the +1 day offset keeps every stamped time strictly above the
    // INITIAL watermark (epoch 0) — doc_id 0 would otherwise stamp to
    // exactly the watermark and be dropped as late before reaching the
    // dedup state
    val stamped = readStream(StreamRunner.session(spark), dir)
      .withColumn("event_ts", timestamp_seconds(col("doc_id") + lit(86400L)))
    StreamRunner.toMemory(dedupWithinWatermark(stamped, "event_ts", horizon),
      "append", "graft_doc_wdedup")(identity)
  }
}
