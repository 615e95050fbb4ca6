package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A gap-session held in `flatMapGroupsWithState` state (or just closed):
  * bounds in microseconds, event count, value total in 1e-4 quanta.
  * Top-level (not nested in the object) — Spark's encoder codegen cannot
  * call accessors of an object-nested private case class.
  */
private[streaming] case class SessionAcc(startUs: Long, endUs: Long,
                                         nEvents: Long, quanta: Long)

/** Emitted session row (timestamps carry microseconds via Instant). */
final case class UserSession(user_id: Long, session_start: java.time.Instant,
                             session_end: java.time.Instant, n_events: Long,
                             session_value: Double)

/** Structured Streaming over the `events` table.
  *
  * The reference has no streaming at all (SURVEY §2.11); this is the
  * north-star extension. The streaming aggregates are defined to match
  * the batch semantics in [[graft.analytics.Events]] exactly, so the
  * batch oracle doubles as the streaming correctness contract (tested by
  * running the stream to completion over the same files).
  *
  * Scale: watermark + tumbling window keeps state bounded (one state row
  * per open (window, event_type)); `maxFilesPerTrigger` paces backfill.
  */
object EventStream {

  /** File-based streaming read of an events directory.
    *
    * The file-stream source requires a declared schema; hard-coding one
    * is how r9 broke (the footer changed from TIMESTAMP(NANOS) to
    * TIMESTAMP_NTZ micros and a forced-LongType read double-divided the
    * values onto 1970). Instead the schema is derived from the actual
    * parquet footer (a driver-only read of one footer of the same
    * directory, [[org.apache.spark.sql.GraftBridge.parquetSchema]]: no
    * Spark job) and `ts` goes through the SAME canonical normalization as
    * the batch catalog ([[graft.core.EventTime.normalizeTs]]) — one
    * ingestion code path, so batch and streaming can never disagree on
    * event time.
    */
  def readStream(spark: SparkSession, dir: String): DataFrame = {
    val fileSchema = org.apache.spark.sql.GraftBridge.parquetSchema(spark, dir)
    graft.core.EventTime.normalizeTs(
      spark.readStream
        .schema(fileSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(dir))
  }

  /** Tumbling 1-hour window aggregate with a 2-hour watermark — the
    * streaming twin of `Events.hourly`.
    */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 4))).cast("double").as("total_value"))
      .select(col("w.start").as("hour"), col("event_type"), col("n_events"), col("total_value"))

  /** Arbitrary stateful streaming (`mapGroupsWithState`): per-user running
    * totals maintained across micro-batches — the engine's
    * `KeyValueGroupedDataset` custom-state surface (north-star §2.11).
    *
    * The value total accumulates on the 1e-4 integer grid (a long count
    * of `floor(value * 10000)` quanta): integer addition is
    * order-independent, so the final state hash-matches its oracle (which
    * replays the identical floor) no matter how the shuffle orders each
    * group's iterator, where a raw double running sum would drift by
    * arrival order. NOTE the grid assumption: for values exactly ON the
    * 1e-4 grid (true of the synthetic events table) this also equals the
    * batch DECIMAL(18,4) aggregate in [[graft.analytics.Events]]; an
    * off-grid value floors here but rounds half-up in the DECIMAL cast,
    * so the two surfaces may differ by one quantum per event off-grid.
    */
  def runningUserTotals(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val spark = events.sparkSession
    import spark.implicits._
    events
      // quantize BEFORE the typed boundary: a NULL value in a
      // non-nullable Double tuple field aborts the stream
      // (NOT_NULL_ASSERT_VIOLATION — the r13 hostile probe). A null
      // value contributes 0 quanta but still counts as an event; the
      // oracle mirrors with COALESCE(SUM(...), 0) + count(*)
      .select(col("user_id").as[Long],
        coalesce(floor(col("value") * 10000d).cast("long"), lit(0L)).as[Long])
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long)], state: GroupState[(Long, Long)]) =>
          val (n0, q0) = state.getOption.getOrElse((0L, 0L))
          var n = n0; var q = q0
          rows.foreach { r => n += 1; q += r._2 }
          state.update((n, q))
          (user, n, q / 10000.0)
      }
      .toDF("user_id", "n_events", "total_value")
  }

  /** Drive [[runningUserTotals]] to completion over a static directory
    * (update-mode memory sink — `mapGroupsWithState` with no timeout
    * cannot run in complete mode) and reduce the update log to each
    * user's FINAL state: `n_events` strictly grows per user, so
    * `max_by(total_value, n_events)` picks the last update
    * deterministically. The result equals the batch per-user aggregate —
    * the CORRECTNESS gate for the stateful-streaming operator family.
    */
  def runStatefulToCompletion(spark: SparkSession, dir: String): DataFrame =
    StreamRunner.toMemory(runningUserTotals(readStream(StreamRunner.session(spark), dir)),
        "update", "graft_state_e4") {
      _.groupBy(col("user_id"))
        .agg(
          max(col("n_events")).as("n_events"),
          max_by(col("total_value"), col("n_events")).as("total_value"))
    }

  /** Gap-sessionization as ARBITRARY stateful streaming
    * (`flatMapGroupsWithState`, Append + EventTimeTimeout) — the other
    * half of the custom-state API surface (e4 gates
    * `mapGroupsWithState`). Per user, events merge into open sessions in
    * state; a session is emitted exactly once, when the event-time
    * watermark passes `session_end + gap` — the instant no on-time event
    * can extend it. Grouping replicates [[graft.analytics.Events
    * .sessionize]] bit-for-bit (same floor-to-second gap predicate, same
    * 1e-4 value grid as the DECIMAL(18,4) batch sum for on-grid data),
    * so the oracle is the batch sessionize SQL filtered to sessions the
    * final watermark closed: with watermark delay 0, exactly those with
    * `floor(end/ms) + gap < floor(max(ts)/ms)`. Sessions newer than that
    * stay in state (correct streaming semantics — a later file could
    * still extend them) and are NOT in the output contract.
    *
    * State per user is its OPEN sessions only (closed ones leave state
    * on emit), so state size is bounded by user concurrency, not
    * history. Cross-batch merging assumes batches arrive in event-time
    * order (true for the single-file source here and for time-ordered
    * file drops). Late data lands in one of two regimes, both measured
    * and pinned by StreamingSpec's late-data fixture. Structured
    * Streaming keeps two watermark values (the SPARK-40925 split):
    * late-row FILTERING uses the previous batch's watermark, state
    * eviction/timeouts use the current one. So an event behind the
    * current batch's watermark but ahead of the previous batch's (the
    * one-batch grace window) still reaches the state function and
    * merges into its still-open session, which emits once, extended;
    * an event behind the previous batch's watermark is dropped by the
    * exec's late-row filter before the function ever sees it — no
    * fragment session over an emitted span, no duplicate emission.
    */
  def statefulSessions(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val gapSec = gapMinutes * 60L
    val gapMs = gapMinutes * 60000L
    def us(i: java.time.Instant): Long = i.getEpochSecond * 1000000L + i.getNano / 1000L
    def instant(u: Long): java.time.Instant =
      java.time.Instant.ofEpochSecond(Math.floorDiv(u, 1000000L), Math.floorMod(u, 1000000L) * 1000L)
    events
      .withWatermark("ts", "0 seconds")
      // quantize BEFORE the typed boundary (see runningUserTotals)
      .select(col("user_id").as[Long], col("ts").as[java.time.Instant],
        col("event_id").as[Long],
        coalesce(floor(col("value") * 10000d).cast("long"), lit(0L)).as[Long])
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, java.time.Instant, Long, Long)],
         state: GroupState[Seq[SessionAcc]]) =>
          val wm = state.getCurrentWatermarkMs()
          var sessions = state.getOption.getOrElse(Seq.empty).toList
          // merge this batch's events (sorted by event time, event_id
          // tie-break — the batch twin's window ordering) into sessions
          val evs = rows.toArray.sortBy(r => (us(r._2), r._3))
          for (e <- evs) {
            val eUs = us(e._2)
            val q = e._4
            sessions match {
              case last :: _ if Math.floorDiv(eUs, 1000000L) - Math.floorDiv(last.endUs, 1000000L) <= gapSec =>
                sessions = last.copy(endUs = math.max(last.endUs, eUs),
                  nEvents = last.nEvents + 1, quanta = last.quanta + q) :: sessions.tail
              case _ =>
                sessions = SessionAcc(eUs, eUs, 1L, q) :: sessions
            }
          }
          // a session is closed once the watermark passes end + gap
          val (closed, open) = sessions.partition(s =>
            Math.floorDiv(s.endUs, 1000L) + gapMs < wm)
          if (open.isEmpty) state.remove()
          else {
            state.update(open)
            val next = open.map(s => Math.floorDiv(s.endUs, 1000L) + gapMs).min
            state.setTimeoutTimestamp(math.max(next, wm + 1))
          }
          closed.sortBy(_.startUs).iterator.map(s =>
            UserSession(user, instant(s.startUs), instant(s.endUs), s.nEvents, s.quanta / 10000.0))
      }
      .toDF()
  }

  /** Drive [[statefulSessions]] to completion over a static directory:
    * the data batch populates state, then the watermark jump to max(ts)
    * triggers the no-data timeout batch that emits every closed session
    * (Append mode — each session appears exactly once in the sink).
    */
  def runStatefulSessionsToCompletion(spark: SparkSession, dir: String,
                                      gapMinutes: Int = 30): DataFrame =
    StreamRunner.toMemory(statefulSessions(readStream(StreamRunner.session(spark), dir), gapMinutes),
      "append", "graft_state_e5")(identity)

  /** Stream-stream interval join: view -> purchase attribution within
    * `windowMinutes` of the view, per user — the two-sided stateful-join
    * API family (`StreamingSymmetricHashJoin`), completing the streaming
    * surface alongside windowed aggs (e1), session_window (e3), and the
    * custom-state pair (e4/e5).
    *
    * Gate contract: an INNER stream-stream join emits a match as soon as
    * BOTH sides have arrived; the watermarks and the two-sided
    * time-range condition exist to bound each side's join STATE (a view
    * older than window+watermark can never match a future purchase and
    * is evicted), not to gate emission. Run to completion over static
    * files, the emitted set is therefore EXACTLY the batch interval
    * join — no final-watermark cutoff (contrast [[statefulSessions]],
    * where emission itself is watermark-driven).
    */
  def streamStreamAttribution(spark: SparkSession, dir: String,
                              windowMinutes: Int = 30,
                              joinType: String = "inner"): DataFrame = {
    val views = readStream(spark, dir)
      .filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_event_id"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", "1 hour")
    val buys = readStream(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_event_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    views
      .join(buys, expr(
        s"v_user = p_user AND p_ts >= v_ts AND p_ts <= v_ts + interval $windowMinutes minutes"),
        joinType)
      .select(
        col("v_user").as("user_id"),
        col("view_event_id"), col("purchase_event_id"),
        col("v_ts").as("view_ts"), col("p_ts").as("purchase_ts"))
  }

  /** Drive [[streamStreamAttribution]] to completion (append-mode memory
    * sink); the result equals the batch interval join.
    */
  def runAttributionToCompletion(spark: SparkSession, dir: String, windowMinutes: Int = 30,
                                 joinType: String = "inner"): DataFrame =
    StreamRunner.toMemory(
      streamStreamAttribution(StreamRunner.session(spark), dir, windowMinutes, joinType),
      "append", s"graft_attribution_$joinType")(identity)

  /** Drive [[hourlyAgg]] through the PRODUCTION sink — parquet files
    * plus a checkpoint directory — and read the committed files back.
    * Every prior streaming gate (e1–e6) ends in the memory sink; this
    * one exercises the exactly-once file-sink path a deployment actually
    * runs: append-mode windowed aggregation, per-batch file commits
    * recorded in the sink's `_spark_metadata` log (readers see only
    * committed files — a crashed batch leaves no partial output), and
    * the checkpoint carrying source offsets + state across restarts.
    *
    * Append mode emits a window exactly once, when the watermark passes
    * its end. With watermark delay `d` (2 h) the final watermark is
    * `floor(max_ts_us / 1000) − d_ms` (the engine tracks event-time
    * stats in ms — see [[statefulSessions]]), and a window [s, e) is
    * emitted iff `e_ms <= watermark_ms` — trailing windows stay in
    * state, the same open-tail contract as e5. Both the cutoff and the
    * aggregate are replayed by the oracle.
    *
    * Scratch dirs are recreated per run: a reused checkpoint would
    * resume the finished query and emit nothing — each invocation
    * measures one complete run, like every streaming gate here.
    */
  def runHourlyToParquet(spark: SparkSession, dir: String, scratch: String): DataFrame = {
    val session = StreamRunner.session(spark)
    val out = s"$scratch/out"; val ckpt = s"$scratch/ckpt"
    val fs = org.apache.hadoop.fs.FileSystem.get(session.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
    StreamRunner.toFiles(hourlyAgg(readStream(session, dir)), out, ckpt)
    StreamRunner.committed(session, out, "e7_file_sink")
  }

  /** e10: checkpointed RESTART with exactly-once file-sink output —
    * the production recovery contract no single-run gate exercises.
    * Run 1 streams the older half of the events (one file), commits
    * hourly windows through the checkpoint, and STOPS (a planned
    * shutdown); the newer half then arrives; run 2 is a NEW query
    * resuming from the same checkpoint and output path. Exactly-once
    * across the restart is what the oracle hash proves: the watermark
    * and window state resume from the state store (the cutover hour
    * receives events from both runs and still emits once, merged), and
    * already-committed windows are not re-emitted — any duplicate,
    * loss, or split window breaks the hash against the one-shot batch
    * aggregate. Output is read back through the `_spark_metadata`
    * commit log, so an uncommitted file from the stop is invisible.
    */
  def runHourlyRestart(spark: SparkSession, fileA: String, fileB: String,
                       scratch: String): DataFrame = {
    val session = StreamRunner.session(spark)
    val src = s"$scratch/src"; val out = s"$scratch/out"; val ckpt = s"$scratch/ckpt"
    val fs = org.apache.hadoop.fs.FileSystem.get(session.sparkContext.hadoopConfiguration)
    for (p <- Seq(src, out, ckpt)) fs.delete(new org.apache.hadoop.fs.Path(p), true)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
    def arrive(file: String, as: String): Unit =
      java.nio.file.Files.copy(java.nio.file.Paths.get(file),
        java.nio.file.Paths.get(src, as),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    def run(): Unit = StreamRunner.toFiles(hourlyAgg(readStream(session, src)), out, ckpt)
    arrive(fileA, "a.parquet")
    run()
    arrive(fileB, "b.parquet")
    run()
    StreamRunner.committed(session, out, "e10_restart")
  }

  /** e9: stream-static enrichment join — the remaining Structured
    * Streaming join mode (e6 covers stream-stream). Each micro-batch of
    * the event stream joins the STATIC customer dimension: stateless,
    * no watermark and no state store, the dimension broadcast and
    * re-resolved per batch — the production shape for enriching a
    * stream against a slowly-refreshed dim table (at 100 TB the stream
    * is unbounded but each batch's join is one broadcast hash join).
    * Downstream a complete-mode aggregate rolls purchase traffic up to
    * the customer's nation; the oracle is the identical batch
    * join+aggregate.
    */
  def runStreamStaticToCompletion(spark: SparkSession, dir: String,
                                  customer: DataFrame): DataFrame = {
    val enriched = readStream(StreamRunner.session(spark), dir)
      .filter(col("event_type") === "purchase")
      .join(broadcast(customer.select(col("c_custkey"), col("c_nationkey"))),
        col("user_id") === col("c_custkey"))
    StreamRunner.toMemory(enriched
      .groupBy(col("c_nationkey"))
      .agg(
        count(lit(1)).as("n_purchases"),
        sum(col("value").cast(DecimalType(18, 4))).cast("double").as("total_value")),
      "complete", "graft_e9")(identity)
  }

  /** Run the hourly aggregate over a static directory to completion via
    * the in-memory sink; returns the result table. Used by tests to prove
    * batch/stream equivalence.
    */
  def runToCompletion(spark: SparkSession, dir: String): DataFrame =
    StreamRunner.toMemory(hourlyAgg(readStream(StreamRunner.session(spark), dir)),
      "complete", "graft_stream")(identity)
}
