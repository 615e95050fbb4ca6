package graft

import graft.analytics.Events
import graft.core.Catalog
import graft.streaming.EventStream
import org.scalatest.funsuite.AnyFunSuite

/** Batch/stream equivalence: the streaming hourly aggregate over the same
  * files must produce exactly the batch result (complete output mode).
  */
class StreamingSpec extends AnyFunSuite with SharedSpark {

  test("streaming hourly aggregate == batch hourly aggregate") {
    // the file-stream source requires a directory; stage the single
    // events.parquet file into one
    val dir = java.nio.file.Files.createTempDirectory("graft_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val streamed = EventStream.runToCompletion(spark, dir.toString)
      .selectExpr("hour", "event_type", "n_events", "total_value")
    val batch = Events.hourly(Catalog(spark, sf).events)
      .selectExpr("hour", "event_type", "n_events", "total_value")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming sliding windows == batch sliding windows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sliding")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val q = Events.sliding(EventStream.readStream(spark, dir.toString))
      .writeStream.outputMode("complete").format("memory")
      .queryName("graft_sliding_test").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("graft_sliding_test")
    val batch = Events.sliding(Catalog(spark, sf).events)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("file sink: commit log exists; emitted windows = watermark-closed subset") {
    val dir = java.nio.file.Files.createTempDirectory("graft_filesink")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val scratch = java.nio.file.Files.createTempDirectory("graft_filesink_out").toString
    val got = EventStream.runHourlyToParquet(spark, dir.toString, scratch)
    // exactly-once contract: the sink's commit log governs what readers
    // see — a crashed batch's orphan files are invisible to the read
    assert(new java.io.File(s"$scratch/out/_spark_metadata").exists(),
      "file sink wrote no _spark_metadata commit log")
    // append emits exactly the windows whose end the final watermark
    // (max ts, ms floor, minus the 2h delay) passed; the tail stays open
    val events = Catalog(spark, sf).events
    val wmMs = events.selectExpr("max(unix_micros(ts)) DIV 1000").head().getLong(0) - 7200000L
    val batch = Events.hourly(events)
      .filter(org.apache.spark.sql.functions.expr(
        s"unix_micros(hour + interval 1 hour) DIV 1000 <= $wmMs"))
      .selectExpr("hour", "event_type", "n_events", "total_value")
    val gotSel = got.selectExpr("hour", "event_type", "n_events", "total_value")
    assert(gotSel.count() > 0 && gotSel.count() < Events.hourly(events).count(),
      "cutoff should hold back the trailing open windows")
    assert(gotSel.exceptAll(batch).isEmpty && batch.exceptAll(gotSel).isEmpty)
  }

  test("stateful session stream == batch sessions the final watermark closed") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sessstream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val streamed = EventStream.runStatefulSessionsToCompletion(spark, dir.toString, 30)
      .selectExpr("user_id", "session_start", "session_end", "n_events")
    // batch twin: gap sessions whose end + gap the final watermark
    // (max event time, ms floor, delay 0) passed — later sessions stay
    // open in state and must NOT be emitted
    val events = Catalog(spark, sf).events
    val wmMs = events.selectExpr("max(unix_micros(ts)) DIV 1000").head().getLong(0)
    val batch = Events.sessionize(events, 30)
      .filter(org.apache.spark.sql.functions.expr(
        s"unix_micros(session_end) DIV 1000 + ${30 * 60000L} < $wmMs"))
      .selectExpr("user_id", "session_start", "session_end", "n_events")
    val nBatchAll = Events.sessionize(events, 30).count()
    assert(streamed.count() > 0 && streamed.count() < nBatchAll,
      "cutoff should hold back the stream-tail sessions")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("e5 late data: one-batch grace merges, older events drop before the state function") {
    // Executable form of the documented e5 caveat (cross-batch merging
    // assumes event-time-ordered file arrival). Structured Streaming
    // keeps TWO watermarks (the SPARK-40925 split): late-row filtering
    // uses the LATE-EVENTS watermark — the previous batch's value — and
    // state eviction/timeout uses the current one. For
    // flatMapGroupsWithState that yields exactly two late-data regimes,
    // both pinned here (measured, see the doc on statefulSessions):
    //  (a) one-batch grace: an event behind the CURRENT batch's
    //      watermark but ahead of the PREVIOUS batch's still reaches
    //      the state function and merges into its (still-open, since
    //      emission defers to the close-check in the same invocation)
    //      session, which emits once, extended;
    //  (b) anything behind the previous batch's watermark is dropped by
    //      the exec's late-row filter BEFORE the state function: no
    //      fragment session, no duplicate emission, the group function
    //      never even sees the row.
    // Sessions whose end + gap the final watermark never passes stay in
    // state, unemitted.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_late")
    def ns(s: String): Long =
      java.time.Instant.parse(s).getEpochSecond * 1000000000L
    def writeFile(name: String, modMs: Long,
                  rows: Seq[(Long, Long, Long, String, Double, String)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_late_stage")
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).filter(_.getFileName.toString
        .endsWith(".parquet")).findFirst().get()
      val target = dir.resolve(name)
      java.nio.file.Files.copy(part, target)
      java.nio.file.Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(modMs))
    }
    val now = System.currentTimeMillis()
    // batch 1: user 1 session [10:00, 10:05]; user 2 at 12:00 pushes the
    // post-batch watermark to 12:00, far past that session's close point
    writeFile("f1.parquet", now - 120000, Seq(
      (1L, ns("2024-01-01T10:00:00Z"), 1L, "view", 1.0, ""),
      (2L, ns("2024-01-01T10:05:00Z"), 1L, "view", 1.0, ""),
      (3L, ns("2024-01-01T12:00:00Z"), 2L, "view", 1.0, "")))
    // batch 2: event 4 at 10:02 is behind the current watermark (12:00)
    // but ahead of the previous batch's (epoch) — regime (a): it merges,
    // the session closes in the same invocation and emits with 3
    // events; user 3 at 12:30 advances the next watermark
    writeFile("f2.parquet", now - 60000, Seq(
      (4L, ns("2024-01-01T10:02:00Z"), 1L, "view", 1.0, ""),
      (5L, ns("2024-01-01T12:30:00Z"), 3L, "view", 1.0, "")))
    // batch 3: event 6 at 10:03 is behind the PREVIOUS batch's watermark
    // (12:00) — regime (b): dropped before the state function; no
    // fragment session over the emitted span, no duplicate
    writeFile("f3.parquet", now, Seq(
      (6L, ns("2024-01-01T10:03:00Z"), 1L, "view", 1.0, "")))
    val out = EventStream.runStatefulSessionsToCompletion(spark, dir.toString, 30)
      .selectExpr("user_id", "CAST(session_start AS STRING) AS s",
        "CAST(session_end AS STRING) AS e", "n_events")
      .collect()
    assert(out.length == 1, s"expected exactly 1 emitted session, got: ${out.mkString("; ")}")
    val merged = out.head
    assert(merged.getAs[Long]("user_id") == 1L && merged.getAs[Long]("n_events") == 3L &&
      merged.getAs[String]("s").startsWith("2024-01-01 10:00:00") &&
      merged.getAs[String]("e").startsWith("2024-01-01 10:05:00"),
      s"regime (a) session wrong: $merged")
  }

  test("stream-stream interval join == batch interval join, exactly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ssjoin")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val streamed = EventStream.runAttributionToCompletion(spark, dir.toString, 30)
    val e = Catalog(spark, sf).events
    val views = e.filter(org.apache.spark.sql.functions.col("event_type") === "view")
      .selectExpr("user_id AS v_user", "event_id AS view_event_id", "ts AS v_ts")
    val buys = e.filter(org.apache.spark.sql.functions.col("event_type") === "purchase")
      .selectExpr("user_id AS p_user", "event_id AS purchase_event_id", "ts AS p_ts")
    val batch = views.join(buys, org.apache.spark.sql.functions.expr(
        "v_user = p_user AND p_ts >= v_ts AND p_ts <= v_ts + interval 30 minutes"))
      .selectExpr("v_user AS user_id", "view_event_id", "purchase_event_id",
        "v_ts AS view_ts", "p_ts AS purchase_ts")
    // inner stream-stream joins emit when both sides arrive — run to
    // completion there is NO watermark cutoff, unlike session emission
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming per-doc token stats == batch t1 projection") {
    val dir = java.nio.file.Files.createTempDirectory("graft_docstream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"))
    val streamed = graft.streaming.DocStream.runStatsToCompletion(spark, dir.toString)
    val batch = graft.ext.TextStats.tokenCounts(Catalog(spark, sf).documents)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("watermarked digest dedup: in-horizon dups dropped, state expires past horizon") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.of(2026, 1, 1, 10, 0).plusMinutes(min))
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val docs = input.toDF().toDF("doc_id", "text", "ts")
    val out = graft.streaming.DocStream.dedupWithinWatermark(docs, "ts", "10 minutes")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("graft_wm_dedup").start()
    try {
      // batch 1: duplicate of "alpha" arrives 5 min after the first — in
      // horizon, dropped
      input.addData((1L, "alpha", ts(0)), (2L, "alpha", ts(5)), (3L, "beta", ts(0)))
      q.processAllAvailable()
      // batch 2: advances the watermark to +110 min, expiring alpha state
      input.addData((4L, "gamma", ts(120)))
      q.processAllAvailable()
      // batch 3: "alpha" re-arrives AFTER its state expired — readmitted
      input.addData((5L, "alpha", ts(115)))
      q.processAllAvailable()
      val ids = spark.table("graft_wm_dedup").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 3L, 4L, 5L),
        s"expected in-horizon dup 2 dropped and post-horizon 5 readmitted, got $ids")
      // batch-equivalence on in-horizon data: within one horizon the
      // streaming result == batch dropDuplicates on the digest
      val batchDedup = Seq((1L, "alpha"), (2L, "alpha"), (3L, "beta"))
        .toDF("doc_id", "text")
        .withColumn("digest", org.apache.spark.sql.functions.md5(
          org.apache.spark.sql.functions.col("text").cast("binary")))
        .dropDuplicates("digest").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(batchDedup == Set(1L, 3L))
    } finally q.stop()
  }

  test("streaming digest dedup keeps one row per distinct content") {
    val dir = java.nio.file.Files.createTempDirectory("graft_docdedup")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"))
    val streamed = graft.streaming.DocStream.runDedupToCompletion(spark, dir.toString)
    val docs = Catalog(spark, sf).documents
    val distinctContents = docs.select(org.apache.spark.sql.functions.md5(
      org.apache.spark.sql.functions.col("text").cast("binary"))).distinct().count()
    assert(streamed.count() == distinctContents)
    // every surviving row is a real document row
    assert(streamed.drop("digest").exceptAll(docs).isEmpty)
  }

  test("streaming digest dedup refuses an empty sink (e8 is under the emission contract)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_docdedup_empty").toString
    spark.read.parquet(s"$sf/documents.parquet").limit(0)
      .write.mode("overwrite").parquet(dir)
    assertThrows[IllegalArgumentException](
      graft.streaming.DocStream.runDedupToCompletion(spark, dir))
  }

  test("a streaming gate runs under the caller's runtime conf and the state-partition bound") {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.adaptive.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      keys.foreach(spark.conf.set(_, "false"))
      val gate = SparkEntry.queries("e4_stateful_totals")(spark, sf).sparkSession
      for (k <- keys) assert(gate.conf.get(k) == "false", s"$k did not reach the gate session")
      assert(gate.conf.get("spark.sql.shuffle.partitions") ==
        math.min(4, graft.core.GraftSession.parallelism(spark)).toString)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("watermark-dedup runner drives the bounded-state path end to end") {
    val dir = java.nio.file.Files.createTempDirectory("graft_docwdedup")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"))
    val streamed =
      graft.streaming.DocStream.runWatermarkDedupToCompletion(spark, dir.toString)
    val docs = Catalog(spark, sf).documents
    // the corpus arrives as ONE micro-batch, so every duplicate lands
    // inside the horizon: result == exact distinct-content dedup
    val distinctContents = docs.select(org.apache.spark.sql.functions.md5(
      org.apache.spark.sql.functions.col("text").cast("binary"))).distinct().count()
    assert(streamed.count() == distinctContents)
    assert(streamed.drop("digest", "event_ts").exceptAll(docs).isEmpty)
  }
}
