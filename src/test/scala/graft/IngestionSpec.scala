package graft

import graft.core.{Catalog, EventTime}
import graft.streaming.EventStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Version-drift canaries for event-time ingestion (the r9 regression:
  * the testdata footer moved from TIMESTAMP(NANOS) to TIMESTAMP_NTZ
  * micros and the hard-coded nanos read silently landed every event on
  * 1970-01-20). These pin the ingestion CONTRACT — canonical type, sane
  * epoch range, batch==stream schema — against whatever Spark/testdata
  * combination the suite actually runs on, so a future footer change
  * fails here first, loudly, instead of three operators downstream.
  */
class IngestionSpec extends AnyFunSuite with SharedSpark {

  test("canary: Catalog.events.ts is canonical TimestampType on the live testdata") {
    assert(Catalog(spark, sf).events.schema("ts").dataType == TimestampType)
  }

  test("canary: event times land in the generator's era, not 1970") {
    val mm = Catalog(spark, sf).events
      .agg(min(year(col("ts"))).as("lo"), max(year(col("ts"))).as("hi")).head()
    assert(mm.getInt(0) >= 2020 && mm.getInt(1) <= 2030,
      s"event-time years [${mm.getInt(0)}, ${mm.getInt(1)}] outside the sane era " +
        "— a unit mix-up (nanos/micros/millis) compresses or dilates the timeline")
  }

  test("canary: streaming read schema == batch schema (one ingestion path)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    assert(EventStream.readStream(spark, dir.toString).schema
      == Catalog(spark, sf).events.schema)
  }

  test("normalizeTs: NTZ arrival is value-preserving under the UTC session") {
    import spark.implicits._
    val ltz = Seq("2024-01-16 07:30:00.123456", "2024-03-01 00:00:00")
      .toDF("s").select(to_timestamp(col("s")).as("ts"))
    val ntz = ltz.select(col("ts").cast(TimestampNTZType).as("ts"))
    val got = EventTime.normalizeTs(ntz)
    assert(got.schema("ts").dataType == TimestampType)
    assert(got.select(unix_micros(col("ts"))).as[Long].collect().toSeq
      == ltz.select(unix_micros(col("ts"))).as[Long].collect().toSeq)
  }

  test("normalizeTs: legacy LongType-nanos arrival converts by integer DIV") {
    import spark.implicits._
    val nanos = Seq(1704067207179575123L, 0L).toDF("ts")
    val got = EventTime.normalizeTs(nanos)
    assert(got.schema("ts").dataType == TimestampType)
    assert(got.select(unix_micros(col("ts"))).as[Long].collect().toSeq
      == Seq(1704067207179575L, 0L))
  }

  test("normalizeTs: an unhandled arrival type fails loudly at the boundary") {
    import spark.implicits._
    val bad = Seq("2024-01-01").toDF("ts")
    assertThrows[IllegalStateException](EventTime.normalizeTs(bad))
  }

  test("epochMicros: identical on LTZ and NTZ views of the same wall-clock") {
    import spark.implicits._
    val ltz = Seq("2024-01-16 07:30:00.123456").toDF("s")
      .select(to_timestamp(col("s")).as("ts"))
    val a = ltz.select(EventTime.epochMicros(TimestampType, col("ts"))).as[Long].head()
    val b = ltz.select(col("ts").cast(TimestampNTZType).as("ts"))
      .select(EventTime.epochMicros(TimestampNTZType, col("ts"))).as[Long].head()
    assert(a == b && a == 1705390200123456L)
  }

  test("streaming helpers refuse an empty sink (emission is enforced, not assumed)") {
    // every event inside one 30-min gap => every session stays OPEN at the
    // final watermark => append mode emits nothing. The helper must throw,
    // not return an empty frame that only the oracle compare would catch
    // (the r9 e5/e7 failure mode).
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_empty_emit").toString
    Seq((1L, "2024-01-16 07:00:00", 7L, "view", 1.0),
        (2L, "2024-01-16 07:05:00", 7L, "click", 2.0),
        (3L, "2024-01-16 07:10:00", 8L, "view", 3.0))
      .toDF("event_id", "s", "user_id", "event_type", "value")
      .select(col("event_id"), to_timestamp(col("s")).as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    assertThrows[IllegalArgumentException](
      EventStream.runStatefulSessionsToCompletion(spark, dir, 30))
  }
}
