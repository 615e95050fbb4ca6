package graft

import graft.analytics.Events
import graft.streaming.EventStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp

/** Generated-input batch/stream equivalence — the property lane for the
  * streaming family. StreamingSpec pins stream == batch on the fixed
  * testdata; these laws re-prove it on generated event sets with
  * adversarial time structure the corpus doesn't exhibit (duplicate
  * timestamps, empty hours, multi-day gaps, hour-boundary events):
  *
  *  1. the complete-mode streaming hourly aggregate equals the batch
  *     aggregate EXACTLY (same rows, same decimal-exact totals);
  *  2. the stateful session stream equals batch sessionization
  *     restricted to the sessions the final watermark closed — with a
  *     planted watermark-advancer event guaranteeing the closed set is
  *     non-empty and a non-trivial subset.
  *
  * Every corpus derives from an explicit seed; a failure is a permanent
  * regression case.
  */
class StreamingPropertySpec extends AnyFunSuite with SharedSpark
    with org.scalatest.BeforeAndAfterAll {
  import spark.implicits._

  // one staging root per suite run, removed in afterAll — stage() below
  // allocates under it, so repeated test runs don't leak parquet dirs
  private lazy val stageRoot =
    java.nio.file.Files.createTempDirectory("graft_streamprop")

  override def afterAll(): Unit = {
    import java.nio.file.{Files, Path}
    import java.util.Comparator
    if (Files.exists(stageRoot))
      Files.walk(stageRoot).sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
    super.afterAll()
  }

  private def samples[A](g: Gen[A], seed: Long, n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(seed + i)))

  private val Epoch = 900000000L // fixed base, second resolution

  /** (ts-seconds, user, type, value): hour-clustered with boundary hits,
    * duplicate timestamps, and a multi-hour trailing gap; the final
    * sentinel event (4 h past everything) advances the watermark so
    * session-closing cutoffs are exercised, not vacuous.
    */
  private val eventsGen: Gen[List[(Long, Long, String, Double)]] =
    Gen.choose(10, 60).flatMap { n =>
      Gen.listOfN(n, for {
        hour <- Gen.oneOf(0L, 1L, 2L, 7L, 48L) // empty hours + day gap
        sec <- Gen.frequency(4 -> Gen.choose(0L, 3599L), 1 -> Gen.const(0L))
        user <- Gen.choose(1L, 4L)
        typ <- Gen.oneOf("click", "view", "buy")
        value <- Gen.choose(0, 50)
      } yield (hour * 3600L + sec, user, typ, value.toDouble))
    }.map(evs => evs :+ (60L * 3600L, 99L, "click", 1.0))

  private def toDf(rows: List[(Long, Long, String, Double)]): DataFrame =
    rows.zipWithIndex.map { case ((t, u, ty, v), id) =>
      (id.toLong, new Timestamp((Epoch + t) * 1000L), u, ty, v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  private def stage(df: DataFrame): String = {
    val dir = java.nio.file.Files.createTempDirectory(stageRoot, "sample")
    df.coalesce(1).write.mode("overwrite").parquet(dir.resolve("events").toString)
    dir.resolve("events").toString
  }

  test("complete-mode streaming hourly aggregate ≡ batch, on generated event sets") {
    for ((rows, i) <- samples(eventsGen, seed = 170001L, n = 3).zipWithIndex) {
      val df = toDf(rows)
      val dir = stage(df)
      val streamed = EventStream.runToCompletion(spark, dir)
        .selectExpr("hour", "event_type", "n_events", "total_value")
      val batch = Events.hourly(df)
        .selectExpr("hour", "event_type", "n_events", "total_value")
      assert(streamed.count() > 0, s"sample $i: stream emitted nothing")
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
        s"sample $i: stream diverged from batch")
    }
  }

  test("stateful session stream ≡ batch sessions closed by the final watermark, on generated event sets") {
    for ((rows, i) <- samples(eventsGen, seed = 170101L, n = 3).zipWithIndex) {
      val df = toDf(rows)
      val dir = stage(df)
      val streamed = EventStream.runStatefulSessionsToCompletion(spark, dir, 30)
        .selectExpr("user_id", "session_start", "session_end", "n_events")
      val wmMs = df.selectExpr("max(unix_micros(ts)) DIV 1000").head().getLong(0)
      val batchAll = Events.sessionize(df, 30)
      val batchClosed = batchAll
        .filter(expr(s"unix_micros(session_end) DIV 1000 + ${30 * 60000L} < $wmMs"))
        .selectExpr("user_id", "session_start", "session_end", "n_events")
      assert(streamed.count() > 0, s"sample $i: no sessions closed (generator broken)")
      assert(streamed.count() < batchAll.count(),
        s"sample $i: cutoff held nothing back (sentinel event broken)")
      assert(streamed.exceptAll(batchClosed).isEmpty && batchClosed.exceptAll(streamed).isEmpty,
        s"sample $i: closed-session sets diverged")
    }
  }
}
