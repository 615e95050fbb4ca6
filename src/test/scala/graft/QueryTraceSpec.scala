package graft

import scala.jdk.CollectionConverters._

import graft.core.QueryTrace
import org.scalatest.funsuite.AnyFunSuite

/** The query-run harness's contract: a timed run counts the work it
  * ran, starts from a clean catalog, and leaves no listener behind.
  */
class QueryTraceSpec extends AnyFunSuite with SharedSpark {

  /** The harness listeners registered on the session's bus right now. */
  private def harnessListeners: Int = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("listeners").invoke(bus).asInstanceOf[java.util.List[_]].asScala
      .count(_.isInstanceOf[QueryTrace.Listener])
  }

  test("a traced registry query reports jobs and tasks") {
    val r = QueryTrace.timed(spark)(SparkEntry.queries("q1_agg")(spark, sf).count())
    assert(r.rows > 0 && r.c.jobs.nonEmpty && r.c.tasks > 0)
    assert(r.c.stages >= 1 && r.c.maxTaskS <= r.c.runS)
    assert(r.wall > 0.0 && r.driverGapS <= r.wall)
  }

  test("a non-temporary table left by a previous body is gone when the timed action starts") {
    spark.sql("CREATE TABLE query_trace_leftover USING parquet AS SELECT 1 AS id")
    spark.range(1).createOrReplaceTempView("query_trace_view")
    try {
      val r = QueryTrace.timed(spark) {
        // 2 = only the temporary view survived the hygiene
        (if (spark.catalog.tableExists("query_trace_leftover")) 1L else 0L) +
          (if (spark.catalog.tableExists("query_trace_view")) 2L else 0L)
      }
      assert(r.rows == 2L)
    } finally {
      spark.catalog.dropTempView("query_trace_view")
      spark.sql("DROP TABLE IF EXISTS query_trace_leftover")
    }
  }

  test("an action that throws leaves no listener registered and rethrows") {
    var during = -1
    val e = intercept[IllegalStateException] {
      QueryTrace.timed(spark) {
        spark.range(10).count()
        during = harnessListeners
        throw new IllegalStateException("deliberate: the harness must rethrow this")
      }
    }
    assert(e.getMessage.startsWith("deliberate"))
    assert(during == 1, "the listener is registered while the action runs")
    assert(harnessListeners == 0)
  }
}
