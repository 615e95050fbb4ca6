package graft

import graft.core.GraftSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[GraftSession.parallelism]], the engine's one partition-count
  * source: the cores under the engine conf, and whatever shuffle-partition
  * count the session is set to at runtime.
  */
class GraftSessionSpec extends AnyFunSuite with SharedSpark {

  test("parallelism is the session's shuffle-partition count and follows a runtime change") {
    assert(GraftSession.parallelism(spark) == spark.sparkContext.defaultParallelism)
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "7")
      assert(GraftSession.parallelism(spark) == 7)
      // a non-integer count is refused where it is set, never inside an operator
      intercept[IllegalArgumentException](spark.conf.set(key, "auto"))
      assert(GraftSession.parallelism(spark) == 7)
    } finally spark.conf.set(key, saved)
  }
}
