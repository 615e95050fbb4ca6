package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The tracing instrument's one safety check: an A/B only passes when
  * its arms return the same row multiset.
  */
class TraceSpec extends AnyFunSuite with SharedSpark {

  private def frame = spark.range(0, 200).select(col("id"), (col("id") % 7).as("k"),
    when(col("id") % 5 === 0, lit(null)).otherwise(concat(lit("v"), col("id"))).as("s"))

  test("row-multiset hash is independent of row order and partitioning") {
    assert(Trace.rowHash(frame) == Trace.rowHash(frame.repartition(7, col("k")).orderBy(col("s").desc)))
  }

  test("row-multiset hash changes when one row changes") {
    assert(Trace.rowHash(frame) != Trace.rowHash(
      frame.withColumn("s", when(col("id") === 42, lit("v43")).otherwise(col("s")))))
    // a null moving to the other column changes the row, so the hash
    val pair = spark.sql("SELECT CAST(NULL AS STRING) a, 'x' b")
    assert(Trace.rowHash(pair) != Trace.rowHash(pair.select(col("b").as("a"), col("a").as("b"))))
  }

  test("a traced registry query reports jobs and tasks") {
    val r = Trace.traced(spark)(SparkEntry.queries("q1_agg")(spark, sf).count())
    assert(r.rows > 0 && r.c.jobs.nonEmpty && r.c.tasks > 0)
  }

  test("an A/B passes on equal arms and exits 1 when the arms' rows differ") {
    val key = "spark.sql.shuffle.partitions"
    def status(query: String, arms: String, registry: Map[String, Trace.Query]): Int = Trace.run(
      spark, Trace.parse(Array(query, "--sf", sf, "--runs", "1", "--conf", s"$key=$arms")), registry)
    assert(status("q1_agg", "3,3", SparkEntry.queries) == 0)
    val confSensitive: Trace.Query = (s, _) => s.range(s.conf.get(key).toLong).toDF()
    assert(status("conf_sensitive", "3,5", Map("conf_sensitive" -> confSensitive)) == 1)
    assert(spark.conf.get(key) == "4", "the A/B restores the conf it varied")
  }
}
