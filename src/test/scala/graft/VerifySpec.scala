package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The correctness-dump harness contract: a crashed query becomes a RED
  * ROW (an entry in the error manifest) while its healthy neighbors still
  * dump — never a silent gap. In r9 three crashed queries vanished from
  * CORRECTNESS entirely because the dump loop swallowed the Throwable and
  * wrote nothing; the driver's compare then had nothing to mark red.
  */
class VerifySpec extends AnyFunSuite with SharedSpark {

  test("a throwing query surfaces in the error manifest; survivors still dump") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_verify_spec").toString
    val good = (s: SparkSession, d: String) => Seq((1L, "ok")).toDF("id", "v")
    val boom = (s: SparkSession, d: String) =>
      (throw new IllegalStateException("deliberate: verify must report this")): DataFrame
    val lazyBoom = (s: SparkSession, d: String) =>
      // fails at ACTION time (the write), not at plan time — the other
      // crash mode the manifest must catch
      Seq(("x")).toDF("s").selectExpr("assert_true(s = 'y') as a", "s")
    val errors = QuietExpectedThrows {
      Verify.dumpAll(spark, sf, out, Seq(
        "v_good" -> good, "v_boom" -> boom, "v_lazy_boom" -> lazyBoom))
    }
    assert(errors.keySet == Set("v_boom", "v_lazy_boom"))
    assert(errors("v_boom").contains("deliberate"))
    // the healthy query's dump is present and readable
    assert(spark.read.parquet(s"$out/v_good").count() == 1L)
    // and the crashed ones left no partial parquet a compare could misread
    assert(!new java.io.File(s"$out/v_boom/_SUCCESS").exists())
  }

  test("SPARK_GRAFT_ONLY: blank or all-empty values keep every query; empty tokens are dropped") {
    val names = Seq("q1", "q2", "q3", "")
    assert(names.filter(Verify.onlyFilter(None)) == names)
    for (raw <- Seq("", " , "))
      assert(names.filter(Verify.onlyFilter(Some(raw))) == names, s"'$raw' dropped queries")
    assert(names.filter(Verify.onlyFilter(Some("q1,,q2"))) == Seq("q1", "q2"))
  }

  test("twinOf covers exactly the no-oracle queries, each mapped to a registered oracle-backed gate") {
    val registered = SparkEntry.queries.keySet
    val oracleBacked = SparkEntry.oracleSql.keySet
    val noOracle = registered -- oracleBacked
    // exact-cover both ways: a no_oracle query without a twin is an
    // ungated product path; a twinOf key that HAS an oracle (or isn't
    // registered) is a stale map entry
    assert(SparkEntry.twinOf.keySet == noOracle,
      s"twinOf keys ${SparkEntry.twinOf.keySet} != no-oracle queries $noOracle")
    SparkEntry.twinOf.foreach { case (gate, twin) =>
      assert(registered.contains(twin), s"twin '$twin' of '$gate' is not a registered query")
      assert(oracleBacked.contains(twin), s"twin '$twin' of '$gate' has no oracle — it cannot gate anything")
    }
  }

  test("error manifest JSON escapes control characters (driver json.load survives)") {
    val raw = "AnalysisException: line1\nline2\ttab \"quoted\" back\\slash ctl"
    val escaped = Verify.jsonStr(raw)
    // the driver parses with python json.load — round-trip through a strict
    // JSON parser here proves the escape covers what we emit
    val parsed = com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
      .readTree(s"""{"k": $escaped}""").get("k").asText()
    assert(parsed == raw)
  }
}
