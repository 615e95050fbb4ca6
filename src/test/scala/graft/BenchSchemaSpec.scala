package graft

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Pins the bench.json telemetry contract (r17 verdict item 1).
  *
  * BENCH_r17 was a truncated stdout tail (`"parsed": null`) captured on a
  * loaded machine, and the lossy read recorded a phantom 5-6x graph
  * regression that took a manual judge re-run to refute. The file
  * `graft.Bench` writes is now the durable channel — so its shape is a
  * CONTRACT: one strict-JSON line carrying per-query min times, every
  * individual run time, the min-wall run's work counters, and the per-run
  * loadavg samples that let a reader adjudicate machine-vs-regression
  * from the artifact alone. This
  * spec keeps that contract executable: a field dropped or reordered (the
  * tail-order pin) fails here, not in a round postmortem.
  */
class BenchSchemaSpec extends AnyFunSuite with SharedSpark {

  private val mapper = JsonMapper.builder().build()

  private def parseFile(dir: String): (String, JsonNode) = {
    val raw = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, "bench.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    (raw, mapper.readTree(raw))
  }

  test("bench.json carries the full telemetry schema, strict-JSON parseable, queries last") {
    val out = java.nio.file.Files.createTempDirectory("graft_bench_spec").toString
    val names = Seq("q1_agg", "q2_filter_project")
    val runs = 2
    val (line, failed, _) = Bench.runBench(spark, sf, names, runs, out, calibRuns = 1)
    assert(failed.isEmpty)

    val (raw, root) = parseFile(out)
    // the returned line and the file are the same artifact
    assert(raw.trim == line)

    // every telemetry field the drift postmortems needed is present —
    // including the r20 calibration pair (pinned work whose cross-sweep
    // ratio measures ambient machine-generation drift numerically)
    val fields = root.fieldNames().asScala.toList
    val required = List("metric", "value", "unit", "errors", "sf", "load_start",
      "load_end", "calib_cpu_sec", "calib_scan_sec", "load", "runs",
      "run_loads", "counters", "total_sec", "queries")
    required.foreach(f => assert(fields.contains(f), s"missing field '$f'"))

    // tail-order pin: the driver stores a 2000-char stdout SUFFIX, so the
    // human-facing per-query min map must be the LAST field, preceded by
    // total_sec (r13: a reordered tail read as a phantom 10x regression)
    assert(fields.last == "queries", s"queries must be the last field, got ${fields.last}")
    assert(fields(fields.size - 2) == "total_sec")
    // the counters map sits before the tail pair, never inside it
    assert(fields.indexOf("counters") < fields.indexOf("total_sec"))

    assert(root.get("metric").asText() == "total")
    assert(root.get("unit").asText() == "sec")
    assert(root.get("sf").asText() == sf)
    assert(root.get("errors").isArray && root.get("errors").size() == 0)

    // per-query: min time present and consistent with the per-run arrays
    names.foreach { n =>
      val minT = root.get("queries").get(n)
      assert(minT != null && minT.isNumber, s"queries.$n missing")
      val runArr = root.get("runs").get(n)
      assert(runArr != null && runArr.isArray && runArr.size() == runs,
        s"runs.$n must have exactly $runs entries")
      val runTimes = (0 until runs).map(runArr.get(_).asDouble())
      assert(runTimes.forall(_ > 0.0))
      // fmt() rounds the per-run copies to 3 decimals; the min field is
      // the unrounded double — agreement within the rounding step
      assert(math.abs(runTimes.min - minT.asDouble()) < 0.002,
        s"queries.$n=${minT.asDouble()} disagrees with min(runs.$n)=${runTimes.min}")
      // the drift-adjudication channel: one loadavg sample per timed run
      val loadArr = root.get("run_loads").get(n)
      assert(loadArr != null && loadArr.isArray && loadArr.size() == runs,
        s"run_loads.$n must have exactly $runs entries")
      assert(root.get("load").get(n) != null && root.get("load").get(n).isNumber)
      // the min-wall run's work counters, from the same timed run
      val c = root.get("counters").get(n)
      assert(c != null && c.fieldNames().asScala.toList == List("jobs", "stages", "tasks",
        "shuffle_read_b", "shuffle_write_b", "spill_b", "driver_gap_s"), s"counters.$n: $c")
      assert(c.get("jobs").asInt() >= 1 && c.get("tasks").asInt() >= c.get("jobs").asInt(), s"counters.$n: $c")
      assert(c.get("stages").asInt() >= 1, s"counters.$n: $c")
      assert(Seq("shuffle_read_b", "shuffle_write_b", "spill_b").forall(c.get(_).asLong() >= 0), s"counters.$n: $c")
      assert(c.get("driver_gap_s").isNumber && c.get("driver_gap_s").asDouble() <= minT.asDouble() + 0.001)
    }
    assert(root.get("load_start").isNumber && root.get("load_end").isNumber)
    // total/value = sum of per-query mins
    val expectedTotal = names.map(root.get("queries").get(_).asDouble()).sum
    assert(math.abs(root.get("total_sec").asDouble() - expectedTotal) < 1e-9)
    assert(math.abs(root.get("value").asDouble() - expectedTotal) < 1e-9)
    // calibration is real timed work, not placeholders
    assert(root.get("calib_cpu_sec").asDouble() > 0.0)
    assert(root.get("calib_scan_sec").asDouble() > 0.0)
  }

  test("digest lines parse from a 2000-char stdout suffix: totals last, sums consistent (r19 verdict item 1)") {
    val out = java.nio.file.Files.createTempDirectory("graft_bench_spec_digest").toString
    val names = Seq("q1_agg", "q2_filter_project", "q6_topk")
    val (_, failed, digest) = Bench.runBench(spark, sf, names, runs = 1, out, calibRuns = 1)
    assert(failed.isEmpty)
    val (_, root) = parseFile(out)

    // the driver archives a ~2000-char stdout SUFFIX; the digest block
    // (printed last by main) must fit whole, with headroom for the
    // newline-separated capture
    val block = digest.mkString("\n")
    assert(block.length < 2000,
      s"digest block is ${block.length} chars — no longer fits the captured tail")

    // each line is strict one-line JSON tagged with its kind; order is
    // calib, families, top15, totals — totals LAST so even a tiny tail
    // keeps the headline number
    val parsed = digest.map { l =>
      assert(!l.contains("\n"))
      mapper.readTree(l)
    }
    assert(parsed.map(_.get("digest").asText()) ==
      Seq("calib", "families", "top15", "totals"))

    val totals = parsed(3)
    assert(totals.get("n_queries").asInt() == names.size)
    assert(totals.get("n_errors").asInt() == 0)
    assert(totals.get("sf").asText() == sf)
    assert(math.abs(totals.get("total_sec").asDouble() -
      root.get("total_sec").asDouble()) < 0.002)
    // the calibration pair appears in the calib line, the totals line,
    // AND the full artifact — all the same numbers
    val calib = parsed(0)
    for (f <- Seq("calib_cpu_sec", "calib_scan_sec")) {
      assert(totals.get(f).asDouble() > 0.0)
      assert(math.abs(totals.get(f).asDouble() - root.get(f).asDouble()) < 0.002)
    }
    assert(math.abs(calib.get("cpu_sec").asDouble() -
      root.get("calib_cpu_sec").asDouble()) < 1e-9)
    assert(math.abs(calib.get("scan_sec").asDouble() -
      root.get("calib_scan_sec").asDouble()) < 1e-9)

    // family sums: q1/q2/q6 are all family "q" — one entry, equal to the
    // total within the 3-decimal rounding of fmt()
    val sums = parsed(1).get("sums")
    assert(sums.fieldNames().asScala.toList == List("q"))
    assert(math.abs(sums.get("q").asDouble() - root.get("total_sec").asDouble()) < 0.005)

    // top15: every entry is a real per-query min, sorted descending
    val mins = parsed(2).get("mins")
    val topNames = mins.fieldNames().asScala.toList
    assert(topNames.toSet == names.toSet)
    val topVals = topNames.map(mins.get(_).asDouble())
    assert(topVals == topVals.sorted.reverse, s"top15 not descending: $topVals")
    topNames.foreach { n =>
      assert(math.abs(mins.get(n).asDouble() -
        root.get("queries").get(n).asDouble()) < 0.002)
    }

    // the digest is durable next to bench.json
    val fileLines = new String(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(out, "bench_digest.json")),
      java.nio.charset.StandardCharsets.UTF_8).trim.split("\n").toSeq
    assert(fileLines == digest)
  }

  test("digest at full registry scale fits the tail with errors present") {
    // the real sweep has ~135 queries; the digest must stay under the
    // 2000-char tail even with the top-15 map fully populated and a
    // failing query in errors — synthesize that shape cheaply by timing
    // one real query under many names plus one crasher
    val out = java.nio.file.Files.createTempDirectory("graft_bench_spec_digest_scale").toString
    val good = SparkEntry.queries("q2_filter_project")
    val boom = (_: SparkSession, _: String) =>
      (throw new IllegalStateException("deliberate: digest must absorb this")): DataFrame
    val longNames = (1 to 30).map(i => f"ml_synthetic_query_name_$i%02d")
    val registry: Map[String, (SparkSession, String) => DataFrame] =
      longNames.map(_ -> good).toMap + ("e9_deliberate_boom" -> boom)
    val names = longNames :+ "e9_deliberate_boom"
    val (_, failed, digest) = QuietExpectedThrows {
      Bench.runBench(spark, sf, names, runs = 1, out, registry, calibRuns = 1)
    }
    assert(failed == Seq("e9_deliberate_boom"))
    assert(digest.mkString("\n").length < 2000,
      s"digest block ${digest.mkString("\n").length} chars at 15-entry top15 + error")
    val totals = mapper.readTree(digest(3))
    assert(totals.get("n_errors").asInt() == 1)
    assert(totals.get("errors").asScala.map(_.asText()).toSeq == Seq("e9_deliberate_boom"))
    val mins = mapper.readTree(digest(2)).get("mins")
    assert(mins.size() == 15, s"top15 must cap at 15, got ${mins.size()}")
  }

  test("every benchQueries name is a registered query (the sweep can never crash on lookup)") {
    val registered = SparkEntry.queries.keySet
    val missing = SparkEntry.benchQueries.filterNot(registered.contains)
    assert(missing.isEmpty, s"benchQueries names with no queries entry: $missing")
    val dups = SparkEntry.benchQueries.groupBy(identity).collect { case (n, xs) if xs.size > 1 => n }
    assert(dups.isEmpty, s"duplicate benchQueries names (double-timed, double-counted): $dups")
  }

  test("an unregistered name records -1 and errors instead of killing the run") {
    val out = java.nio.file.Files.createTempDirectory("graft_bench_spec_missing").toString
    // the registry itself throws on lookup — the artifact must still be
    // written, with the healthy neighbor measured
    val (_, failed, _) = QuietExpectedThrows {
      Bench.runBench(spark, sf, Seq("q1_agg", "no_such_query"), runs = 1, out,
        calibRuns = 1)
    }
    assert(failed == Seq("no_such_query"))
    val (_, root) = parseFile(out)
    assert(root.get("errors").asScala.map(_.asText()).toSeq == Seq("no_such_query"))
    assert(root.get("queries").get("no_such_query").asDouble() == -1.0)
    assert(root.get("queries").get("q1_agg").asDouble() > 0.0)
  }

  test("a crashing query records -1, lands in errors, and never inflates the total") {
    val out = java.nio.file.Files.createTempDirectory("graft_bench_spec_fail").toString
    val good = SparkEntry.queries("q1_agg")
    val boom = (_: SparkSession, _: String) =>
      (throw new IllegalStateException("deliberate: bench must report this")): DataFrame
    val registry = Map[String, (SparkSession, String) => DataFrame](
      "b_good" -> good, "b_boom" -> boom)
    val (_, failed, _) = QuietExpectedThrows {
      Bench.runBench(spark, sf, Seq("b_good", "b_boom"), runs = 2, out, registry,
        calibRuns = 1)
    }
    assert(failed == Seq("b_boom"))

    val (_, root) = parseFile(out)
    assert(root.get("errors").asScala.map(_.asText()).toSeq == Seq("b_boom"))
    // -1 is the explicit failure marker: a crash can never masquerade as
    // a fast successful run, in the min field or any per-run entry
    assert(root.get("queries").get("b_boom").asDouble() == -1.0)
    (0 until 2).foreach(i =>
      assert(root.get("runs").get("b_boom").get(i).asDouble() == -1.0))
    // the healthy neighbor still measured, and the total excludes the crash
    assert(root.get("queries").get("b_good").asDouble() > 0.0)
    // a failed query has no counters entry; the healthy neighbor has one
    assert(root.get("counters").fieldNames().asScala.toList == List("b_good"))
    assert(root.get("total_sec").asDouble() == root.get("queries").get("b_good").asDouble())
  }
}
