package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.core.{Catalog, QueryTrace}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: runs SparkEntry.benchQueries on SPARK_GRAFT_SF_DIR,
  * prints ONE JSON line {"metric":...,"queries":{name:sec,...}} on
  * System.out AND writes the same line to SPARK_GRAFT_OUT/bench.json
  * (sbt's logger wraps stdout in [info] prefixes the driver can't parse,
  * and a stdout TAIL capture truncates the line — BENCH_r17 recorded
  * `"parsed": null` exactly this way and its lossy tail read as a phantom
  * 5-6x graph regression that took a judge re-run to refute; the file is
  * the reliable channel).
  *
  * A query that throws is recorded as -1 (an explicit failure marker) so
  * a crashing query can never masquerade as a fast successful run, and
  * its name is listed under "errors".
  *
  * Timing is min-of-N (SPARK_GRAFT_RUNS, default 3) over
  * [[graft.core.QueryTrace.timed]] runs, each after the harness's
  * hygiene: single-run timings in a shared JVM moved ±40% round-over-round
  * with no code change, and with min-of-2 sub-second queries still
  * disagreed 1.2-1.5x between back-to-back full runs; min-of-3 keeps
  * per-query jitter ~10%. The heap default is sized (build.sbt, 24g) so
  * collection stays out of the timed window. The min-wall run's work
  * counters are written beside its time. SPARK_GRAFT_ONLY=a,b,c restricts
  * the set (dev loop for profiling individual queries).
  */
object Bench {

  /** One query's timed runs, each beside its start load; a failed run has no [[QueryTrace.Run]]. */
  private final case class QueryResult(name: String, runs: Seq[(Option[QueryTrace.Run], Double)], load: Double) {
    def ok: Boolean = runs.forall(_._1.isDefined)
    /** The min-wall run of a successful query. */
    def best: Option[QueryTrace.Run] = if (ok) Some(runs.flatMap(_._1).minBy(_.wall)) else None
    /** The min wall time, or the -1 failure marker. */
    def min: Double = best.fold(-1.0)(_.wall)
  }

  /** Deterministic, data-independent single-thread CPU calibration fold
    * (r19 verdict item 4): machine generations drifted 25/27/38% across
    * r17–r19 and every cross-round read needed a worktree A/B/A rebuild
    * of the old HEAD. This fold is PINNED WORK — a fixed-seed xorshift
    * mixed 2·10⁸ times, independent of sf, data, and code under test —
    * so the ratio of two sweeps' `calib_cpu_sec` numerically measures
    * the ambient generation gap without re-building anything. Returns
    * seconds for one execution; callers take min-of-N so the first
    * run's JIT compile drops out.
    *
    * Noise floor measured (`bench_records/r20_calibration_noise.json`):
    * 3.7% spread across 10 back-to-back samples — an order of magnitude
    * under the generation swings it measures. This fold, not the scan
    * below, is the primary drift instrument: the scan's reading is
    * page-cache-state-dependent (75% spread warm-vs-cold), indicative
    * only.
    */
  private[graft] def calibCpu(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    while (i < 200000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x
      i += 1
    }
    val dt = (System.nanoTime() - t0) / 1e9
    // sink the accumulator so the loop cannot be dead-code-eliminated
    if (acc == 42L) System.err.println("calib sink")
    dt
  }

  /** Pinned parquet-scan calibration (the Spark half of the r19 verdict
    * item 4 pair): one 10M-row, 32-partition parquet written fresh under
    * `outDir` per sweep, then a scan+hash+sum timed. Fixed size and
    * schema regardless of sf, so the number calibrates the machine's
    * task-scheduling + parquet-decode + codegen pipeline, not the
    * workload. Returns the timed-scan seconds for one execution.
    */
  private[graft] def calibScanWrite(spark: SparkSession, outDir: String): String = {
    val dir = Paths.get(outDir, "calib_parquet").toString
    spark.range(0L, 10000000L, 1L, 32)
      .selectExpr("id", "xxhash64(id) AS h")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private[graft] def calibScan(spark: SparkSession, dir: String): Double = {
    val t0 = System.nanoTime()
    // bit_xor, not sum: summing 10M xxhash64 longs overflows under ANSI
    // semantics; XOR reads every value of both columns and cannot wrap
    spark.read.parquet(dir).selectExpr("bit_xor(h ^ id)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Measurement + render core, split out of `main` so BenchSchemaSpec
    * can pin the artifact's schema against a live session without the
    * session-creating / process-exiting shell around it (verdict r17
    * item 1: the file IS the telemetry contract now, so its shape needs
    * an executable pin, not just prose).
    *
    * Returns (the JSON line as written to `outDir/bench.json`, the names
    * of failed queries, the digest lines — see below). `queryFn` defaults
    * to the real registry; injectable so the spec can pin the failure
    * contract (-1 marker + errors entry) without registering a
    * deliberately crashing query. `calibRuns` sizes the min-of-N
    * calibration pair (3 for real sweeps; the spec uses 1 for speed).
    *
    * DIGEST CONTRACT (r19 verdict item 1): the driver archives a ~2000
    * char stdout SUFFIX as BENCH_rN, and for three consecutive rounds
    * that tail cut the front of the single JSON line off — every
    * BENCH_r17–r19 shipped `"parsed": null` while the complete artifact
    * sat in `bench.json`. The returned digest lines are compact one-line
    * JSON records (≈1 KB total, BenchSchemaSpec-pinned under 2000 chars)
    * that `main` prints LAST, after the full line, so ANY suffix of
    * stdout that holds them parses into totals + per-family sums +
    * top-15 query mins + the calibration pair with no bench_records
    * access. Order: calib, families, top15, totals — totals LAST, so
    * even a 200-char tail still carries the headline number.
    */
  def runBench(
      spark: SparkSession,
      sfDir: String,
      names: Seq[String],
      runs: Int,
      outDir: String,
      queryFn: String => (SparkSession, String) => DataFrame = SparkEntry.queries,
      calibRuns: Int = 3,
  ): (String, Seq[String], Seq[String]) = {
    val loadStart = QueryTrace.loadAvg
    // the calibration pair runs FIRST (before any workload query warms
    // caches it could alias) — min-of-calibRuns so JIT compile and the
    // one-time parquet write drop out of the recorded numbers
    val calibDir = calibScanWrite(spark, outDir)
    val cScan = (1 to calibRuns).map { _ => QueryTrace.hygiene(spark); calibScan(spark, calibDir) }.min
    val cCpu = (1 to calibRuns).map(_ => calibCpu()).min
    val results = names.map { name =>
      // registry resolution failures (a benchQueries name with no
      // queries entry) are recorded like any other query failure — the
      // artifact must always be written; a lookup crash that kills the
      // run before the file exists is exactly the telemetry loss this
      // channel exists to prevent
      def fail(e: Throwable) = { System.err.println(s"BENCH FAIL $name: $e"); None }
      val fn = try Some(queryFn(name)) catch { case e: Throwable => fail(e) }
      val qLoad = QueryTrace.loadAvg
      // each run is cold-plan (no CacheManager hit) and cross-query reset
      // by the harness's hygiene; a failed run keeps the load at its failure
      val timed = (1 to runs).map { _ =>
        val run = fn.flatMap { f =>
          try Some(QueryTrace.timed(spark)(f(spark, sfDir).count())) catch { case e: Throwable => fail(e) }
        }
        (run, run.fold(QueryTrace.loadAvg)(_.load))
      }
      QueryResult(name, timed, qLoad)
    }
    def fmt(t: Double): String =
      // Locale.ROOT: the default-locale f"" interpolator writes a comma
      // decimal separator under comma-decimal locales, corrupting the
      // JSON line (every other number here is Double.toString, which is
      // locale-independent)
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(t))
    def byQuery(rs: Seq[QueryResult])(v: QueryResult => String): String =
      rs.map(r => "\"" + r.name + "\":" + v(r)).mkString("{", ",", "}")
    val qs = byQuery(results)(_.min.toString)
    // every individual run time (not just the min), each beside the
    // loadavg sampled just before it (post-hygiene): the drift-diagnosis
    // channel — a slow min whose own run-load was quiet is a regression,
    // a slow min under climbing load is the machine (the r12 verdict's g2
    // phantom needed a second pair run to decide this)
    val runsDetail = byQuery(results)(_.runs.map(t => fmt(t._1.fold(-1.0)(_.wall))).mkString("[", ",", "]"))
    val runLoads = byQuery(results)(_.runs.map(t => fmt(t._2)).mkString("[", ",", "]"))
    val loads = byQuery(results)(_.load.toString)
    val ok = results.filter(_.ok)
    // the min-wall run's work counters, successful queries only: the
    // drift-proof signal to judge that run's wall time against
    val counters = byQuery(ok) { r =>
      val run = r.best.get
      val c = run.c
      s"""{"jobs":${c.jobs.size},"stages":${c.stages},"tasks":${c.tasks},"shuffle_read_b":${c.shuffleReadB},""" +
        s""""shuffle_write_b":${c.shuffleWriteB},"spill_b":${c.spillB},"driver_gap_s":${fmt(run.driverGapS)}}"""
    }
    val errors = results.filterNot(_.ok).map("\"" + _.name + "\"").mkString("[", ",", "]")
    val total = ok.map(_.min).sum
    // field order matters for readers that keep only the LINE'S TAIL
    // (the driver stores a 2000-char stdout suffix): the per-query
    // min-times map — the number a human actually wants — goes LAST,
    // preceded by total_sec, so a truncated read still shows real
    // timings instead of the telemetry arrays (r13 verdict item 1: the
    // tail showed run_loads' loadavg values where r12's showed times,
    // reading as a phantom 10x regression)
    val loadEnd = QueryTrace.loadAvg
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","errors":$errors,"sf":"$sfDir","load_start":$loadStart,"load_end":$loadEnd,"calib_cpu_sec":${fmt(cCpu)},"calib_scan_sec":${fmt(cScan)},"load":$loads,"runs":$runsDetail,"run_loads":$runLoads,"counters":$counters,"total_sec":$total,"queries":$qs}"""
    // ---- digest lines (see the DIGEST CONTRACT in the method doc) ----
    // family = the query-name prefix before the first digit/underscore
    // (q1_agg→q, ml_churn_twin→ml, e8→e, mm1→mm, d5b→d, g2_triangles→g)
    def family(n: String): String =
      n.takeWhile(_.isLetter) match { case "" => "other"; case f => f }
    val famJson = ok.groupBy(r => family(r.name))
      .map { case (f, rs) => f -> rs.map(_.min).sum }
      .toSeq.sortBy(_._1)
      .map { case (f, s) => "\"" + f + "\":" + fmt(s) }
      .mkString("{", ",", "}")
    val topJson = byQuery(ok.sortBy(-_.min).take(15))(r => fmt(r.min))
    val nErr = results.count(!_.ok)
    val digest = Seq(
      s"""{"digest":"calib","cpu_sec":${fmt(cCpu)},"scan_sec":${fmt(cScan)},"runs":$calibRuns}""",
      s"""{"digest":"families","unit":"sec","sums":$famJson}""",
      s"""{"digest":"top15","unit":"sec","mins":$topJson}""",
      s"""{"digest":"totals","total_sec":${fmt(total)},"n_queries":${results.size},"n_errors":$nErr,"errors":$errors,"sf":"$sfDir","load_start":$loadStart,"load_end":$loadEnd,"calib_cpu_sec":${fmt(cCpu)},"calib_scan_sec":${fmt(cScan)}}""",
    )
    Files.createDirectories(Paths.get(outDir))
    Files.write(Paths.get(outDir, "bench.json"), (line + "\n").getBytes(StandardCharsets.UTF_8))
    // the digest is durable too (drift analysis reads it without
    // re-deriving families from the full map)
    Files.write(Paths.get(outDir, "bench_digest.json"),
      (digest.mkString("", "\n", "\n")).getBytes(StandardCharsets.UTF_8))
    (line, results.filterNot(_.ok).map(_.name), digest)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_OUT", "target")
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt.max(1)
    val (spark, only) = Verify.mainSetup("graft-bench")
    // warm the JVM + file cache once with a trivial scan so the first
    // measured query doesn't pay session bring-up
    Catalog(spark, sfDir).lineitem.count()
    val names = SparkEntry.benchQueries.filter(only)
    val (line, failed, digest) = runBench(spark, sfDir, names, runs, outDir)
    System.out.println(line)
    // the digest ends stdout so a suffix-truncating capture still parses
    // (see runBench's DIGEST CONTRACT doc) — totals line very last
    digest.foreach(System.out.println)
    spark.stop()
    // a failed query must fail the bench run visibly, not just in JSON
    if (failed.nonEmpty) sys.exit(1)
  }
}
