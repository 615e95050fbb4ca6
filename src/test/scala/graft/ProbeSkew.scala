package graft

import graft.core.QueryTrace
import graft.transform.SkewJoin
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Dev-only probe: measure the hot-key join ladder that SCALING.md and
  * `transform/SkewJoin.scala` describe but no round had measured — and
  * pin down WHEN each defense actually engages.
  *
  * The probe's headline finding (see `r17_skew_probe.json`): **AQE's
  * skew-join detection thresholds on COMPRESSED shuffle bytes
  * (`skewedPartitionThresholdInBytes`), and a hot KEY is exactly the
  * most compressible data there is** — a mega-key partition is a run of
  * identical key values, so a partition carrying 13× the median ROWS
  * can sit under the byte threshold and never split (measured here: a
  * 20M-row hot partition compresses to ~51 MB against the 256 MB
  * default — 13× the rows, invisible to the default detector; the
  * first probe cut at a 16 MB threshold saw ZERO splits at 6M hot
  * rows for the same reason). At 100 TB the motivating skew case — a
  * boilerplate duplicate document, one mega-customer — is exactly this
  * shape. The engine's deterministic salting
  * ([[SkewJoin.innerSalted]]) is row-oriented and engages regardless,
  * which is the measured justification for carrying it alongside AQE.
  *
  * Corpus: fact = 40M rows, `hotPct`% on ONE key, rest uniform over 2M
  * keys; dim = 2M keys. Both shuffle-joined (auto-broadcast disabled
  * both statically and at AQE re-plan — the 100 TB fact-dim posture).
  * Variants, interleaved across passes:
  *
  *   - aqe_default: AQE skew-split at DEFAULT thresholds (256 MB/5×) —
  *     expected NOT to fire on a compressible mega-key (the evasion).
  *   - aqe_tuned: thresholds the hot partition's compressed bytes can
  *     actually cross (1 MB/2×, advisory 4 MB) — the split fires
  *     (`SortMergeJoin(skew=true)`, skewSplits in telemetry).
  *   - skew_off: the naive plan — the hot key joins in ONE task
  *     (maxTaskSec in the telemetry is the straggler).
  *   - salted8: [[SkewJoin.innerSalted]] at default AQE thresholds —
  *     the row-oriented defense, costing a dim replication (visible as
  *     ~2× shuffle bytes) to cut the straggler 8×.
  *
  * Per-variant telemetry (a straggler is invisible to wall clock under
  * ambient noise), from the `QueryTrace.timed` run's counters: task
  * count, executor run seconds, shuffle write bytes, and the longest
  * task's run time; every variant's aggregate output is checksummed and
  * asserted identical.
  *
  * Run: `sbt "Test/runMain graft.ProbeSkew"`; paste the JSON line into
  * `bench_records/r17_skew_probe.json`. Env-tunable:
  * `SPARK_GRAFT_SKEW_FACT=40000000`, `SPARK_GRAFT_SKEW_DIM=2000000`,
  * `SPARK_GRAFT_SKEW_HOT_PCT=50`.
  */
object ProbeSkew {

  def main(args: Array[String]): Unit = {
    val nFact = sys.env.get("SPARK_GRAFT_SKEW_FACT").map(_.toLong).getOrElse(40000000L)
    val nDim = sys.env.get("SPARK_GRAFT_SKEW_DIM").map(_.toLong).getOrElse(2000000L)
    val hotPct = sys.env.get("SPARK_GRAFT_SKEW_HOT_PCT").map(_.toInt).getOrElse(50)

    val spark = graft.core.GraftSession.local("skew_probe", 32)
    spark.sparkContext.setLogLevel("ERROR")
    val results: Probes.Record = scala.collection.mutable.LinkedHashMap.empty
    results += "fact_rows" -> nFact
    results += "dim_rows" -> nDim
    results += "hot_pct" -> hotPct

    val fact = spark.range(0, nFact).select(
      when(pmod(col("id"), lit(100)) < hotPct, lit(0L))
        .otherwise(pmod(xxhash64(col("id")), lit(nDim))).as("k"),
      (col("id") % 1000).as("v"))
      .localCheckpoint(true)
    val dim = spark.range(0, nDim)
      .select(col("id").as("k"), (col("id") * 2 + 1).as("w"))
      .localCheckpoint(true)

    // the 100 TB posture: neither side broadcasts, at plan time or at
    // AQE re-plan time
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

    val defaultConf = Map(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "256m",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "5.0",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64m")
    val tunedConf = defaultConf ++ Map(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1m",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4m")
    val offConf = defaultConf + ("spark.sql.adaptive.skewJoin.enabled" -> "false")

    val variants: Seq[(String, Map[String, String], () => DataFrame)] = Seq(
      ("aqe_default", defaultConf, () => fact.join(dim, "k")),
      ("aqe_tuned", tunedConf, () => fact.join(dim, "k")),
      ("skew_off", offConf, () => fact.join(dim, "k")),
      ("salted8", defaultConf, () => SkewJoin.innerSalted(fact, dim, "k", saltBuckets = 8)))

    var checksum: Option[(Long, Long)] = None
    val runs = scala.collection.mutable.Map.empty[String, List[QueryTrace.Run]].withDefaultValue(Nil)
    for (pass <- 1 to 2; (name, conf, mk) <- variants) {
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      val adf = mk().agg(count(lit(1)).as("n"), sum(col("v") * col("w")).as("chk"))
      var row: Row = null
      val r = QueryTrace.timed(spark) { row = adf.collect()(0); 1L }
      val chk = (row.getLong(0), row.getLong(1))
      // per-run telemetry from the harness's counters: task count,
      // executor run time, shuffle write, and the LONGEST task's run time
      // (the straggler metric wall clock hides under noise)
      val plan = adf.queryExecution.executedPlan.toString
      val splits = if (plan.contains("skew=true"))
        s" skewSplits=${"AQEShuffleRead skewed".r.findAllIn(plan).size}" else ""
      val tel = f"tasks=${r.c.tasks}%d cpuSec=${r.c.runS}%.1f shuffleGB=${r.c.shuffleWriteB / 1e9}%.2f " +
        f"maxTaskSec=${r.c.maxTaskS}%.1f$splits"
      checksum match {
        case None => checksum = Some(chk)
        case Some(c) => assert(c == chk,
          s"$name returned $chk, expected $c — a rewrite changed the answer")
      }
      println(f"PROBE pass=$pass $name%-12s ${r.wall}%8.3f s load=${r.load}%.2f $tel chk=$chk")
      runs(name) :+= r
      results += s"${name}_pass${pass}_load" -> r.load
      results += s"${name}_pass${pass}_telemetry" -> tel
    }
    defaultConf.foreach { case (k, v) => spark.conf.set(k, v) }

    for ((name, _, _) <- variants) {
      val secs = runs(name).map(r => math.rint(r.wall * 1000) / 1000)
      results += s"${name}_secs" -> secs.mkString("[", ",", "]")
      results += s"${name}_min_sec" -> secs.min
      results += s"${name}_min_max_task_sec" -> runs(name).map(r => math.rint(r.c.maxTaskS * 10) / 10).min
    }
    results += "checksum_n" -> checksum.get._1
    results += "checksum_sum" -> checksum.get._2

    println("SKEW_PROBE_JSON " + Probes.json(results))
    spark.stop()
  }
}
