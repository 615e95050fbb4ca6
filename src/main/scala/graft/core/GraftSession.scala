package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine: the ONLY source of session
  * configuration. Bench, Verify, the test suites (SharedSpark) and
  * perfbench build their session with [[local]]; ChaosRetrySpec applies
  * [[conf]] under its own task-retry master.
  *
  * Mirrors the reference's session bootstrap
  * (`src/main/java/com/retail/ingestion/FullPreprocessingPipeline.java:34-38`)
  * but pins the settings the reference leaves at defaults: UTC session
  * timezone (oracle parity), AQE on (runtime re-planning / skew joins at
  * scale), and shuffle partitions sized for the actual parallelism instead
  * of the default 200 — on a real cluster this would be set to ~2-3x total
  * executor cores, here it tracks local cores.
  */
object GraftSession {

  /** The engine's session configuration at `cores` cores of parallelism
    * (`cores` sets `spark.sql.shuffle.partitions`).
    */
  def conf(cores: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // skew detection thresholds on COMPRESSED shuffle bytes, and a
    // hot KEY is maximally compressible (a run of identical values):
    // at the stock 256 MB threshold a mega-key partition at 16x the
    // median ROWS measured identical to skew-off (ProbeSkew,
    // bench_records/r17_skew_probe.json). Pin the threshold to the
    // advisory target so a skewed partition splits as soon as it is
    // both over the advisory chunk size and 5x the median - inert on
    // uniform workloads (the 5x median factor still gates), active
    // exactly under real skew.
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64m",
    "spark.sql.session.timeZone" -> "UTC",
    // partition discovery stays DRIVER-side up to 1024 paths: the
    // default (32) launches a Spark listing job per multi-dir table
    // read — a 358-task job for a stat sweep the driver does in tens
    // of ms on a local FS (OPTIMIZATION_r20.md: read-back of the
    // 358-dir week-partitioned table 1.11 -> 0.29 s, consistent over
    // 3 interleaved rounds). The value is an I/O-profile knob, not a
    // core-count one: deployments listing high-latency object stores
    // should set it back toward the default so wide tables list in
    // parallel; 1024 dirs is still kilobytes of driver metadata.
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "1024",
    // let AQE size CACHED plans' output partitioning by volume (off
    // upstream by default): the iterative operators cache small keyed
    // frames (graph adjacency/oriented lists, dedup edge/label frames,
    // gram arrays) built by keyed repartitions, and with the flag off
    // every such cache materializes at the session's shuffle-partition
    // count — per-superstep joins then run core-count-many tasks over
    // kilobyte partitions (8-vs-32-core bench ratio 0.41 on g1: pure
    // task overhead at this SF). With it on, AQE coalesces the cache
    // build to the advisory partition size, so the per-round task
    // count tracks DATA VOLUME at any scale — r21 interleaved A/Bs:
    // g3 0.76-0.85x, g5 0.73-0.84x, d8 0.75-0.86x, ml_kmeans_autok
    // 0.59x, g1 0.90x, d3/d6/d14/d10/d12 0.91-0.93x, nothing slower
    // (operators whose per-round compute needs full parallelism pin
    // [[parallelism]] instead — LabelPropagation's adjacency).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.ui.enabled" -> "false")

  /** Full compute parallelism of `spark`: the engine's one partition-count
    * source, read as an Int from the resolved SQL conf (the count Spark
    * itself gives an unsized shuffle), so no conf string is parsed here.
    * Every session [[local]] builds has it equal to its cores.
    *
    * The policy: AQE sizes every cache and shuffle by data volume
    * (`canChangeCachedPlanOutputPartitioning` in [[conf]]). A site whose
    * per-row compute needs full parallelism repartitions to this count
    * instead, and says why at the site; a runtime
    * `spark.sql.shuffle.partitions` change moves every such site.
    */
  def parallelism(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.numShufflePartitions

  /** Local session on `cores` threads under [[conf]]`(cores)`. */
  def local(appName: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder().master(s"local[$cores]").appName(appName)
      .config(conf(cores)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
