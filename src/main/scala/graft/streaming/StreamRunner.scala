package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter

/** The one run-to-completion lifecycle of the streaming gates. Every
  * `run*` helper in [[EventStream]] and [[DocStream]] builds its plan on
  * a [[session]] and hands it to [[toMemory]] or [[toFiles]]; the helper
  * keeps its plan and its reduction of the sink, this object owns the
  * rest:
  *
  *  1. the gate session ([[session]]): the caller's runtime SQL conf plus
  *     the state-partition policy;
  *  2. start, drain and stop: `start()`, then `processAllAvailable()`,
  *     then `stop()` in a `finally`, so a failing batch never leaves a
  *     query running;
  *  3. the emission check: every sink it returns holds rows;
  *  4. sink naming: each run has its own session, whose temp views hold
  *     only its own memory sink, so a fixed sink name can be neither
  *     stale from a prior run nor shared with a concurrent one.
  *
  * `scripts/check_unreferenced.py` fails on `.writeStream`,
  * `processAllAvailable(` or `newSession(` anywhere else in `src/main`.
  */
private[streaming] object StreamRunner {

  /** A clone of `spark` for one gate run (shared SparkContext and cache,
    * its own SQL conf and temp views). `newSession()` alone starts from
    * the SparkConf and drops every runtime `conf.set` on the caller, so
    * the clone copies back each of the caller's settings a session may
    * change: an AQE or codegen A/B, or a conf-invariance law, then
    * really runs the gates under the conf it sets.
    *
    * It then sets the state partitioning to min(4, cores). A streaming
    * query pins its state partitioning to `spark.sql.shuffle.partitions`
    * at start, and every stateful operator opens one or more state store
    * instances per partition per micro-batch (a stream-stream join opens
    * four per side). The gates hold kilobytes of state, so the batch
    * session's core-count default buys only state-store bring-up
    * (OPTIMIZATION_r20.md, sf0.1 at 32 cores, min-of-2, 32 → 8
    * partitions: e4 1.88 → 1.60 s, e5 3.23 → 2.41 s, e7 3.27 → 2.07 s,
    * e8 1.19 → 0.86 s). A fixed bound over-partitions low-core runs: at
    * 4 cores an 8-partition arm measured e7 +26 % and e8 +25 % against
    * the session's 4 (two task waves per stateful stage per micro-batch).
    * r21 retuned the bound from 8 to 4 (OPTIMIZATION_r21.md, interleaved
    * min-of-3 over all eight gates at 32 and 8 cores: 4 wins or ties
    * every gate at both, e.g. e6 3.34 → 2.57, e12 3.25 → 2.73, e10
    * 3.22 → 2.82 s at 32 cores, family 17.1 → 14.9 s; 2 measured
    * noise-equal to 4 on e6, so 4 keeps the headroom). Scoped to the
    * clone, the value never reaches concurrently planned batch queries
    * and no crash can leave it behind.
    */
  def session(spark: SparkSession): SparkSession = {
    val gate = spark.newSession()
    for ((k, v) <- spark.conf.getAll if gate.conf.isModifiable(k)) gate.conf.set(k, v)
    gate.conf.set("spark.sql.shuffle.partitions",
      math.min(4, graft.core.GraftSession.parallelism(spark)).toString)
    gate
  }

  /** Run `plan` to completion into a memory sink named `name` in output
    * `mode`; returns `reduce` of the sink table, emission-checked.
    */
  def toMemory(plan: DataFrame, mode: String, name: String)
              (reduce: DataFrame => DataFrame): DataFrame = {
    drain(plan.writeStream.outputMode(mode).format("memory").queryName(name))
    emitted(reduce(plan.sparkSession.table(name)), name)
  }

  /** Run `plan` to completion into append-mode parquet files at `out`,
    * with its offsets and state in the checkpoint `ckpt`. A second call
    * on the same `ckpt` resumes where the first stopped.
    */
  def toFiles(plan: DataFrame, out: String, ckpt: String): Unit =
    drain(plan.writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ckpt))

  /** The files [[toFiles]] committed at `out` (read through the sink's
    * `_spark_metadata` log), emission-checked.
    */
  def committed(spark: SparkSession, out: String, name: String): DataFrame =
    emitted(spark.read.parquet(out), name)

  private def drain(writer: DataStreamWriter[Row]): Unit = {
    val q = writer.start()
    try q.processAllAvailable() finally q.stop()
  }

  /** A streaming gate that emits zero rows exits "cleanly" and then fails
    * (or worse, silently skews) only at the oracle compare: exactly how
    * r9's ingestion regression hid e5/e7 writing empty sinks. Emission is
    * part of every run's contract, so an empty sink fails here, loudly,
    * at the operator boundary.
    */
  private def emitted(df: DataFrame, name: String): DataFrame = {
    require(!df.isEmpty,
      s"streaming gate $name emitted 0 rows — watermark never closed any " +
        "state or the source produced no data; refusing to return an empty sink")
    df
  }
}
