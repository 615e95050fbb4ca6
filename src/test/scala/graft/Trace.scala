package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.core.QueryTrace
import graft.core.QueryTrace.Run
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The dev-loop tracing instrument: a registry query's wall time split
  * into fixed driver/job cost (jobs, stages, tasks, driver gap) and
  * data-proportional cost (executor time, shuffle and spill bytes), as
  * measured by [[graft.core.QueryTrace]], the harness Bench times with.
  *
  * Usage: Test/runMain graft.Trace <q1,q2,...> [--sf DIR] [--runs N]
  *          [--conf KEY=A,B] [--plan DIR:TAG]
  *
  * Per query: one warm run, then N measured runs (each a
  * `QueryTrace.timed` run); prints the min-wall run's counters and its jobs.
  * `--conf` runs the arms interleaved (A,B,A,B...) instead, prints min
  * wall per arm and its ratio to A, and exits 1 if an arm's row-multiset
  * hash differs from A's. `--plan` writes `explain("formatted")` of the
  * RETURNED frame to `DIR/<query>_TAG.txt` (the `plans/rN/` files).
  * Defaults: sf0.1 (TESTDATA.md), 2 runs. The session is the one Verify
  * and Bench run on ([[Verify.mainSetup]], `SPARK_GRAFT_CPUS` cores).
  */
object Trace {
  type Query = (SparkSession, String) => DataFrame

  final case class Opts(queries: Seq[String] = Nil, sf: String = "/root/testdata/sf0.1", runs: Int = 2,
      conf: Option[(String, Seq[String])] = None, plan: Option[(String, String)] = None)

  def parse(args: Array[String]): Opts = {
    @annotation.tailrec def go(rest: List[String], o: Opts): Opts = rest match {
      case Nil => o
      case "--sf" :: v :: t => go(t, o.copy(sf = v))
      case "--runs" :: v :: t if v.toInt > 0 => go(t, o.copy(runs = v.toInt))
      case "--conf" :: v :: t if v.contains('=') =>
        val (key, arms) = v.splitAt(v.indexOf('='))
        go(t, o.copy(conf = Some((key, arms.tail.split(",").toSeq))))
      case "--plan" :: v :: t if v.contains(':') =>
        val (dir, tag) = v.splitAt(v.lastIndexOf(':'))
        go(t, o.copy(plan = Some((dir, tag.tail))))
      case q :: t if !q.startsWith("--") =>
        go(t, o.copy(queries = o.queries ++ q.split(",").map(_.trim).filter(_.nonEmpty)))
      case bad => sys.error(s"unrecognised arguments: ${bad.mkString(" ")}")
    }
    go(args.toList, Opts())
  }

  /** Order-independent hash of a frame's row multiset: (row count, sum of
    * a per-row xxhash64 over every column). xxhash64 skips nulls, so each
    * column's null flag is hashed beside it.
    */
  def rowHash(df: DataFrame): (Long, java.math.BigDecimal) = {
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(d.columns.toSeq.flatMap(c => Seq(col(c), col(c).isNull)): _*)
    val r = d.agg(count(lit(1)), sum(h.cast(DecimalType(38, 0)))).head()
    (r.getLong(0), r.getDecimal(1))
  }

  /** Interleaved A/B of `key` over `arms`: one warm run under the first
    * arm, then `runs` rounds of every arm in order. Prints min wall per arm
    * and its ratio to the first; returns whether every arm's row-multiset
    * hash equals the first arm's. Restores `key` after.
    */
  def ab(spark: SparkSession, name: String, fn: Query, sf: String,
      key: String, arms: Seq[String], runs: Int): Boolean = {
    val prior = spark.conf.getOption(key)
    try {
      spark.conf.set(key, arms.head)
      fn(spark, sf).count()
      val timed = (1 to runs).flatMap(_ => arms.indices.map { i =>
        spark.conf.set(key, arms(i)); i -> QueryTrace.timed(spark)(fn(spark, sf).count()) })
      val best = arms.indices.map(i => timed.collect { case (`i`, r) => r }.minBy(_.wall))
      val hashes = arms.map { v => spark.conf.set(key, v); rowHash(fn(spark, sf)) }
      for (i <- arms.indices) println(f"[trace] $name%-28s $key=${arms(i)}  min ${best(i).wall}%.3f s" +
        f"  ratio ${best(i).wall / best.head.wall}%.2f  tasks ${best(i).c.tasks}  rows ${hashes(i)._1}" +
        s"  hash ${hashes(i)._2}${if (hashes(i) == hashes.head) "" else "  HASH MISMATCH"}")
      hashes.forall(_ == hashes.head)
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  def report(name: String, r: Run): Unit = {
    val c = r.c
    println(f"[trace] $name%-28s min ${r.wall}%.3f s  rows ${r.rows}  jobs ${c.jobs.size}  " +
      f"stages ${c.stages}  tasks ${c.tasks}  driver gap ${r.driverGapS}%.3f s")
    println(f"[trace] $name%-28s executor run ${c.runS}%.2f s  cpu ${c.cpuS}%.2f s  " +
      s"shuffle read ${c.shuffleReadB} B  write ${c.shuffleWriteB} B  spill ${c.spillB} B")
    for ((id, t0, t1, d) <- c.jobs.sortBy(_._1))
      println(f"[trace]   job $id%5d ${(t1 - t0) / 1e3}%7.3f s  $d")
  }

  /** Traces every query in `o`; the exit status is 1 if an A/B's arms' row multisets differ. */
  def run(spark: SparkSession, o: Opts, registry: Map[String, Query] = SparkEntry.queries): Int = {
    println(s"[trace] sf=${o.sf} cores=${spark.sparkContext.defaultParallelism} runs=${o.runs}")
    val agree = o.queries.map { name =>
      val fn = registry.getOrElse(name, sys.error(s"unknown query: $name"))
      val ok = o.conf match {
        case Some((key, arms)) => ab(spark, name, fn, o.sf, key, arms, o.runs)
        case None =>
          fn(spark, o.sf).count()
          report(name, (1 to o.runs).map(_ => QueryTrace.timed(spark)(fn(spark, o.sf).count())).minBy(_.wall))
          true
      }
      o.plan.foreach { case (dir, tag) =>
        val header = s"== $name ($tag) explain(formatted) of the returned frame; sf=${o.sf} ==\n"
        val plan = fn(spark, o.sf).queryExecution.explainString(FormattedMode)
        Files.createDirectories(Paths.get(dir))
        Files.write(Paths.get(dir, s"${name}_$tag.txt"), (header + plan).getBytes(StandardCharsets.UTF_8))
        println(s"[trace] wrote $dir/${name}_$tag.txt")
      }
      ok
    }
    if (agree.forall(identity)) 0 else 1
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val (spark, _) = Verify.mainSetup("graft-trace")
    sys.exit(try run(spark, o) finally spark.stop())
  }
}
