package graft.perfbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{Bench, SparkEntry, Verify}
import graft.Verify.jsonStr
import graft.core.{Catalog, GraftSession}
import graft.ml.SegmentationPipeline
import graft.serve.Serving
import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run in one JVM: set-up, a check pass and one untimed
  * warm-up pass, then timed passes over the op list until the measuring
  * window is spent. Raw records go to a JSON-lines file that `run.py`
  * turns into metrics.
  *
  * Usage: Driver PLAN_FILE, where PLAN_FILE is a java properties file
  * written by `run.py` (keys read in [[main]]).
  */
object Driver {

  private val out = mutable.ArrayBuffer.empty[String]

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  /** Append one record; values are already JSON. */
  private def emit(kind: String, fields: (String, String)*): Unit =
    out += (("kind" -> jsonStr(kind)) +: fields).map { case (k, v) => s"${jsonStr(k)}:$v" }.mkString("{", ",", "}")

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Span record: one op (or lookup) of one pass, timed on the driver. */
  final case class Span(tag: String, name: String, kind: String, pass: Int, traced: Boolean,
                        startMs: Long, buildEndMs: Long, endMs: Long,
                        buildS: Double, actionS: Double, wallS: Double, error: String)

  /** Restore a common baseline between ops, outside any timed window:
    * drop leftover warehouse tables, clear Spark's cache, collect.
    */
  private def hygiene(spark: SparkSession): Unit = {
    spark.catalog.listTables().collect().filterNot(_.isTemporary)
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `${t.name}`"))
    spark.catalog.clearCache()
    System.gc()
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)

  private def runGen(cmd: Seq[String], dir: String): Unit = {
    val p = new ProcessBuilder((cmd :+ dir).asJava).inheritIO().start()
    val rc = p.waitFor()
    if (rc != 0) throw new IllegalStateException(s"input generator exited with $rc")
  }

  def main(args: Array[String]): Unit = {
    val plan = new java.util.Properties()
    val in = Files.newBufferedReader(Paths.get(args(0)), StandardCharsets.UTF_8)
    try plan.load(in) finally in.close()
    def p(k: String): String = Option(plan.getProperty(k)).getOrElse(sys.error(s"plan key $k missing"))
    def list(k: String): Seq[String] = p(k).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val cores = p("cores").toInt
    val ops = list("ops")
    val lookupKeys = list("lookup_keys").map(_.toLong)
    val genCmd = p("gen_cmd").split("\t").toSeq
    val workDir = p("work_dir")
    val checkDir = s"$workDir/check"
    val seconds = p("seconds").toDouble
    val traced = p("trace") == "1"
    val setupReps = p("setup_reps").toInt
    val fit = lookupKeys.nonEmpty

    // ---------------- set-up: session + inputs repeated, one fit --------
    var spark: SparkSession = null
    val dataDir = s"$workDir/input"
    for (rep <- 1 to setupReps) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = GraftSession.local("perfbench", cores)
      val sessionS = secs(t0)
      val t1 = System.nanoTime()
      runGen(genCmd, dataDir)
      emit("setup", "rep" -> rep.toString, "session_s" -> num(sessionS), "gen_s" -> num(secs(t1)))
    }
    // the serving feature store (per-customer features as parquet) and a
    // fixed-K segmentation model fitted on it
    var model: PipelineModel = null
    var features: DataFrame = null
    val tf = System.nanoTime()
    if (fit) {
      val c = Catalog(spark, dataDir)
      SegmentationPipeline.features(c.customer, c.orders)
        .write.mode("overwrite").parquet(s"$workDir/features")
      features = spark.read.parquet(s"$workDir/features")
      model = SegmentationPipeline.fitFixedK(features, 4)
    }
    emit("fit", "fit_s" -> num(if (fit) secs(tf) else 0.0))
    val sc = spark.sparkContext
    val streams = new StreamListener
    sc.addSparkListener(streams)

    val queries = SparkEntry.queries
    def op(name: String): (SparkSession, String) => DataFrame = queries(name)

    // ---------------- check pass and warm-up ----------------------------
    // every op's output dumped as Verify dumps it (one parquet file), with
    // the same hygiene as the timed passes: without it garbage from the
    // whole pass piles up and the heap high-water mark (peak_rss_mb)
    // swings by a quarter between runs. An op without an oracle is
    // checked through its twin, dumped here too.
    val oracles = SparkEntry.oracleSql
    val twins = SparkEntry.twinOf
    val tw = System.nanoTime()
    (ops ++ ops.flatMap(twins.get).filterNot(ops.contains)).foreach { name =>
      hygiene(spark)
      val err = Verify.dumpAll(spark, dataDir, checkDir, Seq(name -> op(name))).getOrElse(name, "")
      emit("check", "op" -> jsonStr(name), "error" -> jsonStr(err),
        "oracle" -> jsonStr(oracles.getOrElse(name, "")), "twin" -> jsonStr(twins.getOrElse(name, "")))
    }
    if (fit) {
      // every lookup against a batch transform of the same key
      val batch = model.transform(features).select("custkey", "prediction").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      lookupKeys.distinct.foreach { key =>
        val got = Serving.predictByKey(model, features, "custkey", key)
          .map(_.select("prediction").collect().map(_.getInt(0)).toSeq)
        val ok = got == batch.get(key).map(Seq(_))
        emit("lookup_check", "key" -> key.toString, "ok" -> ok.toString)
      }
    }
    // ---------------- timed passes -------------------------------------
    var attached = false
    /** One pass over the ops, then the lookups; each span is tagged so
      * the listeners can attribute its Spark jobs. */
    def runPass(pass: Int): Seq[Span] = {
      val spans = mutable.ArrayBuffer.empty[Span]
      ops.zipWithIndex.foreach { case (name, i) =>
        hygiene(spark)
        val tag = s"p$pass:$i"
        sc.setLocalProperty(Trace.TagKey, tag)
        val startMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        var buildS = Double.NaN
        var buildEndMs = startMs
        val err = try {
          val df = op(name)(spark, dataDir)
          buildS = secs(t0); buildEndMs = System.currentTimeMillis()
          df.write.format("noop").mode("overwrite").save()
          ""
        } catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400) }
        val wall = secs(t0)
        if (buildS.isNaN) buildS = wall
        spans += Span(tag, name, "op", pass, attached, startMs, buildEndMs, System.currentTimeMillis(),
          buildS, wall - buildS, wall, err)
      }
      lookupKeys.zipWithIndex.foreach { case (key, i) =>
        val tag = s"p$pass:L$i"
        sc.setLocalProperty(Trace.TagKey, tag)
        val startMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val err = try {
          Serving.predictByKey(model, features, "custkey", key).foreach(_.select("prediction").collect())
          ""
        } catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400) }
        val wall = secs(t0)
        spans += Span(tag, s"lookup:$key", "lookup", pass, attached, startMs, startMs,
          System.currentTimeMillis(), 0.0, wall, wall, err)
      }
      sc.setLocalProperty(Trace.TagKey, null)
      spans.toSeq
    }
    // the check pass leaves the JIT still compiling: the first two noop
    // passes after it ran 5-15 % slower than the later ones, so one
    // more untimed pass precedes the window
    runPass(-1)
    val warmupS = secs(tw)
    val calib = Bench.calibCpu()
    emit("env", "cores" -> cores.toString, "heap_mb" -> num(Runtime.getRuntime.maxMemory / 1048576.0),
      "spark_version" -> jsonStr(spark.version), "java_version" -> jsonStr(System.getProperty("java.version")),
      "calib_cpu_s" -> num(calib), "warmup_s" -> num(warmupS))

    // traced runs measure an untraced first half, then attach the
    // listeners for the second half (trace.overhead_ratio)
    val jobs = new JobListener
    val plans = new PlanListener
    val spans = mutable.ArrayBuffer.empty[Span]
    val window = System.nanoTime()
    var pass = 0
    // at least two passes, so pass_s is a median even when one pass
    // outlasts the window
    while (pass < 2 || secs(window) < seconds) {
      if (traced && !attached && pass > 0 && (pass == 1 || secs(window) >= seconds / 2)) {
        sc.addSparkListener(jobs)
        spark.listenerManager.register(plans)
        attached = true
      }
      spans ++= runPass(pass)
      pass += 1
    }
    emit("end", "window_s" -> num(secs(window)), "peak_rss_mb" -> num(peakRssMb()))
    // stopping drains the listener bus, so every event has been folded
    spark.stop()

    // ---------------- records ------------------------------------------
    val execs = plans.execs.asScala.toSeq
    val batches = streams.batches.asScala.toSeq
    spans.foreach { s =>
      def inSpan(ms: Long) = ms >= s.startMs && ms <= s.endMs
      val a = Option(jobs.aggs.get(s.tag)).getOrElse(new SparkAgg)
      val ex = execs.filter(e => inSpan(e._1))
      val bs = batches.filter(b => inSpan(b.startMs))
      val jobsJson = a.jobIntervals.sortBy(_._1).map { case (st, en) => s"[$st,$en]" }.mkString("[", ",", "]")
      emit(s.kind, "tag" -> jsonStr(s.tag), "name" -> jsonStr(s.name), "pass" -> s.pass.toString,
        "traced" -> s.traced.toString, "start_ms" -> s.startMs.toString,
        "build_end_ms" -> s.buildEndMs.toString, "end_ms" -> s.endMs.toString,
        "build_s" -> num(s.buildS), "action_s" -> num(s.actionS), "wall_s" -> num(s.wallS),
        "error" -> jsonStr(s.error),
        "jobs" -> a.jobs.toString, "stages" -> a.stages.toString, "tasks" -> a.tasks.toString,
        "useful_tasks" -> a.usefulTasks.toString, "job_intervals" -> jobsJson,
        "task_run_s" -> num(a.taskRunS), "task_cpu_s" -> num(a.taskCpuS), "task_gc_s" -> num(a.taskGcS),
        "task_overhead_s" -> num(a.taskOverheadS), "shuffle_write_b" -> a.shuffleWriteB.toString,
        "shuffle_read_b" -> a.shuffleReadB.toString, "spill_b" -> a.spillB.toString,
        "read_b" -> a.readB.toString, "rows_read" -> a.rowsRead.toString,
        "write_b" -> a.writeB.toString, "rows_written" -> a.rowsWritten.toString, "write_s" -> num(a.writeS),
        "cache_builds" -> a.cachedRdds.size.toString, "cache_b" -> a.cacheB.toString,
        "cache_partitions" -> a.cachePartitions.toString,
        "sql_executions" -> ex.size.toString, "analysis_s" -> num(ex.map(_._2).sum),
        "optimization_s" -> num(ex.map(_._3).sum), "planning_s" -> num(ex.map(_._4).sum),
        "batches" -> bs.size.toString, "batch_ms" -> bs.map(_.triggerMs).mkString("[", ",", "]"),
        "add_batch_s" -> num(bs.map(_.addBatchMs).sum / 1e3), "wal_commit_s" -> num(bs.map(_.walMs).sum / 1e3),
        "state_rows" -> bs.map(_.stateRows).maxOption.getOrElse(0L).toString,
        "state_b" -> bs.map(_.stateBytes).maxOption.getOrElse(0L).toString,
        "late_rows" -> bs.map(_.lateRows).sum.toString)
    }
    val w = new PrintWriter(new File(p("out")), "UTF-8")
    try out.foreach(w.println) finally w.close()
  }
}
