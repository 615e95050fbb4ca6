package graft.core

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The engine's one query-run harness. `Bench`, `graft.Trace` and the
  * scale probes all time through [[timed]], so a wall time and its work
  * counters come from one run under one pre-run state. The counters split
  * the wall into fixed driver/job cost (jobs, stages, tasks, driver gap)
  * and data-proportional cost (executor time, shuffle and spill bytes).
  * Eager work inside an operator (fits, checkpoints, sink writes) runs
  * while its frame is built, so it is timed and counted too.
  */
object QueryTrace {

  /** Counters of one timed run. `jobs` holds (id, start ms, end ms, description). */
  final class Counters {
    var stages = 0; var tasks = 0; var runS = 0.0; var cpuS = 0.0; var maxTaskS = 0.0
    var shuffleReadB = 0L; var shuffleWriteB = 0L; var spillB = 0L
    val jobs = mutable.ArrayBuffer.empty[(Int, Long, Long, String)]
    /** Seconds of wall clock covered by at least one job. */
    def jobSeconds: Double = jobs.map(j => (j._2, j._3)).sorted
      .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (s, e)) =>
        (sum + math.max(0L, e - math.max(s, reach)), math.max(reach, e))
      }._1 / 1e3
  }

  /** One timed run: wall seconds, row count, the load average sampled as it started, counters. */
  final case class Run(wall: Double, rows: Long, load: Double, c: Counters) {
    /** Wall seconds in which no job ran: planning, driver-side fits and collects. */
    def driverGapS: Double = wall - c.jobSeconds
  }

  /** 1-min system load average to 2 decimals (-1.0 if unknown): tells machine load from a regression. */
  def loadAvg: Double = {
    val v = java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    math.round(v * 100.0) / 100.0
  }

  /** Restores a shared JVM to a common baseline, outside any timed
    * window: drops every non-temporary table (`saveAsTable` leftovers),
    * clears the cache (else run 2 of a plan reads run 1's CacheManager
    * entry: d3 once read 1.8 s warm against 10.2 s cold), and forces a
    * full GC, which also lets the ContextCleaner reclaim earlier shuffle
    * files and broadcast blocks (sixteen queries once "regressed" 1.3-2x
    * behind 60+ predecessors' leftovers).
    */
  def hygiene(spark: SparkSession): Unit = {
    spark.catalog.listTables().collect()
      .filterNot(_.isTemporary)
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `${t.name}`"))
    spark.catalog.clearCache()
    System.gc()
  }

  /** One run of `action` (returning a row count) after [[hygiene]], timed
    * and counted; then a one-task marker job, whose end means every event
    * of the run has arrived (events arrive in order). A throwing action
    * rethrows; the listener is removed either way.
    */
  def timed(spark: SparkSession)(action: => Long): Run = {
    hygiene(spark)
    val load = loadAvg
    val sc = spark.sparkContext
    val l = new Listener(System.currentTimeMillis())
    sc.addSparkListener(l)
    try {
      val t0 = System.nanoTime()
      val rows = action
      val wall = (System.nanoTime() - t0) / 1e9
      sc.setJobDescription(Marker)
      try sc.parallelize(Seq(0), 1).count() finally sc.setJobDescription(null)
      require(l.done.await(60, TimeUnit.SECONDS), "listener events did not drain")
      Run(wall, rows, load, l.c)
    } finally sc.removeSparkListener(l)
  }

  private val Marker = "graft.core.QueryTrace end-of-run marker"

  /** Folds the public job, stage and task events of jobs started at or
    * after `since` (epoch ms) into [[Counters]]: events still queued from
    * before the run and the marker's own stages are not counted. A job is
    * described by its explicit description, else by the call site of the
    * SQL action that ran it, else by its last stage's name.
    */
  private[graft] final class Listener(since: Long) extends SparkListener {
    val c = new Counters
    val done = new CountDownLatch(1)
    private val open = mutable.Map.empty[Int, (Long, String)]
    private val runStages = mutable.Set.empty[Int]
    private var markerJob = -1
    private val actions = mutable.Map.empty[String, String]

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => actions(s.executionId.toString) = s.description
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val desc = prop("spark.job.description").orElse(prop("spark.sql.execution.id").flatMap(actions.get))
        .orElse(e.stageInfos.lastOption.map(_.name.split("\n").head)).getOrElse("?")
      if (desc == Marker) markerJob = e.jobId
      else if (e.time >= since) { open(e.jobId) = (e.time, desc.take(90)); runStages ++= e.stageIds }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == markerJob) done.countDown()
      else open.remove(e.jobId).foreach { case (t0, d) => c.jobs += ((e.jobId, t0, e.time, d)) }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (runStages(e.stageInfo.stageId)) c.stages += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null && runStages(e.stageId)) {
        c.tasks += 1; c.runS += m.executorRunTime / 1e3; c.cpuS += m.executorCpuTime / 1e9
        c.maxTaskS = math.max(c.maxTaskS, m.executorRunTime / 1e3)
        c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten; c.spillB += m.diskBytesSpilled
      }
    }
  }
}
