package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** Per-span Spark counters, filled by [[JobListener]] from the listener bus. */
final class SparkAgg {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var usefulTasks = 0L
  var taskRunS = 0.0; var taskCpuS = 0.0; var taskGcS = 0.0; var taskOverheadS = 0.0
  var shuffleWriteB = 0L; var shuffleReadB = 0L; var spillB = 0L
  var readB = 0L; var rowsRead = 0L; var writeB = 0L; var rowsWritten = 0L; var writeS = 0.0
  var cacheB = 0L; var cachePartitions = 0L
  val cachedRdds = mutable.Set.empty[Int]
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Tags every Spark job with the span that submitted it (the driver sets
  * the `perfbench.tag` local property around each op, lookup and write)
  * and folds stage, task and `rdd_` block events into that span's
  * [[SparkAgg]]. Only public listener APIs are used; the engine is not
  * instrumented.
  */
final class JobListener extends SparkListener {
  val aggs = new ConcurrentHashMap[String, SparkAgg]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val rddTag = new ConcurrentHashMap[Int, String]()
  private val jobTag = new ConcurrentHashMap[Int, (String, Long)]()

  private def agg(tag: String): SparkAgg = aggs.computeIfAbsent(tag, _ => new SparkAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.TagKey))).orNull
    if (tag == null) return
    jobTag.put(e.jobId, (tag, e.time))
    agg(tag).synchronized { agg(tag).jobs += 1 }
    e.stageInfos.foreach { s =>
      stageTag.put(s.stageId, tag)
      s.rddInfos.foreach(r => rddTag.putIfAbsent(r.id, tag))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobTag.remove(e.jobId)).foreach { case (tag, start) =>
      val a = agg(tag); a.synchronized { a.jobIntervals += ((start, e.time)) }
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageTag.get(e.stageInfo.stageId)).foreach { tag =>
      e.stageInfo.rddInfos.foreach(r => rddTag.putIfAbsent(r.id, tag))
      val a = agg(tag); a.synchronized { a.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val tag = stageTag.get(e.stageId)
    val m = e.taskMetrics
    if (tag == null || m == null) return
    val a = agg(tag)
    a.synchronized {
      val run = m.executorRunTime / 1e3
      a.tasks += 1
      a.taskRunS += run
      a.taskCpuS += m.executorCpuTime / 1e9
      a.taskGcS += m.jvmGCTime / 1e3
      a.taskOverheadS += math.max(0.0, e.taskInfo.duration / 1e3 - run)
      a.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      a.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      a.spillB += m.diskBytesSpilled
      a.readB += m.inputMetrics.bytesRead
      a.rowsRead += m.inputMetrics.recordsRead
      // the timed action is a `noop` write, which produces no bytes:
      // byte-producing tasks are the program's own file writes
      if (m.outputMetrics.bytesWritten > 0) {
        a.writeB += m.outputMetrics.bytesWritten
        a.rowsWritten += m.outputMetrics.recordsWritten
        a.writeS += run
      }
      val records = m.inputMetrics.recordsRead + m.outputMetrics.recordsWritten +
        m.shuffleReadMetrics.recordsRead + m.shuffleWriteMetrics.recordsWritten
      if (records > 0) a.usefulTasks += 1
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case RDDBlockId(rdd, _) if info.storageLevel.isValid =>
        Option(rddTag.get(rdd)).foreach { tag =>
          val a = agg(tag)
          a.synchronized {
            a.cachedRdds += rdd
            a.cachePartitions += 1
            a.cacheB += info.memSize + info.diskSize
          }
        }
      case _ =>
    }
  }
}

/** Planning phases of every SQL execution, from `QueryExecution.tracker`.
  * The callback carries no job properties, so phases are attributed to
  * spans by wall-clock time (the driver runs one span at a time).
  */
final class PlanListener extends QueryExecutionListener {
  /** (end epoch ms, analysis s, optimization s, planning s) */
  val execs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double, Double, Double)]()

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def secs(n: String) = ph.get(n).map(p => (p.endTimeMs - p.startTimeMs) / 1e3).getOrElse(0.0)
    val end = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.endTimeMs).max
    execs.add((end, secs("analysis"), secs("optimization"), secs("planning")))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** Micro-batch progress of every streaming query, attributed to spans by
  * the trigger's start time. Progress events reach the shared listener
  * bus from every session, including the session clones the streaming
  * gates run on, which a session-scoped `StreamingQueryListener` misses.
  */
final class StreamListener extends SparkListener {
  final case class Batch(startMs: Long, triggerMs: Long, addBatchMs: Long, walMs: Long,
                         stateRows: Long, stateBytes: Long, lateRows: Long)
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case pe: StreamingQueryListener.QueryProgressEvent =>
      val p = pe.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val ops = p.stateOperators
      batches.add(Batch(
        java.time.Instant.parse(p.timestamp).toEpochMilli, d("triggerExecution"), d("addBatch"),
        d("walCommit"), ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.numRowsDroppedByWatermark).sum))
    case _ =>
  }
}

object Trace {
  val TagKey = "perfbench.tag"
}
