package perfbench

import scala.collection.mutable

import org.apache.spark.{Success => TaskSucceeded}
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2Relation}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job as the traced run saw it: its benchmark job group (the id
  * of the span that started it, or null when the job carried none) and the
  * task metrics summed over its stages.
  */
final class JobRec(val id: Int, val group: String, val startMs: Long) {
  var endMs: Long = startMs
  var tasks, taskFailures = 0L
  var runMs, cpuNs, gcMs = 0L
  var inputBytes, shuffleWriteBytes, shuffleReadBytes = 0L
  var spillBytes, outputBytes = 0L

  def toMap: Map[String, Any] = Map(
    "id" -> id, "group" -> group, "start_ms" -> startMs, "end_ms" -> endMs,
    "tasks" -> tasks, "task_failures" -> taskFailures, "run_ms" -> runMs,
    "cpu_ns" -> cpuNs, "gc_ms" -> gcMs, "input_bytes" -> inputBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_read_bytes" -> shuffleReadBytes, "spill_bytes" -> spillBytes,
    "output_bytes" -> outputBytes)
}

/** Catalyst time and final-plan shape of one timed noop write. */
final case class WriteRec(
    catalystMs: Long, exchanges: Int, smj: Int, bhj: Int, scans: Int, joinRows: Long)

/** Observe-only listener pair for the traced run. Everything is kept in
  * memory; the harness reads it after draining the listener bus and writes
  * it out when the run ends.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val writes = mutable.Queue.empty[WriteRec]
  private val blockBytes = mutable.HashMap.empty[String, Long]
  private var cachedBytes = 0L
  /** (wall ms, bytes of RDD blocks held) after every block update. */
  private val cacheSamples = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val rec = new JobRec(e.jobId, group, e.time)
    jobs(e.jobId) = rec
    e.stageIds.foreach(stageJob(_) = rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (e.reason != TaskSucceeded) j.taskFailures += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.inputBytes += m.inputMetrics.bytesRead
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        j.spillBytes += m.diskBytesSpilled
        j.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      cachedBytes += now - blockBytes.getOrElse(key, 0L)
      if (now == 0L) blockBytes.remove(key) else blockBytes(key) = now
      cacheSamples += ((System.currentTimeMillis(), cachedBytes))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (isNoopWrite(qe)) {
      val phases = qe.tracker.phases
      val catalystMs = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum
      val nodes = Tracer.planNodes(qe.executedPlan)
      val rec = WriteRec(
        catalystMs,
        nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
        nodes.count(_.isInstanceOf[SortMergeJoinExec]),
        nodes.count(_.isInstanceOf[BroadcastHashJoinExec]),
        nodes.count(p => p.isInstanceOf[FileSourceScanExec] || p.isInstanceOf[BatchScanExec]),
        nodes.collect { case j: BaseJoinExec => j }
          .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum)
      synchronized(writes.enqueue(rec))
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** The write record of the last timed query, if its write succeeded. */
  def takeWrite(): Option[WriteRec] = synchronized {
    val last = writes.lastOption
    writes.clear()
    last
  }

  /** Peak bytes of RDD blocks held between two wall-clock instants. */
  def cachePeak(fromMs: Long, toMs: Long): Long = synchronized {
    val before = cacheSamples.takeWhile(_._1 < fromMs).lastOption.map(_._2).getOrElse(0L)
    (before +: cacheSamples.collect { case (t, b) if t >= fromMs && t <= toMs => b }).max
  }

  private def isNoopWrite(qe: QueryExecution): Boolean = qe.logical match {
    case w: V2WriteCommand => w.table match {
      case r: DataSourceV2Relation => r.table.getClass.getName.contains(".noop.")
      case _ => false
    }
    case _ => false
  }
}

object Tracer {
  /** Every node of an executed plan, following adaptive plans to their final
    * form and query stages into their plans. A reused exchange counts once,
    * where it was first built.
    */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => planNodes(s.plan)
    case _: ReusedExchangeExec => Nil
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }
}
