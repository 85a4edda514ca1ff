package graft.perfbench

import scala.collection.mutable.{ArrayBuffer, HashMap}

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder fed by Spark's own listeners. Jobs and stages
  * are kept with the operation that caused them, task metrics are summed
  * per stage, Catalyst phase times are kept per action, and cache block
  * puts are counted. Nothing leaves memory until the run record is
  * written at exit.
  *
  * A job is parented through its job group: the harness sets the group
  * `pb:<op>` around each call it makes. Jobs of a streaming micro-batch
  * carry the stream's own group (its run id), so they are parented to
  * the operation the harness has marked current; the harness drains the
  * listener bus before it moves to the next operation, which makes that
  * attribution exact. */
final class Recorder extends SparkListener with QueryExecutionListener {
  @volatile var currentOp: String = ""

  final class StageRec(val id: Int, val op: String) {
    var submitMs = 0L; var endMs = 0L
    var tasks = 0; var failures = 0
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var waitMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var fetchWaitMs = 0L
    var spill = 0L; var inBytes = 0L; var inRows = 0L; var outBytes = 0L
    def toMap: Map[String, Any] = Map("id" -> id, "op" -> op,
      "t0" -> submitMs, "t1" -> endMs, "tasks" -> tasks, "failures" -> failures,
      "run_ms" -> runMs, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs, "wait_ms" -> waitMs,
      "shuffle_write" -> shuffleWrite, "shuffle_read" -> shuffleRead,
      "fetch_wait_ms" -> fetchWaitMs, "spill" -> spill, "in_bytes" -> inBytes,
      "in_rows" -> inRows, "out_bytes" -> outBytes)
  }

  private val jobs = ArrayBuffer.empty[HashMap[String, Any]]
  private val jobById = HashMap.empty[Int, HashMap[String, Any]]
  private val stages = HashMap.empty[(Int, Int), StageRec]
  private val phases = ArrayBuffer.empty[Map[String, Any]]
  private val blocksPut = HashMap.empty[String, Long]

  private def opOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("pb:")).map(_.drop(3)).getOrElse(currentOp)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = HashMap[String, Any]("id" -> e.jobId, "op" -> opOf(e.properties),
      "t0" -> e.time, "t1" -> e.time, "stages" -> e.stageIds)
    jobs += j
    jobById(e.jobId) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_("t1") = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val info = e.stageInfo
    val r = new StageRec(info.stageId, opOf(e.properties))
    r.submitMs = info.submissionTime.getOrElse(System.currentTimeMillis())
    stages((info.stageId, info.attemptNumber())) = r
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stages.get((info.stageId, info.attemptNumber())).foreach { r =>
      r.endMs = info.completionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get((e.stageId, e.stageAttemptId)).foreach { r =>
      val info = e.taskInfo
      r.tasks += 1
      if (e.reason != Success) r.failures += 1
      r.waitMs += math.max(0L, info.launchTime - r.submitMs)
      val m = e.taskMetrics
      if (m != null) {
        r.runMs += m.executorRunTime
        r.cpuNs += m.executorCpuTime
        r.gcMs += m.jvmGCTime
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        r.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        r.spill += m.diskBytesSpilled
        r.inBytes += m.inputMetrics.bytesRead
        r.inRows += m.inputMetrics.recordsRead
        r.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid)
      blocksPut(currentOp) = blocksPut.getOrElse(currentOp, 0L) + 1
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPhases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPhases(qe)

  private def recordPhases(qe: QueryExecution): Unit = synchronized {
    val p = qe.tracker.phases
    def ms(k: String): Long = p.get(k).map(_.durationMs).getOrElse(0L)
    phases += Map("op" -> currentOp, "analysis_ms" -> ms("analysis"),
      "optimization_ms" -> ms("optimization"), "planning_ms" -> ms("planning"))
  }

  def record: Map[String, Any] = synchronized {
    Map("jobs" -> jobs.map(_.toMap), "stages" -> stages.values.toSeq.sortBy(_.submitMs).map(_.toMap),
      "phases" -> phases.toSeq, "blocks_put" -> blocksPut.toMap)
  }
}
