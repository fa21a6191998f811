package perfbench

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** The traced run's Spark-side recorder: one record per job (with its
  * task totals) and one per finished query execution (Catalyst phase
  * times). Jobs carry the span id the driver thread had set in the
  * [[Tracer.SpanKey]] local property when it submitted them, so each job
  * is parented to the construct, action or sweep span that started it.
  * Everything stays in memory; the driver reads it after draining the
  * listener bus. */
final class Tracer extends SparkListener with QueryExecutionListener {
  final class Job(val id: Int, val span: String, val startMs: Long) {
    var endMs: Long = -1L
    var ok = false
    var stages = 0
    var tasks = 0L
    var taskFailures = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var inputBytes = 0L
    var inputRows = 0L
    var outputBytes = 0L
    var outputRows = 0L

    def toMap: Map[String, Any] = Map(
      "id" -> id, "span" -> span, "start_ms" -> startMs, "end_ms" -> endMs,
      "ok" -> ok, "stages" -> stages, "tasks" -> tasks,
      "task_failures" -> taskFailures, "task_run_ms" -> runMs,
      "task_cpu_ns" -> cpuNs, "task_gc_ms" -> gcMs,
      "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
      "spill_bytes" -> spill, "input_bytes" -> inputBytes,
      "input_rows" -> inputRows, "output_bytes" -> outputBytes,
      "output_rows" -> outputRows)
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]
  private val executions = mutable.ArrayBuffer.empty[Map[String, Any]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
    val j = new Job(e.jobId, span.getOrElse(""), e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (e.reason != TaskSuccess) j.taskFailures += 1
      Option(e.taskMetrics).foreach { m =>
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.diskBytesSpilled
        j.inputBytes += m.inputMetrics.bytesRead
        j.inputRows += m.inputMetrics.recordsRead
        j.outputBytes += m.outputMetrics.bytesWritten
        j.outputRows += m.outputMetrics.recordsWritten
      }
    }
  }

  private def execution(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
    val ph = qe.tracker.phases
    def ms(name: String): Long = ph.get(name).map(_.durationMs).getOrElse(0L)
    val start = if (ph.isEmpty) -1L else ph.values.map(_.startTimeMs).min
    synchronized {
      executions += Map("func" -> funcName, "ok" -> ok, "start_ms" -> start,
        "analysis_ms" -> ms("analysis"), "optimize_ms" -> ms("optimization"),
        "planning_ms" -> ms("planning"))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    execution(funcName, qe, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    execution(funcName, qe, ok = false)

  def jobRecords: Seq[Map[String, Any]] = synchronized(jobs.values.map(_.toMap).toSeq)
  def executionRecords: Seq[Map[String, Any]] = synchronized(executions.toSeq)
}

object Tracer {
  /** Local property naming the driver-side span that submits a job. */
  val SpanKey = "perfbench.span"
}
