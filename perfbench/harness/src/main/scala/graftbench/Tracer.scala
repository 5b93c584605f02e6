package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Records the engine-side spans of a traced pass, in memory: every job
  * (tagged with the job group, which the harness sets to the operation
  * id), every completed stage with its task totals, and the planning
  * phases of every query execution. Times are the listener events'
  * epoch milliseconds. The harness writes [[spans]] out at the end of
  * the run. */
final class Tracer extends SparkListener with QueryExecutionListener {
  private final class StageAgg {
    var tasks = 0
    var taskMs = 0L
    var gcMs = 0L
    var inRows = 0L
    var inBytes = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var outBytes = 0L
    var filesWritten = 0
  }

  private val out = mutable.ArrayBuffer.empty[Main.Rec]
  private val jobStarts = mutable.Map.empty[Int, (String, Long, Seq[Int])]
  private val stageAggs = mutable.Map.empty[(Int, Int), StageAgg]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobStarts(e.jobId) = (group.getOrElse(""), e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (group, start, stages) =>
      out += Map("kind" -> "job", "job" -> e.jobId, "group" -> group,
        "start" -> start, "end" -> e.time, "stages" -> stages,
        "ok" -> (e.jobResult == JobSucceeded))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stageAggs.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAgg)
    a.tasks += 1
    a.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      a.gcMs += m.jvmGCTime
      a.inRows += m.inputMetrics.recordsRead
      a.inBytes += m.inputMetrics.bytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled
      a.outBytes += m.outputMetrics.bytesWritten
      // an unpartitioned file write lands at most one file per task
      if (m.outputMetrics.bytesWritten > 0) a.filesWritten += 1
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val a = stageAggs.remove((i.stageId, i.attemptNumber())).getOrElse(new StageAgg)
    out += Map("kind" -> "stage", "stage" -> i.stageId,
      "attempt" -> i.attemptNumber(), "start" -> i.submissionTime,
      "end" -> i.completionTime, "num_tasks" -> i.numTasks,
      "tasks" -> a.tasks, "task_ms" -> a.taskMs, "gc_ms" -> a.gcMs,
      "in_rows" -> a.inRows, "in_bytes" -> a.inBytes,
      "shuffle_write_bytes" -> a.shuffleWrite, "spill_bytes" -> a.spill,
      "out_bytes" -> a.outBytes, "files_written" -> a.filesWritten,
      "ok" -> i.failureReason.isEmpty)
  }

  private def phases(qe: QueryExecution, func: String, ok: Boolean): Unit = synchronized {
    val ph = qe.tracker.phases.map { case (name, p) => name -> Seq(p.startTimeMs, p.endTimeMs) }
    out += Map("kind" -> "qe", "func" -> func, "phases" -> ph, "ok" -> ok)
  }

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe, func, ok = true)

  override def onFailure(func: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe, func, ok = false)

  def spans: Seq[Main.Rec] = synchronized(out.toSeq)
}
