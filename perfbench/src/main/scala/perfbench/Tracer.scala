package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** Records what the engine did, from outside the program: every job, every
  * completed stage attempt with its summed task metrics, failed tasks, and
  * the Catalyst phase times of every executed query. Events carry the
  * driver clock (epoch ms), so run.py attributes each one to the op whose
  * interval contains it. The listener bus drains before `SparkContext.stop`
  * returns, so the records are complete once the session is stopped. */
final class Tracer extends SparkListener with QueryExecutionListener {
  val jobs = ArrayBuffer[Map[String, Any]]()
  val jobEnds = ArrayBuffer[Map[String, Any]]()
  val stages = ArrayBuffer[Map[String, Any]]()
  val submits = ArrayBuffer[Map[String, Any]]()
  val failedTasks = ArrayBuffer[Map[String, Any]]()
  val plans = ArrayBuffer[Map[String, Any]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Map("job" -> e.jobId, "t" -> e.time, "stages" -> e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobEnds += Map("job" -> e.jobId, "t" -> e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    submits += Map("stage" -> e.stageInfo.stageId,
      "t" -> e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    val m = s.taskMetrics
    val base = Map[String, Any]("stage" -> s.stageId,
      "t" -> s.submissionTime.getOrElse(0L), "tasks" -> s.numTasks)
    stages += (if (m == null) base else base ++ Map(
      "run_ms" -> m.executorRunTime,
      "cpu_ns" -> m.executorCpuTime,
      "gc_ms" -> m.jvmGCTime,
      "in_b" -> m.inputMetrics.bytesRead,
      "out_b" -> m.outputMetrics.bytesWritten,
      "sr_b" -> (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead),
      "sw_b" -> m.shuffleWriteMetrics.bytesWritten,
      "spill_b" -> (m.memoryBytesSpilled + m.diskBytesSpilled)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null && !e.taskInfo.successful) synchronized {
      failedTasks += Map("t" -> e.taskInfo.launchTime)
    }

  private def plan(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases.values
    if (ph.nonEmpty) synchronized {
      plans += Map("t" -> ph.map(_.startTimeMs).min,
        "ms" -> ph.map(p => p.endTimeMs - p.startTimeMs).sum)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plan(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    plan(qe)

  def toMap: Map[String, Any] = synchronized {
    Map("jobs" -> jobs.toList, "job_ends" -> jobEnds.toList, "stages" -> stages.toList,
      "stage_submits" -> submits.toList, "failed_tasks" -> failedTasks.toList,
      "plans" -> plans.toList)
  }
}
