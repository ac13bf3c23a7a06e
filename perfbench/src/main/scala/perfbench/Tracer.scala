package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Task metrics summed over a scope (a pass, or one step of a traced pass). */
final class TaskTotals {
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var shuffleBytes = 0L
  var peakMem = 0L

  def add(tm: org.apache.spark.executor.TaskMetrics): Unit = synchronized {
    tasks += 1
    cpuNs += tm.executorCpuTime
    runMs += tm.executorRunTime
    shuffleBytes += tm.shuffleReadMetrics.totalBytesRead + tm.shuffleWriteMetrics.bytesWritten
    peakMem = math.max(peakMem, tm.peakExecutionMemory)
  }

  def snapshot: TaskTotals = synchronized {
    val t = new TaskTotals
    t.tasks = tasks; t.cpuNs = cpuNs; t.runMs = runMs
    t.shuffleBytes = shuffleBytes; t.peakMem = peakMem
    t
  }
}

final case class JobSpan(jobId: Int, step: String, startMs: Long, var endMs: Long,
    stageIds: Seq[Int])
final case class StageSpan(stageId: Int, attempt: Int, name: String, startMs: Long,
    endMs: Long, tasks: Int)

/** The benchmark's own listener. Task metrics always fold into the current
  * pass's totals (the end-to-end cpu/shuffle/memory figures). Only while
  * `traced` is set does it also map jobs and stages to the step that ran
  * them (through the `perfbench.step` local property, which Spark copies to
  * every job the step's thread submits) and keep their spans.
  */
final class BenchListener extends SparkListener with QueryExecutionListener {
  @volatile var traced = false
  @volatile private var pass = new TaskTotals
  private val stageStep = new ConcurrentHashMap[Int, String]()
  val stepTotals = new ConcurrentHashMap[String, TaskTotals]()
  val jobs = new ConcurrentHashMap[Int, JobSpan]()
  val stages = new ConcurrentLinkedQueue[StageSpan]()
  @volatile var planningMs = 0L

  /** Start a new pass scope; returns the totals it will fill. */
  def newPass(): TaskTotals = { pass = new TaskTotals; pass }

  def clearSpans(): Unit = {
    stageStep.clear(); stepTotals.clear(); jobs.clear(); stages.clear(); planningMs = 0L
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = if (traced) {
    val step = Option(js.properties).flatMap(p => Option(p.getProperty(BenchListener.StepKey)))
      .getOrElse("")
    jobs.put(js.jobId, JobSpan(js.jobId, step, js.time, -1L, js.stageIds))
    if (step.nonEmpty) js.stageIds.foreach(stageStep.put(_, step))
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = if (traced) {
    val j = jobs.get(je.jobId)
    if (j != null) j.endMs = je.time
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = if (traced) {
    val i = sc.stageInfo
    stages.add(StageSpan(i.stageId, i.attemptNumber(), i.name,
      i.submissionTime.getOrElse(-1L), i.completionTime.getOrElse(-1L), i.numTasks))
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val tm = te.taskMetrics
    if (tm != null) {
      pass.add(tm)
      if (traced) {
        val step = stageStep.get(te.stageId)
        if (step != null) {
          var t = stepTotals.get(step)
          if (t == null) { stepTotals.putIfAbsent(step, new TaskTotals); t = stepTotals.get(step) }
          t.add(tm)
        }
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (traced) {
      val ph = qe.tracker.phases
      planningMs += Seq("optimization", "planning").flatMap(ph.get)
        .map(p => p.endTimeMs - p.startTimeMs).sum
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object BenchListener {
  val StepKey = "perfbench.step"
}
