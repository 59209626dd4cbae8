package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{LeafExecNode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** Posted on the listener bus when operation `op` enters `phase`
  * ("build", "action" or "idle"). */
final case class PhaseMark(op: String, phase: String) extends SparkListenerEvent

/** Listener half of the trace: Spark jobs, stages, tasks and query
  * executions. Every callback runs on the bus's shared queue, the same
  * queue that carries the [[PhaseMark]]s, so each job and each query
  * execution is charged to the operation phase that was current when it
  * started. Read the collections only after draining the bus. */
final class Tracer extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  import Tracer._

  private var current = PhaseMark("", "idle")
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[Int, Stage]
  val execs = mutable.ArrayBuffer.empty[Exec]

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case m: PhaseMark => synchronized { current = m }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.jobId, current.op, current.phase, e.time)
    e.stageIds.foreach(s => if (!stages.contains(s)) stages(s) = new Stage(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { s =>
      s.submitMs = e.stageInfo.submissionTime.getOrElse(-1L)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { s =>
      s.endMs = e.stageInfo.completionTime.getOrElse(-1L)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { s =>
      s.tasks += 1
      s.firstLaunchMs = math.min(s.firstLaunchMs, e.taskInfo.launchTime)
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.diskBytesSpilled
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRows += m.inputMetrics.recordsRead
        s.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe, failed = false)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe, failed = true)

  private def record(funcName: String, qe: QueryExecution, failed: Boolean): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) }
    val (scans, exchanges) =
      try shape(qe.executedPlan) catch { case _: Throwable => (0, 0) }
    synchronized {
      execs += Exec(current.op, current.phase, funcName, phases, scans, exchanges, failed)
    }
  }

  /** (scans, exchanges) in an executed plan, through adaptive query
    * stages and subqueries. A reused exchange is not counted again. */
  private def shape(plan: SparkPlan): (Int, Int) = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    (nodes.count {
      case leaf: LeafExecNode => leaf.nodeName.contains("Scan")
      case _ => false
    }, nodes.count(_.isInstanceOf[Exchange]))
  }
}

object Tracer {
  final case class Job(id: Int, op: String, phase: String, startMs: Long) {
    var endMs: Long = -1L
  }

  final class Stage(val id: Int, val job: Int) {
    var submitMs = -1L
    var endMs = -1L
    var firstLaunchMs = Long.MaxValue
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var inputBytes = 0L
    var inputRows = 0L
    var outputBytes = 0L
    def submitted: Boolean = submitMs >= 0
  }

  final case class Exec(op: String, phase: String, func: String,
      phases: Map[String, (Long, Long)], scans: Int, exchanges: Int, failed: Boolean) {
    def phaseSeconds(name: String): Double =
      phases.get(name).map { case (s, e) => (e - s) / 1e3 }.getOrElse(0.0)
  }
}
