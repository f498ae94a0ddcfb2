package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.ExecutionEnd

/** One timed interval: a layer boundary the benchmark crossed.
  * `parent` is the id of the span that caused it (0 for a root). */
final case class Span(id: Long, parent: Long, name: String, label: String,
                      startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** Wall clock in epoch microseconds with nanoTime resolution, aligned with
  * the epoch-millisecond timestamps Spark puts on listener events. */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** What the listeners saw, for the traced run only. Every Spark job is
  * tied to the benchmark operation that caused it through the job group
  * the benchmark sets before each call (`op-<id>`); stages and tasks reach
  * the operation through their job, SQL executions through the execution
  * id their jobs carry. Catalyst phases are placed by time, which is
  * unambiguous with one client thread. */
object Recorder {
  final class JobRec(val id: Int, val op: Int, val startMs: Long,
                     val sqlExec: Long) { var endMs: Long = -1 }
  final class StageRec(val id: Int, val job: Int, val numTasks: Int) {
    var submitMs = -1L; var doneMs = -1L
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleW = 0L; var shuffleR = 0L; var spill = 0L; var peakMem = 0L
    var inBytes = 0L; var scanTasks = 0L; var outBytes = 0L
  }
  final case class ExecRec(id: Long, kernel: Boolean,
                           phases: Seq[(String, Long, Long)])
}

final class Recorder extends SparkListener {
  import Recorder._

  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  val execs = mutable.ArrayBuffer.empty[ExecRec]

  private def opOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("op-")).map(_.drop(3).toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = opOf(e.properties)
    if (op >= 0) {
      val exec = Option(e.properties.getProperty("spark.sql.execution.id"))
        .map(_.toLong).getOrElse(-1L)
      jobs(e.jobId) = new JobRec(e.jobId, op, e.time, exec)
      e.stageInfos.foreach(si =>
        if (!stages.contains(si.stageId))
          stages(si.stageId) = new StageRec(si.stageId, e.jobId, si.numTasks))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stages.get(e.stageInfo.stageId).foreach(s =>
        s.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stages.get(e.stageInfo.stageId).foreach { s =>
        if (s.submitMs < 0) s.submitMs = e.stageInfo.submissionTime.getOrElse(-1L)
        s.doneMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (s <- stages.get(e.stageId); m <- Option(e.taskMetrics)) {
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleW += m.shuffleWriteMetrics.bytesWritten
      s.shuffleR += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
      s.inBytes += m.inputMetrics.bytesRead
      if (m.inputMetrics.bytesRead > 0) s.scanTasks += 1
      s.outBytes += m.outputMetrics.bytesWritten
    }
  }

  /** The end of a SQL execution carries its query execution (what a
    * `QueryExecutionListener` receives) and the execution id its jobs
    * carry: the planning phases and whether the plan holds a native
    * kernel. Files written are counted from the write commands' driver
    * metric ("number of written files"), which also covers writes nested
    * inside other executions. */
  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionEnd =>
      ExecutionEnd.queryExecution(e).foreach(qe => scala.util.Try {
        val phases = qe.tracker.phases.toSeq.map { case (n, p) =>
          (n, p.startTimeMs, p.endTimeMs) }
        val kernel = qe.optimizedPlan.exists(_.expressions.exists(_.exists(isKernel)))
        synchronized { execs += ExecRec(e.executionId, kernel, phases) }
      })
    case e: SparkListenerSQLExecutionStart => noteFileMetrics(e.sparkPlanInfo)
    case e: SparkListenerSQLAdaptiveExecutionUpdate => noteFileMetrics(e.sparkPlanInfo)
    case e: SparkListenerDriverAccumUpdates => synchronized {
      e.accumUpdates.foreach { case (acc, v) =>
        if (fileMetrics(acc))
          filesWritten(e.executionId) = filesWritten.getOrElse(e.executionId, 0L) + v
      }
    }
    case _ =>
  }

  private val fileMetrics = mutable.Set.empty[Long]
  /** Files written per SQL execution id. */
  val filesWritten = mutable.Map.empty[Long, Long]

  private def noteFileMetrics(p: SparkPlanInfo): Unit = synchronized {
    def walk(n: SparkPlanInfo): Unit = {
      n.metrics.filter(_.name == "number of written files")
        .foreach(m => fileMetrics += m.accumulatorId)
      n.children.foreach(walk)
    }
    walk(p)
  }

  /** A native kernel: an expression class of `graft.functions`, or a
    * static call into one. */
  private def isKernel(e: Expression): Boolean = e match {
    case s: StaticInvoke => s.staticObject.getName.startsWith("graft.functions.")
    case other => other.getClass.getName.startsWith("graft.functions.")
  }
}
