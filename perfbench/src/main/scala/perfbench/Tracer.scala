package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Span at a layer boundary: times are epoch milliseconds. */
final case class Span(id: String, parent: String, kind: String, name: String,
    call: Int, start: Double, end: Double)

/** Per-call counters the traced run collects from Spark's listener events
  * and from the executed plans of every query a call runs. */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskDurationMs, taskRunMs, taskCpuNs = 0L
  var shuffleWrite, shuffleRead, spill, inputBytes, outputBytes = 0L
  var scanFiles, scanBytes, writeFiles = 0L
}

/** Listener that records jobs, stages and task metrics, attributing each
  * job to the call whose job group it carries (events with no group go to
  * the current call). Only active while `callId` >= 0. */
final class Tracer extends SparkListener with QueryExecutionListener {
  @volatile var callId: Int = -1
  val spans = mutable.ArrayBuffer.empty[Span]
  val counters = mutable.Map.empty[Int, Counters]
  /** stage id -> (call, first job that ran it) */
  private val stageOwner = mutable.Map.empty[Int, (Int, Int)]
  private val jobStart = mutable.Map.empty[Int, (Int, Double)]

  private def ctr(call: Int) = counters.getOrElseUpdate(call, new Counters)

  private def callOf(group: String): Int =
    Option(group).filter(_.startsWith(Harness.GroupPrefix))
      .map(_.stripPrefix(Harness.GroupPrefix).toInt).getOrElse(callId)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (callId >= 0) {
      val call = callOf(e.properties.getProperty("spark.jobGroup.id"))
      jobStart(e.jobId) = (call, e.time.toDouble)
      e.stageIds.foreach(s => if (!stageOwner.contains(s)) stageOwner(s) = (call, e.jobId))
      ctr(call).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (call, t0) =>
      spans += Span(s"job${e.jobId}", s"call$call", "job", s"job${e.jobId}",
        call, t0, e.time.toDouble)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    for ((call, job) <- stageOwner.get(info.stageId); t0 <- info.submissionTime;
         t1 <- info.completionTime) {
      ctr(call).stages += 1
      spans += Span(s"stage${info.stageId}.${info.attemptNumber()}", s"job$job",
        "stage", info.name, call, t0.toDouble, t1.toDouble)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for ((call, _) <- stageOwner.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = ctr(call)
      c.tasks += 1
      c.taskDurationMs += e.taskInfo.duration
      c.taskRunMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      if (callId >= 0) {
        val c = ctr(callId)
        Tracer.nodes(qe.executedPlan).foreach { n =>
          def metric(k: String) = n.metrics.get(k).map(_.value).getOrElse(0L)
          if (n.metrics.contains("numOutputBytes")) c.writeFiles += metric("numFiles")
          else if (n.metrics.contains("filesSize")) {
            c.scanFiles += metric("numFiles")
            c.scanBytes += metric("filesSize")
          }
        }
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

object Tracer {
  /** Every physical node of a plan: adaptive plans are read through their
    * current plan and query stages through their child, and subqueries
    * are included. A reused exchange is not descended into, so its scan
    * is counted once. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case _: ReusedExchangeExec => Seq(p)
    case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }
}
