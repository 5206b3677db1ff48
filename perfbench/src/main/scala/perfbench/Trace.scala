package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.execution.window.WindowExecBase
import org.apache.spark.sql.util.QueryExecutionListener

/** Operator counts of one executed plan, AQE-final stages included. */
final case class PlanCounts(exchanges: Int, reused: Int, joins: Int,
                            broadcastJoins: Int, sorts: Int, windows: Int,
                            aggregates: Int) {
  def +(o: PlanCounts): PlanCounts = PlanCounts(exchanges + o.exchanges,
    reused + o.reused, joins + o.joins, broadcastJoins + o.broadcastJoins,
    sorts + o.sorts, windows + o.windows, aggregates + o.aggregates)
}

object PlanCounts {
  val zero: PlanCounts = PlanCounts(0, 0, 0, 0, 0, 0, 0)

  private object Walk extends AdaptiveSparkPlanHelper

  def of(plan: SparkPlan): PlanCounts = {
    val nodes = Walk.collectWithSubqueries(plan) { case p => p }
    def n(f: SparkPlan => Boolean): Int = nodes.count(f)
    PlanCounts(
      exchanges = n(p => p.isInstanceOf[ShuffleExchangeLike] || p.isInstanceOf[BroadcastExchangeLike]),
      reused = n(_.isInstanceOf[ReusedExchangeExec]),
      joins = n(_.isInstanceOf[BaseJoinExec]),
      broadcastJoins = n(p => p.isInstanceOf[BroadcastHashJoinExec] ||
        p.isInstanceOf[BroadcastNestedLoopJoinExec]),
      sorts = n(_.isInstanceOf[SortExec]),
      windows = n(_.isInstanceOf[WindowExecBase]),
      aggregates = n(_.isInstanceOf[BaseAggregateExec]))
  }
}

/** One finished query execution as the listener saw it: its planning
  * phases (epoch ms), the graft.plans rule statistics from its tracker,
  * and the operator counts of its executed plan. */
final case class QeEvent(phases: Map[String, (Long, Long)], graftRuleNs: Long,
                         graftRuleRuns: Long, graftRuleEffective: Long,
                         counts: PlanCounts) {
  def endMs: Long = if (phases.isEmpty) 0L else phases.values.map(_._2).max
}

final case class StageEvent(stageId: Int, attempt: Int, name: String,
                            submitMs: Long, endMs: Long, tasks: Int)

final case class TaskEvent(stageId: Int, attempt: Int, launchMs: Long,
                           finishMs: Long, runMs: Long, cpuNs: Long,
                           gcMs: Long, inBytes: Long, inRecords: Long,
                           shWriteBytes: Long, shWriteRecords: Long,
                           shReadBytes: Long, fetchWaitMs: Long,
                           spillMem: Long, spillDisk: Long, peakMem: Long,
                           outBytes: Long)

/** Tracing collector built only from Spark's public observation APIs:
  * a SparkListener for jobs, stages and tasks, and a
  * QueryExecutionListener for every finished query execution (its
  * planning tracker and final executed plan). Events stay in memory;
  * the benchmark attributes them to statements by time afterwards,
  * which is exact because one client issues statements one at a time. */
final class Collector extends SparkListener with QueryExecutionListener {
  val jobStarts = new ConcurrentLinkedQueue[Long]()
  private val jobsEnded = new AtomicInteger()
  val stages = new ConcurrentLinkedQueue[StageEvent]()
  val tasks = new ConcurrentLinkedQueue[TaskEvent]()
  val qes = new ConcurrentLinkedQueue[QeEvent]()
  @volatile private var lastEventNs = System.nanoTime()

  private def touch(): Unit = lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobStarts.add(e.time); touch()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobsEnded.incrementAndGet(); touch()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      stages.add(StageEvent(i.stageId, i.attemptNumber(), i.name, s, c, i.numTasks))
    touch()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val ti = e.taskInfo
    if (m != null && ti != null) tasks.add(TaskEvent(e.stageId, e.stageAttemptId,
      ti.launchTime, ti.finishTime, m.executorRunTime, m.executorCpuTime,
      m.jvmGCTime, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
      m.memoryBytesSpilled, m.diskBytesSpilled, m.peakExecutionMemory,
      m.outputMetrics.bytesWritten))
    touch()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    qes.add(Collector.event(qe, Some(qe.executedPlan))); touch()
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = {
    qes.add(Collector.event(qe, None)); touch()
  }

  /** Wait until every started job has ended and no event arrived for a
    * short quiet period, so events of the last statement are in. */
  def drain(maxMs: Long = 5000): Unit = {
    val t0 = System.nanoTime()
    def quietMs = (System.nanoTime() - lastEventNs) / 1e6
    while ((jobsEnded.get() < jobStarts.size || quietMs < 100) &&
           (System.nanoTime() - t0) / 1e6 < maxMs) Thread.sleep(10)
  }

  def qeList: Seq[QeEvent] = qes.asScala.toSeq
  def stageList: Seq[StageEvent] = stages.asScala.toSeq
  def taskList: Seq[TaskEvent] = tasks.asScala.toSeq
  def jobList: Seq[Long] = jobStarts.asScala.toSeq
}

object Collector {
  def phasesOf(qe: QueryExecution): Map[String, (Long, Long)] =
    qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }

  def event(qe: QueryExecution, plan: Option[SparkPlan]): QeEvent = {
    val graft = qe.tracker.rules.filter(_._1.startsWith("graft.plans.")).values
    QeEvent(phasesOf(qe), graft.map(_.totalTimeNs).sum,
      graft.map(_.numInvocations.toLong).sum,
      graft.map(_.numEffectiveInvocations.toLong).sum,
      plan.map(PlanCounts.of).getOrElse(PlanCounts.zero))
  }
}
