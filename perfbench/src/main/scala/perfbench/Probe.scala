package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Task-level totals of the jobs of one job group. */
final class Counters {
  var jobs, stages, tasks = 0L
  var jobMs, taskWallMs, runMs, gcMs, fetchWaitMs = 0L
  var cpuNs = 0L
  var writeBytes, writeRecords, readBytes, spillBytes = 0L
  var inputRows, inputBytes, resultBytes = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    jobMs += o.jobMs; taskWallMs += o.taskWallMs; runMs += o.runMs
    gcMs += o.gcMs; fetchWaitMs += o.fetchWaitMs; cpuNs += o.cpuNs
    writeBytes += o.writeBytes; writeRecords += o.writeRecords
    readBytes += o.readBytes; spillBytes += o.spillBytes
    inputRows += o.inputRows; inputBytes += o.inputBytes
    resultBytes += o.resultBytes
  }
}

/** Planning phases and final-plan shape of one executed query. */
final case class QueryEvent(analysisMs: Long, optimizationMs: Long,
    planningMs: Long, exchanges: Int, smj: Int, bhj: Int, codegenFallback: Int)

/** A SparkListener plus QueryExecutionListener, registered once per
  * session. Task metrics are summed per job group, which the benchmark loop
  * sets per request phase; query events are buffered in arrival order and
  * taken by the loop after it has drained the listener bus. Plan
  * inspection runs only while `detailed` is set (the traced passes). */
final class Probe extends SparkListener with QueryExecutionListener {
  @volatile var detailed = false
  private val groups = mutable.Map.empty[String, Counters]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobs = mutable.Map.empty[Int, (String, Long, Seq[Int])]
  private val queryEvents = mutable.ArrayBuffer.empty[QueryEvent]

  private def counters(g: String): Counters = groups.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    counters(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
    jobs(e.jobId) = (g, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { case (g, t0, stages) =>
      counters(g).jobMs += e.time - t0
      stages.foreach(stageGroup.remove)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(counters(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageGroup.getOrElse(e.stageId, ""))
    c.tasks += 1
    c.taskWallMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.resultBytes += m.resultSize
      c.writeBytes += m.shuffleWriteMetrics.bytesWritten
      c.writeRecords += m.shuffleWriteMetrics.recordsWritten
      c.readBytes += m.shuffleReadMetrics.totalBytesRead
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputRows += m.inputMetrics.recordsRead
      c.inputBytes += m.inputMetrics.bytesRead
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (detailed) {
      val phases = qe.tracker.phases
      def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
      val nodes = Probe.nodes(qe.executedPlan)
      val ev = QueryEvent(ms(QueryPlanningTracker.ANALYSIS),
        ms(QueryPlanningTracker.OPTIMIZATION), ms(QueryPlanningTracker.PLANNING),
        nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
        nodes.count(_.isInstanceOf[SortMergeJoinExec]),
        nodes.count(_.isInstanceOf[BroadcastHashJoinExec]),
        nodes.count(_.expressions.exists(_.exists(_.isInstanceOf[CodegenFallback]))))
      synchronized { queryEvents += ev }
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Remove and return the totals of every job group seen since the last take. */
  def take(): Map[String, Counters] = synchronized {
    val out = groups.toMap; groups.clear(); out
  }

  def takeQueries(): Seq[QueryEvent] = synchronized {
    val out = queryEvents.toList; queryEvents.clear(); out
  }
}

object Probe {
  /** Every node of a final physical plan, descending into adaptive plans,
    * query stages and subqueries; a reused exchange counts once. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case r: ReusedExchangeExec => Seq(r)
    case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }
}
