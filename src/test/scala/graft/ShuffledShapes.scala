package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Join strategy follows `spark.sql.autoBroadcastJoinThreshold` against
  * measured barrier sizes; at -1 nothing broadcasts unless it is hinted
  * unconditionally. Specs run an operator both ways and compare. */
object ShuffledShapes {
  /** (`run` at the session's threshold, `run` with the threshold at -1). */
  def defaultAndShuffled[A](spark: SparkSession)(run: => A): (A, A) = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val default = run
    spark.conf.set(key, "-1")
    try (default, run) finally spark.conf.unset(key)
  }

  /** Every row as a string, sorted: an order-free exact comparison. */
  def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** Every node of `df`'s physical plan, children first, through AQE's
    * wrapper (its current plan; the initial one before execution) and
    * into its query stages (after execution). A cached relation's build
    * plan is not a child, so the nodes stop at an InMemoryTableScan. */
  def physicalNodes(df: DataFrame): Seq[SparkPlan] = planNodes(df.queryExecution.executedPlan)

  /** Every node of physical plan `p`, as [[physicalNodes]]. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => planNodes(s.plan)
    case other => other.children.flatMap(planNodes) :+ other
  }
}
