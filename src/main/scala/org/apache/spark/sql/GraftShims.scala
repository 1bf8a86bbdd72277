package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}

/** Bridge to Spark SQL internals that are private[sql]: the
  * Expression<->Column converters of `classic.ExpressionUtils` (Spark 4
  * moved Column to a backend-agnostic representation), and a Dataset over
  * a `LogicalRDD` with measured statistics for
  * [[graft.ops.Checkpoints.materialize]], the DataFrame of a logical
  * plan ([[graft.plans.DenseFill]]), and the listener-bus drain.
  */
object GraftShims {
  def toColumn(e: Expression): Column =
    classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** The DataFrame of `plan`, analyzed on `spark`. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `ds.checkpoint(eager = true)` (`reliable`) or
    * `ds.localCheckpoint(eager = true)` — same action name, jobs,
    * partitioning, ordering and constraints — whose `LogicalRDD`
    * statistics are the rows and `UnsafeRow` bytes the checkpoint job
    * produced. The counts ride accumulators in that job's result tasks,
    * which Spark merges once per partition (no double count on retry). */
  def measuredCheckpoint[T](ds: Dataset[T], reliable: Boolean): Dataset[T] = {
    val origin = ds.asInstanceOf[classic.Dataset[T]]
    val session = origin.sparkSession
    val qe = origin.queryExecution
    val rows = session.sparkContext.longAccumulator
    val bytes = session.sparkContext.longAccumulator
    val action = if (reliable) "checkpoint" else "localCheckpoint"
    val rdd = SQLExecution.withNewExecutionId(qe, Some(action)) {
      qe.executedPlan.resetMetrics()
      val r = qe.executedPlan.execute().map { row =>
        rows.add(1L)
        bytes.add(row.asInstanceOf[UnsafeRow].getSizeInBytes.toLong)
        row.copy()
      }
      if (reliable) r.checkpoint() else r.localCheckpoint()
      r.doCheckpoint()
      r
    }
    @scala.annotation.tailrec
    def firstLeaf(p: Partitioning): Partitioning = p match {
      case c: PartitioningCollection => firstLeaf(c.partitionings.head)
      case _ => p
    }
    val (_, constraints) =
      LogicalRDD.rewriteStatsAndConstraints(origin.logicalPlan, qe.optimizedPlan)
    val stats = Statistics(sizeInBytes = BigInt(bytes.value),
      rowCount = Some(BigInt(rows.value)))
    val plan = LogicalRDD(origin.logicalPlan.output, rdd,
      firstLeaf(qe.executedPlan.outputPartitioning),
      qe.executedPlan.outputOrdering, origin.isStreaming)(
      session, Some(stats), constraints)
    new classic.Dataset[T](session, plan, origin.encoder)
  }

  /** The session's `spark.sql.autoBroadcastJoinThreshold`, in bytes. */
  def broadcastThreshold(spark: SparkSession): Long =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf
      .autoBroadcastJoinThreshold

  /** Waits until every listener event posted so far has been delivered,
    * so a listener's counts are complete when they are read. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
