package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.sql.{Dataset, GraftShims, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.LogicalRDD

/** Lineage barriers for iterative DataFrame algorithms (PageRank rounds,
  * connected-components star steps, BPE merge rounds, BFS frontiers):
  * without a barrier every round re-plans the whole history and the
  * lineage tree grows exponentially.
  *
  * Two modes, selected by the `spark.graft.checkpointDir` session conf:
  *
  *  - UNSET (default, right for local mode): `localCheckpoint` — blocks
  *    live on executors, zero filesystem traffic. The trade: local
  *    checkpoint TRUNCATES lineage, so on a real cluster losing one
  *    executor mid-iteration makes the job unrecoverable (the blocks are
  *    neither replicated nor recomputable). Fine single-JVM; an
  *    availability bug at 100-node × multi-hour scale.
  *  - SET to a reliable directory (HDFS/object store): `checkpoint()` —
  *    rounds persist to the shared filesystem and survive any executor
  *    loss; the extra per-round write is the standard price of
  *    fault-tolerant iteration. The FIRST barrier installs the directory
  *    on the SparkContext (SparkContext keeps one checkpoint dir; set
  *    the conf before the first iterative op).
  *
  * Both modes return a Dataset with identical ROWS — mode changes only
  * where the barrier materializes (asserted by GraphTextSpec's
  * both-modes test). `eager = false` keeps the lazy-chain property the
  * walk/BFS loops rely on (branching factor 1 ⇒ one job at the end).
  *
  * Measured statistics: a plain barrier keeps the PRE-barrier size
  * estimate, often off by 10× after explodes and joins. [[materialize]]
  * is the eager barrier (either mode, same jobs) whose statistics are
  * the exact rows and `UnsafeRow` bytes its job produced, so the
  * session's `spark.sql.autoBroadcastJoinThreshold` and AQE choose each
  * join against it from measured bytes. A relation the planner cannot
  * size (a lazy barrier, a join output) is hinted through
  * [[fitsBroadcast]] from a measured bound, against the same threshold.
  */
object Checkpoints {
  val DirConf = "spark.graft.checkpointDir"

  /** True when barriers checkpoint reliably (the conf is set); installs
    * the directory on the SparkContext the first time. */
  private def reliable(spark: SparkSession): Boolean =
    spark.conf.getOption(DirConf) match {
      case Some(dir) if dir.nonEmpty =>
        val sc = spark.sparkContext
        // SparkContext appends a UUID subdir, so compare the parent;
        // first directory wins for the context's lifetime
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        true
      case _ => false
    }

  /** Eager, measured barrier: materializes `ds` once (in the checkpoint
    * mode the session selects) and returns it over a `LogicalRDD` whose
    * statistics are its exact row count and `UnsafeRow` byte total. */
  def materialize[T](ds: Dataset[T]): Dataset[T] =
    GraftShims.measuredCheckpoint(ds, reliable(ds.sparkSession))

  /** The statistics [[materialize]] measured for `ds`. */
  def measured(ds: Dataset[_]): Statistics = ds.queryExecution.analyzed match {
    case r: LogicalRDD if r.stats.rowCount.isDefined => r.stats
    case p => throw new IllegalArgumentException(
      s"not a materialized Dataset (Checkpoints.materialize): ${p.nodeName}")
  }

  /** Exact row count of a [[materialize]]d Dataset — no job. */
  def rowCount(ds: Dataset[_]): Long = measured(ds).rowCount.get.toLong

  /** The one broadcast predicate for relations the planner cannot size
    * itself: `bound` is a [[materialize]]d relation at least as large as
    * the relation to hint (the node set bounds per-round scores, the
    * initial frontier bounds every later hop), compared with the
    * session's own `spark.sql.autoBroadcastJoinThreshold` (-1: never). */
  def fitsBroadcast(bound: Dataset[_]): Boolean = {
    val threshold = GraftShims.broadcastThreshold(bound.sparkSession)
    threshold >= 0 && measured(bound).sizeInBytes <= threshold
  }

  /** Runs `body`, then unpersists (blocking) every RDD it persisted or
    * checkpointed locally, and deletes the reliable checkpoint
    * directories (`rdd-<id>` under the context's checkpoint directory)
    * it wrote: a query's materializations end with the query, so their
    * blocks and files do not pressure the queries after it. */
  def released[A](spark: SparkSession)(body: => A): A = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val filesBefore = checkpointFiles(sc).toSet
    try body
    finally {
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!before.contains(id)) rdd.unpersist(blocking = true)
      }
      checkpointFiles(sc).filterNot(filesBefore).foreach { p =>
        p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
      }
    }
  }

  /** The reliable checkpoint directories of this context's RDDs; none
    * while no checkpoint directory is installed. */
  private def checkpointFiles(sc: SparkContext): Seq[Path] =
    sc.getCheckpointDir.toSeq.flatMap { dir =>
      val root = new Path(dir)
      val fs = root.getFileSystem(sc.hadoopConfiguration)
      if (!fs.exists(root)) Nil
      else fs.listStatus(root).map(_.getPath).filter(_.getName.startsWith("rdd-")).toSeq
    }

  implicit class BarrierOps[T](private val ds: Dataset[T]) extends AnyVal {
    def lineageBarrier(eager: Boolean = true): Dataset[T] =
      if (reliable(ds.sparkSession)) ds.checkpoint(eager)
      else ds.localCheckpoint(eager)

    /** [[Checkpoints.materialize]] in chaining position. */
    def materialize(): Dataset[T] = Checkpoints.materialize(ds)
  }
}
