package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: [[local]] builds the session every [[Cli]]
  * mode runs and the test suites share, so what is explained, profiled,
  * soaked, verified and benched runs one configuration. Applications
  * embedding graft apply [[defaults]] to their own builder and install
  * [[GraftExtensions]]. */
object GraftSession {
  /** Session confs the library depends on for performance.
    *
    * `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true`:
    * let AQE size CACHED plans' partitions from bytes (guide §2.2 —
    * coalesce small partitions adaptively). Off, a persisted relation
    * materializes at the static shuffle.partitions count, so every pass
    * of an iterative op (GD gradient rounds, k-means steps) pays a full
    * wave of near-empty tasks at local scale; on, partition count
    * follows data size at ANY scale — at 100 TB the advisory size keeps
    * partitions big-but-bounded, locally tiny caches coalesce to a few
    * tasks. Scale-adaptive, not a local[32] tune.
    */
  val confs: Seq[(String, String)] = Seq(
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true"
  )

  /** Apply graft's session defaults to a builder. */
  def defaults(b: SparkSession.Builder): SparkSession.Builder =
    confs.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }

  /** Cores for [[local]]: `SPARK_GRAFT_CPUS`, else every available core. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Every conf [[local]] sets: one shuffle partition per core, UTC, no
    * UI, and [[confs]]. */
  def localConfs(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false"
  ) ++ confs

  /** The graft session on `local[cpus]`: [[localConfs]], the
    * [[GraftExtensions]] rules and log level WARN. Returns the active
    * session if one exists (`getOrCreate`). */
  def local(cpus: Int): SparkSession = {
    require(cpus >= 1, s"cpus must be >= 1, got $cpus")
    val b = localConfs(cpus).foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
      case (bb, (k, v)) => bb.config(k, v)
    }
    val s = b.withExtensions(new GraftExtensions).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
