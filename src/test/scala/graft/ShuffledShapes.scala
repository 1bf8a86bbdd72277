package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

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
}
