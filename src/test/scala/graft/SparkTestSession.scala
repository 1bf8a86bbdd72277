package graft

import org.apache.spark.sql.SparkSession

/** One shared local session across all suites (forked test JVM): the
  * graft session on 4 cores. */
object SparkTestSession {
  lazy val get: SparkSession = GraftSession.local(4)
}
