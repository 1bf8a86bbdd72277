package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftShims, SparkSession}

/** Exact job counts of a block: a listener counts the jobs started under
  * one job group, and the listener bus is drained before and after, so
  * no event of the block is missed or counted twice. */
object JobCounts {
  private val Group = "job-counts"

  /** `body`'s result and the number of jobs it ran. */
  def of[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == Group))
          jobs.incrementAndGet()
    }
    GraftShims.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(Group, "job count")
      val out = try body finally sc.clearJobGroup()
      GraftShims.drainListenerBus(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
