package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Checkpoints

/** [[Checkpoints.materialize]]: one eager barrier whose statistics are
  * the exact rows and UnsafeRow bytes it materialized. */
class CheckpointsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get

  /** (id long, s string) rows: an UnsafeRow is an 8-byte null bitset,
    * two 8-byte slots and the string's UTF-8 bytes rounded up to 8. */
  private val strings = (0 until 300).map(i => "v" * (i % 37) + i)
  private def relation: DataFrame = {
    import spark.implicits._
    strings.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "s")
      .repartition(3)
  }
  private val expectedBytes = strings.map { s =>
    24L + (s.getBytes("UTF-8").length + 7) / 8 * 8
  }.sum

  private def checkMeasured(m: DataFrame): Unit = {
    assert(Checkpoints.rowCount(m) == strings.size)
    assert(Checkpoints.measured(m).sizeInBytes == expectedBytes)
    assert(m.queryExecution.optimizedPlan.stats.sizeInBytes == expectedBytes)
    assert(m.collect().map(r => r.getString(1)).sorted.toSeq == strings.sorted)
  }

  test("materialize: exact rows and UnsafeRow bytes, local mode") {
    checkMeasured(Checkpoints.materialize(relation))
  }

  test("materialize: exact rows and UnsafeRow bytes, reliable mode") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set(Checkpoints.DirConf, dir)
    try {
      checkMeasured(Checkpoints.materialize(relation))
      val ckDir = new java.io.File(
        new java.net.URI(spark.sparkContext.getCheckpointDir.get))
      assert(ckDir.exists && ckDir.listFiles().nonEmpty,
        "no reliable checkpoint data written")
    } finally spark.conf.unset(Checkpoints.DirConf)
  }

  test("materialize runs the same jobs as an eager localCheckpoint") {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") ==
            "checkpoints-spec")) jobs.incrementAndGet()
    }
    def jobsOf(body: => Unit): Int = {
      GraftShims.drainListenerBus(sc)
      jobs.set(0)
      sc.setJobGroup("checkpoints-spec", "job count")
      try body finally sc.clearJobGroup()
      GraftShims.drainListenerBus(sc)
      jobs.get
    }
    // a shuffle under the barrier, so AQE runs a map stage first
    def plan = spark.range(0, 5000, 1, 4)
      .groupBy((col("id") % 97).as("k")).agg(count(lit(1)).as("n"))
    sc.addSparkListener(listener)
    try {
      val plain = jobsOf(plan.localCheckpoint(eager = true))
      val measured = jobsOf(Checkpoints.materialize(plan))
      assert(plain >= 1)
      assert(measured == plain, s"materialize: $measured jobs, " +
        s"localCheckpoint(eager = true): $plain")
    } finally sc.removeSparkListener(listener)
  }

  private def hasBhj(p: SparkPlan): Boolean =
    p.collectFirst { case j: BroadcastHashJoinExec => j }.isDefined

  /** A relation larger than the threshold by estimate only. */
  private def big: DataFrame = {
    val rows = GraftShims.broadcastThreshold(spark) / 8 + 1000
    spark.range(0, rows, 1, 4).toDF("node")
  }

  test("a node-sized relation joins as a BroadcastHashJoin with no hint") {
    // an equi-join estimates as the product of its sides' sizes, so the
    // pre-barrier estimate of these 3000 nodes is ~576 MB
    val a = spark.range(3000).toDF("x")
    val b = spark.range(3000).toDF("y")
    def nodes = a.join(b, col("x") === col("y")).select(col("x").as("node"))
    val plain = nodes.localCheckpoint(eager = true)
    assert(!hasBhj(big.join(plain, "node").queryExecution.sparkPlan),
      "the estimate-only barrier was expected to plan a shuffled join")
    val m = Checkpoints.materialize(nodes)
    assert(Checkpoints.rowCount(m) == 3000)
    assert(Checkpoints.fitsBroadcast(m))
    val joined = big.join(m, "node")
    assert(hasBhj(joined.queryExecution.sparkPlan))
    assert(joined.count() == 3000)
  }

  test("few rows with long strings past the threshold do not broadcast") {
    // ~100 rows pass any row cap; their bytes do not pass the threshold
    val threshold = GraftShims.broadcastThreshold(spark)
    def docs(len: Long) = spark.range(0, 100, 1, 2)
      .select(col("id").as("node"), repeat(lit("x"), len.toInt).as("shingle"))
    val long = Checkpoints.materialize(docs(threshold / 100 + 1024))
    assert(Checkpoints.rowCount(long) == 100)
    assert(Checkpoints.measured(long).sizeInBytes > threshold)
    assert(!Checkpoints.fitsBroadcast(long))
    assert(!hasBhj(big.join(long, "node").queryExecution.sparkPlan))
    val short = Checkpoints.materialize(docs(16))
    assert(hasBhj(big.join(short, "node").queryExecution.sparkPlan))
  }

  test("fitsBroadcast follows the session threshold; -1 never broadcasts") {
    val m = Checkpoints.materialize(relation)
    assert(Checkpoints.fitsBroadcast(m))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try assert(!Checkpoints.fitsBroadcast(m))
    finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    intercept[IllegalArgumentException](Checkpoints.fitsBroadcast(relation))
  }

  test("released unpersists what its body materialized and nothing else") {
    val sc = spark.sparkContext
    val kept = Checkpoints.materialize(relation)
    val before = sc.getPersistentRDDs.keySet
    val rows = Checkpoints.released(spark) {
      val m = Checkpoints.materialize(relation)
      assert(sc.getPersistentRDDs.keySet != before)
      Checkpoints.rowCount(m)
    }
    assert(rows == strings.size)
    assert(sc.getPersistentRDDs.keySet == before)
    assert(kept.count() == strings.size)
  }
}
