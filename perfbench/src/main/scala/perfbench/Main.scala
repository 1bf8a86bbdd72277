package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.io.Source
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.BenchShim
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.{GraftExtensions, GraftSession}

/** Everything measured for one request. */
final case class Done(req: Req, pass: Int, traced: Boolean, startMs: Long, seconds: Double,
    phases: Map[String, Double], counters: Counters, buildJobs: Long,
    queries: Seq[QueryEvent], compiles: Long, compileNs: Long, checkpointBytes: Long,
    outcome: Either[String, Outcome]) {
  def rows: Long = if (req.rows > 0) req.rows else counters.inputRows
}

final case class Pass(index: Int, traced: Boolean, wall: Double, done: Seq[Done],
    gcMs: Long, heapPeakBytes: Long)

/** The benchmark's JVM side. Usage:
  * {{{
  * perfbench.Main --workload NAME --seed N --seconds S --trace 0|1
  *   --cpus C --data DIR --out DIR [--tiny]
  * }}}
  * Sets a session up (timed from JVM start), runs a cold first pass over
  * the workload's warm-up request list, then warm passes over its fixed
  * request list until they hold `--seconds` of timed work, checks every
  * pass untimed, and writes `result.json` (and, traced, `spans.jsonl`)
  * under `--out`. After the cold pass, the passes of a traced run
  * alternate untraced and traced, starting and ending untraced: the first
  * warm pass absorbs what warm-up is left, and each traced pass is
  * compared with the untraced pass after it for the tracing overhead.
  * A cold-only workload measures its cold pass: an untraced run stops
  * after it, and a traced run traces the first warm pass. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cpus: Int, data: String, out: String, tiny: Boolean)

  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def need(k: String): String = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", need("--cpus").toInt, need("--data"), need("--out"),
      argv.contains("--tiny"))
  }

  def newSession(a: Args): SparkSession = {
    val s = GraftSession.defaults(SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(a.out, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(a.out, "warehouse").getAbsolutePath))
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // the first job of a session pays scheduler and codegen start-up
    s.range(1000000L).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    s
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    new File(a.out).mkdirs()
    val spark = newSession(a)
    val setup = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val sc = spark.sparkContext
    val probe = new Probe
    sc.addSparkListener(probe)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager.register(probe)
    val w = Workloads(a.workload, spark, a.seed, a.tiny, a.data,
      new File(a.out, "results").getAbsolutePath)

    def runRequest(req: Req, pass: Int, traced: Boolean, i: Int): Done = {
      BenchShim.drainListenerBus(sc)
      probe.take(); probe.takeQueries()
      val before = sc.getPersistentRDDs.keySet
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val n0 = CodeGenerator.compileTime
      val phases = new Phases(spark, s"p$pass-r$i")
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val outcome =
        try Right(req.body(phases))
        catch { case NonFatal(e) => Left(e.toString) }
      val secs = (System.nanoTime() - t0) / 1e9
      sc.clearJobGroup()
      BenchShim.drainListenerBus(sc)
      val groups = probe.take()
      val total = new Counters
      groups.values.foreach(total += _)
      val buildJobs = groups.collect { case (g, c) if g.endsWith("/build") => c.jobs }.sum
      // release what the request persisted or checkpointed, so staging
      // blocks do not carry over into later requests
      val fresh = sc.getPersistentRDDs.filter { case (id, _) => !before.contains(id) }
      val held = sc.getRDDStorageInfo.filter(r => fresh.contains(r.id))
        .map(r => r.memSize + r.diskSize).sum
      fresh.values.foreach(_.unpersist(blocking = true))
      Done(req, pass, traced, startMs, secs, phases.seconds.toMap, total, buildJobs,
        probe.takeQueries(), CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0,
        CodeGenerator.compileTime - n0, held, outcome)
    }

    val allRequests = w.requests.map(_.name).toSet
    val passes = mutable.ArrayBuffer.empty[Pass]
    val checks = mutable.ArrayBuffer.empty[(Int, Check)]
    def warmUntraced: Int = passes.count(p => p.index > 0 && !p.traced)
    // an untraced run of a cold-only workload ends after the cold pass; a
    // traced run needs a traced pass with an untraced one after it. The
    // first traced pass is the second warm one (the first absorbs what
    // warm-up is left), or the first when the cold pass is the measured one.
    val firstTraced = if (w.coldOnly) 1 else 2
    def enough: Boolean =
      if (w.coldOnly && !a.trace) passes.nonEmpty
      else passes.drop(1).map(_.wall).sum >= a.seconds && warmUntraced >= 1 &&
        (!a.trace || passes.exists(p => p.traced && p.index + 1 < passes.size))
    while (passes.isEmpty || !enough) {
      val index = passes.size
      val wp = if (index == 0) w.warmup else w
      val traced = a.trace && index >= firstTraced && (index - firstTraced) % 2 == 0
      probe.detailed = traced
      val g0 = gcMs()
      if (traced) heapPools.foreach(_.resetPeakUsage())
      val done = wp.requests.zipWithIndex.map { case (r, i) => runRequest(r, index, traced, i) }
      val wall = done.map(_.seconds).sum
      val heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum
      passes += Pass(index, traced, wall, done, gcMs() - g0, heapPeak)
      // untimed: checks of this pass
      val outcomes = done.flatMap(d => d.outcome.toOption.map(d.req.name -> _)).toMap
      val records = done.map(d => d.req.name -> d.counters.writeRecords).toMap
      try wp.check(outcomes, records).foreach(c => checks += index -> c)
      catch { case NonFatal(e) => checks += index -> Check("check", ok = false, e.toString, allRequests) }
    }
    probe.detailed = false

    val result = Report(a, w, setup, passes.toSeq, checks.toSeq, peakRssMb())
    val out = new PrintWriter(new File(a.out, "result.json"))
    try out.println(Json(result)) finally out.close()
    if (a.trace) {
      val spans = new PrintWriter(new File(a.out, "spans.jsonl"))
      try passes.filter(_.traced).flatMap(_.done).foreach(d => spans.println(Json(Report.span(d))))
      finally spans.close()
    }
    spark.stop()
  }
}
