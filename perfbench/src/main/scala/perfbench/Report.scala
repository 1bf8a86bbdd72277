package perfbench

/** Turns the measured passes into the result document: the end-to-end
  * metrics (untraced passes), the per-layer metrics (traced passes), the
  * check verdicts and one record per request. */
object Report {
  import Main.median

  private def s(ms: Long): Double = ms / 1000.0

  /** The highest of p99..p50 with at least 10 samples beyond it, linearly
    * interpolated like [[Main.median]]; below 20 samples none qualifies and
    * the maximum (p100) is reported. */
  def tail(xs: Seq[Double]): (Double, Int) = {
    val sorted = xs.sorted
    val n = sorted.size
    val p = Seq(99, 95, 90, 75, 50).find(p => n * (100 - p) / 100.0 >= 10).getOrElse(100)
    val pos = (n - 1) * p / 100.0
    val lo = pos.toInt
    val hi = math.min(lo + 1, n - 1)
    (sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo), p)
  }

  /** Per-layer totals of one traced pass. */
  def layers(p: Pass, w: Workload, cpus: Int): Map[String, Double] = {
    val hist = p.done.filter(_.req.entry != "query")
    val ops = p.done.filter(_.req.entry == "query")
    val c = new Counters
    p.done.foreach(d => c += d.counters)
    val q = p.done.flatMap(_.queries)
    def phase(ds: Seq[Done], ph: String) = ds.map(_.phases.getOrElse(ph, 0.0)).sum
    def entry(e: String) = {
      val ts = hist.filter(_.req.entry == e).map(_.seconds)
      if (ts.isEmpty) 0.0 else median(ts)
    }
    val inv = w.invariant.flatMap { case (name, bins, parts) =>
      p.done.find(_.req.name == name).map(d => (d, bins, parts))
    }
    val rows = p.done.map(_.rows).sum
    Map(
      "hist.build_s" -> phase(hist, "build"),
      "hist.execute_s" -> s(hist.map(_.counters.jobMs).sum),
      "hist.collect_s" -> phase(hist, "collect"),
      "hist.scatter_s" -> phase(hist, "scatter"),
      "hist.result_rows" -> hist.flatMap(_.outcome.toOption).map(_.rows).sum.toDouble,
      "hist.fill_s" -> entry("fill"),
      "hist.fill_dense_s" -> entry("fill_dense"),
      "hist.fill_tree_s" -> entry("fill_tree"),
      "hist.fill_multi_s" -> entry("fill_multi"),
      "hist.densify_s" -> entry("densify"),
      "plan.analysis_s" -> s(q.map(_.analysisMs).sum),
      "plan.optimization_s" -> s(q.map(_.optimizationMs).sum),
      "plan.planning_s" -> s(q.map(_.planningMs).sum),
      "plan.codegen_compiles" -> p.done.map(_.compiles).sum.toDouble,
      "plan.codegen_compile_s" -> p.done.map(_.compileNs).sum / 1e9,
      "plan.exchanges" -> q.map(_.exchanges).sum.toDouble,
      "plan.smj" -> q.map(_.smj).sum.toDouble,
      "plan.bhj" -> q.map(_.bhj).sum.toDouble,
      "plan.codegen_fallback" -> q.map(_.codegenFallback).sum.toDouble,
      "exec.jobs" -> c.jobs.toDouble,
      "exec.stages" -> c.stages.toDouble,
      "exec.tasks" -> c.tasks.toDouble,
      "exec.run_s" -> s(c.runMs),
      "exec.cpu_s" -> c.cpuNs / 1e9,
      "exec.gc_s" -> s(c.gcMs),
      "exec.task_overhead_s" -> s(c.taskWallMs - c.runMs),
      "exec.idle_core_s" -> (cpus * p.wall - s(c.taskWallMs)),
      "exchange.write_bytes" -> c.writeBytes.toDouble,
      "exchange.write_records" -> c.writeRecords.toDouble,
      "exchange.read_bytes" -> c.readBytes.toDouble,
      "exchange.fetch_wait_s" -> s(c.fetchWaitMs),
      "exchange.spill_bytes" -> c.spillBytes.toDouble,
      "exchange.records_per_bin_partition" -> inv.map { case (d, bins, parts) =>
        d.counters.writeRecords.toDouble / (bins.toDouble * parts) }.getOrElse(0.0),
      "exchange.partial_reduction" -> (inv match {
        case Some((d, _, _)) if d.counters.writeRecords > 0 => d.rows.toDouble / d.counters.writeRecords
        case _ if c.writeRecords > 0 => rows.toDouble / c.writeRecords
        case _ => 0.0
      }),
      "scan.input_rows" -> rows.toDouble,
      "scan.input_bytes" -> c.inputBytes.toDouble,
      "driver.result_bytes" -> c.resultBytes.toDouble,
      "ops.build_s" -> phase(ops, "build"),
      "ops.build_jobs" -> ops.map(_.buildJobs).sum.toDouble,
      "ops.execute_s" -> phase(ops, "execute"),
      "ops.jobs_per_query" -> (if (ops.isEmpty) 0.0 else ops.map(_.counters.jobs).sum.toDouble / ops.size),
      "ops.checkpoint_bytes_live" -> (if (ops.isEmpty) 0.0 else ops.map(_.checkpointBytes).max.toDouble),
      "jvm.gc_s" -> s(p.gcMs),
      "jvm.heap_peak_mb" -> p.heapPeakBytes / 1048576.0
    ) ++ Workloads.PipelineOps.flatMap { name =>
      val d = ops.find(_.req.name == name)
      Seq(s"ops.${name}_s" -> d.map(_.seconds).getOrElse(0.0),
        s"ops.${name}_jobs" -> d.map(_.counters.jobs.toDouble).getOrElse(0.0))
    }
  }

  def apply(a: Main.Args, w: Workload, setup: Double, passes: Seq[Pass],
      checks: Seq[(Int, Check)], peakRss: Double): Map[String, Any] = {
    // end-to-end metrics come from the untraced passes after the cold one,
    // or from the cold pass of a cold-only workload
    val e2eSet = if (w.coldOnly) passes.take(1) else passes.filter(p => !p.traced && p.index > 0)
    val reqs = e2eSet.flatMap(_.done)
    val (tailValue, tailPct) = tail(reqs.map(_.seconds))
    val e2e = Map(
      "setup_s" -> setup,
      "wall_s" -> median(e2eSet.map(_.wall)),
      "rows_per_s" -> reqs.map(_.rows).sum / e2eSet.map(_.wall).sum,
      "request_p50_s" -> median(reqs.map(_.seconds)),
      "request_tail_s" -> tailValue,
      "cold_pass_s" -> passes.head.wall,
      "peak_rss_mb" -> peakRss)
    val traced = passes.filter(_.traced)
    val perLayer: Map[String, Any] =
      if (traced.isEmpty) Map.empty
      else {
        val ls = traced.map(layers(_, w, a.cpus))
        val ratios = traced.flatMap(t => passes.lift(t.index + 1).map(t.wall / _.wall))
        ls.head.keys.map(k => k -> median(ls.map(_(k)))).toMap +
          ("trace.overhead_ratio" -> median(ratios))
      }
    val failedChecks = checks.filterNot(_._2.ok)
    val requests = passes.flatMap(_.done).map { d =>
      val checkFail = failedChecks.exists { case (i, c) => i == d.pass && c.requests(d.req.name) }
      Map("name" -> d.req.name, "pass" -> d.pass, "traced" -> d.traced, "s" -> d.seconds,
        "ok" -> (d.outcome.isRight && !checkFail), "error" -> d.outcome.left.toOption.orNull)
    }
    Map(
      "workload" -> a.workload, "seed" -> a.seed, "cpus" -> a.cpus, "trace" -> a.trace,
      "tiny" -> a.tiny, "oracle_sql" -> w.oracleSql,
      "passes" -> passes.map(p => Map("index" -> p.index, "traced" -> p.traced, "wall_s" -> p.wall,
        "requests" -> p.done.size, "gc_s" -> s(p.gcMs))),
      "e2e" -> e2e,
      "request_tail_pct" -> tailPct, "request_tail_samples" -> reqs.size,
      "per_layer" -> perLayer,
      "checks" -> checks.map {
        case (i, c) => Map("pass" -> i, "name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)
      },
      "requests" -> requests)
  }

  /** One span of the traced run: a request with its phases and layer totals. */
  def span(d: Done): Map[String, Any] = {
    val c = d.counters
    Map("pass" -> d.pass, "request" -> d.req.name, "entry" -> d.req.entry,
      "start_ms" -> d.startMs, "s" -> d.seconds, "phases_s" -> d.phases,
      "ok" -> d.outcome.isRight, "jobs" -> c.jobs, "build_jobs" -> d.buildJobs,
      "stages" -> c.stages, "tasks" -> c.tasks, "job_s" -> s(c.jobMs),
      "run_s" -> s(c.runMs), "cpu_s" -> c.cpuNs / 1e9, "gc_s" -> s(c.gcMs),
      "task_wall_s" -> s(c.taskWallMs), "shuffle_write_bytes" -> c.writeBytes,
      "shuffle_write_records" -> c.writeRecords, "shuffle_read_bytes" -> c.readBytes,
      "spill_bytes" -> c.spillBytes, "input_rows" -> d.rows, "input_bytes" -> c.inputBytes,
      "result_bytes" -> c.resultBytes, "codegen_compiles" -> d.compiles,
      "codegen_compile_s" -> d.compileNs / 1e9, "checkpoint_bytes_live" -> d.checkpointBytes,
      "queries" -> d.queries.map(e => Map("analysis_s" -> s(e.analysisMs),
        "optimization_s" -> s(e.optimizationMs), "planning_s" -> s(e.planningMs),
        "exchanges" -> e.exchanges, "smj" -> e.smj, "bhj" -> e.bhj,
        "codegen_fallback" -> e.codegenFallback)))
  }
}

/** Minimal JSON encoder for maps, sequences, strings, numbers and booleans;
  * non-finite numbers become null. */
object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
