package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.hist._

/** What one request produced, kept for the untimed checks. */
final case class Outcome(values: Array[Double] = Array.empty, rows: Long = 0L,
    total: Double = Double.NaN, count: Long = -1L)

/** Times the phases of one request and tags the Spark jobs of each phase
  * with the job group `<group>/<phase>`. */
final class Phases(spark: SparkSession, val group: String) {
  val seconds = mutable.LinkedHashMap.empty[String, Double]
  def apply[T](phase: String)(f: => T): T = {
    spark.sparkContext.setJobGroup(s"$group/$phase", phase)
    val t0 = System.nanoTime()
    try f finally seconds(phase) = seconds.getOrElse(phase, 0.0) + (System.nanoTime() - t0) / 1e9
  }
}

/** One request of a workload. `entry` is the library entry point it
  * exercises (`query` for registry queries); `rows` is the number of input
  * rows it histograms, 0 when only the scan metrics know it. */
final case class Req(name: String, entry: String, rows: Long, body: Phases => Outcome)

/** An untimed correctness check over one pass; `requests` names the
  * requests that count as failed when it does not hold. */
final case class Check(name: String, ok: Boolean, detail: String, requests: Set[String])

trait Workload {
  /** The fixed request list of one pass. */
  def requests: Seq[Req]
  /** The workload the cold first pass of a run uses. */
  def warmup: Workload = this
  /** True when the cold pass is the measured one: the end-to-end metrics
    * of a fresh session's first pass over the request list. */
  def coldOnly: Boolean = false
  /** The sparse fill whose shuffle carries the paper's invariant, with its
    * bin count and map-side partition count. */
  def invariant: Option[(String, Long, Int)] = None
  /** Checks over one pass: outcome per request name. */
  def check(pass: Map[String, Outcome], shuffleRecords: Map[String, Long]): Seq[Check] = Nil
  /** DuckDB oracle SQL per query whose cold-pass result the oracle compares. */
  def oracleSql: Map[String, String] = Map.empty
}

object Workloads {
  val PipelineOps: Seq[String] = Seq("graph_pagerank", "graph_hits",
    "dedup_jaccard_keep", "dedup_containment_join", "pack_lm_labels",
    "span_corrupt", "wordpiece_tokenize_bert_basic", "bpe_tokenize_pack",
    "ann_hard_negatives_lsh", "text_textrank_keywords")

  def histQueries: Seq[String] = SparkEntry.queries.keys.filter(_.startsWith("hist")).toSeq.sorted

  val names: Seq[String] = Seq("fill-1e8-2d", "fill-1m-bins", "hist-queries", "pipeline-ops")

  def apply(name: String, spark: SparkSession, seed: Long, tiny: Boolean,
      dataDir: String, outDir: String): Workload = {
    def rows(n: Long): Long = if (tiny) 100000L else n
    name match {
      case "fill-1e8-2d" => new Fill2D(spark, seed, rows(100000000L))
      case "fill-1m-bins" => new FillBins(spark, seed, rows(10000000L), if (tiny) 20 else 100)
      case "hist-queries" =>
        new Queries(spark, dataDir, outDir, if (tiny) histQueries.take(2) else histQueries)
      case "pipeline-ops" => new Queries(spark, dataDir, outDir,
        if (tiny) PipelineOps.take(2) else PipelineOps, coldOnly = true)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (one of ${names.mkString(", ")})")
    }
  }

  /** HistResult.collect plus the dense scatter, each timed as its own phase. */
  def collect(p: Phases, spec: HistSpec, h: DataFrame): Outcome = {
    val r = p("collect")(HistResult.collect(spec, h))
    val v = p("scatter")(r.values())
    Outcome(v, r.rows.length.toLong)
  }

  def relClose(a: Double, b: Double, tol: Double = 1e-9): Boolean =
    math.abs(a - b) <= tol * math.max(math.max(math.abs(a), math.abs(b)), 1e-300)

  /** Bin-for-bin agreement of two dense arrays to 1e-9 relative error. */
  def agree(a: Array[Double], b: Array[Double]): Option[String] =
    if (a.length != b.length) Some(s"lengths ${a.length} vs ${b.length}")
    else a.indices.find(i => !relClose(a(i), b(i)) && math.abs(a(i) - b(i)) > 1e-12)
      .map(i => s"bin $i: ${a(i)} vs ${b(i)}")

  def sumCheck(name: String, got: Double, want: Double, req: String): Check =
    Check(name, relClose(got, want), s"$got vs $want", Set(req))

  /** Shared checks of the fill workloads: Σvalue of every weighted request
    * against an independent sum(w), bin agreement with the reference sparse
    * fill, and shuffle records ≤ bins × map partitions. */
  def fillChecks(pass: Map[String, Outcome], sumW: => Double, reference: String,
      weighted: Seq[String], records: Map[String, Long], bins: Long, parts: Int): Seq[Check] = {
    val sums = weighted.filter(pass.contains).map(r =>
      sumCheck(s"sum_w:$r", pass(r).values.sum, sumW, r))
    val agreement = pass.get(reference).toSeq.flatMap { ref =>
      weighted.filter(r => r != reference && pass.contains(r)).map { r =>
        val d = agree(pass(r).values, ref.values)
        Check(s"agree:$r=$reference", d.isEmpty, d.getOrElse("equal"), Set(r, reference))
      }
    }
    val inv = records.get(reference).toSeq.map { n =>
      val ratio = n.toDouble / (bins.toDouble * parts)
      Check(s"records_per_bin_partition:$reference", ratio <= 1.0, f"$ratio%.6g", Set(reference))
    }
    sums ++ agreement ++ inv
  }
}

import Workloads._

/** The reference's documented example: 10^8 rows of 2 standard-normal
  * coordinates plus a uniform weight, in 10 chunks of 10^7, into 10x10
  * Regular bins on [-3, 3). */
final class Fill2D(spark: SparkSession, seed: Long, n: Long) extends Workload {
  private val parts = 10
  private val axes = Seq(Regular(10, -3.0, 3.0), Regular(10, -3.0, 3.0))
  private val cols = Seq(col("x"), col("y"))
  private val w = Some(col("w"))
  private val dbl = HistSpec(axes, DoubleStorage)
  private def input(): DataFrame = spark.range(0, n, 1, parts)
    .select(col("id"), randn(seed).as("x"), randn(seed + 1).as("y"), rand(seed + 2).as("w"))
  private lazy val sumW = input().agg(sum("w")).head().getDouble(0)

  /** A tenth of the rows: the cold pass compiles the same plans without
    * paying a full 10^8-row pass. (`fill-1m-bins` warms up at full size: it
    * is state-bound, so fewer rows would not make its cold pass cheaper.) */
  override def warmup: Workload = new Fill2D(spark, seed, n / 10)

  val requests: Seq[Req] = Seq(
    Req("fill", "fill", n, p => collect(p, dbl, p("build")(Hist.fill(dbl, input(), cols, w)))),
    Req("fill_wmean", "fill", n, { p =>
      val spec = HistSpec(axes, WeightedMeanStorage)
      collect(p, spec, p("build")(Hist.fill(spec, input(), cols, w, Some(col("x")))))
    }),
    Req("fill_dense", "fill_dense", n,
      p => collect(p, dbl, p("build")(Hist.fillDense(dbl, input(), cols, w)))),
    Req("fill_tree", "fill_tree", n, { p =>
      val a = p("execute")(Hist.fillTree(dbl, input(), cols, w))
      Outcome(a, a.length.toLong)
    }),
    // two staged fills over the even and odd rows, unweighted: Σcounts = n
    Req("fill_multi", "fill_multi", n, { p =>
      val df = input()
      val h = p("build") {
        new Histogram(dbl).fill(df.where(col("id") % 2 === 0), cols)
          .fill(df.where(col("id") % 2 === 1), cols).result(spark)
      }
      collect(p, dbl, h)
    }))

  override def invariant: Option[(String, Long, Int)] = Some(("fill", dbl.denseBinCount(true), parts))

  override def check(pass: Map[String, Outcome], records: Map[String, Long]): Seq[Check] =
    fillChecks(pass, sumW, "fill", Seq("fill", "fill_wmean", "fill_dense", "fill_tree"),
      records, dbl.denseBinCount(true), parts) ++
      pass.get("fill_multi").toSeq.map(o =>
        Check("counts:fill_multi", o.values.sum == n.toDouble, s"${o.values.sum} vs $n",
          Set("fill_multi")))
}

/** State-bound: 10^7 rows in 64 partitions into a 3-D 100^3 Regular grid
  * (102^3 = 1,061,208 bins with flow), so the partial aggregate barely
  * reduces. */
final class FillBins(spark: SparkSession, seed: Long, n: Long, nb: Int) extends Workload {
  private val parts = 64
  private val axes = Seq.fill(3)(Regular(nb, 0.0, 1.0))
  private val cols = Seq(col("x"), col("y"), col("z"))
  private val w = Some(col("w"))
  private val dbl = HistSpec(axes, DoubleStorage)
  private val bins = dbl.denseBinCount(true)
  // coordinates spill 5% past each edge so the flow bins are filled too
  private def coord(s: Long): Column = rand(s) * 1.1 - 0.05
  private def input(): DataFrame = spark.range(0, n, 1, parts)
    .select(coord(seed).as("x"), coord(seed + 1).as("y"), coord(seed + 2).as("z"),
      rand(seed + 3).as("w"))
  private lazy val sumW = input().agg(sum("w")).head().getDouble(0)

  val requests: Seq[Req] = Seq(
    Req("fill_weight", "fill", n, { p =>
      val spec = HistSpec(axes, WeightStorage)
      collect(p, spec, p("build")(Hist.fill(spec, input(), cols, w)))
    }),
    Req("fill_dense", "fill_dense", n,
      p => collect(p, dbl, p("build")(Hist.fillDense(dbl, input(), cols, w)))),
    // unweighted densified grid to the noop sink; an observation carries
    // Σcounts and the row count out of the same write
    Req("densify", "densify", n, { p =>
      val obs = new Observation()
      val d = p("build") {
        Hist.densify(dbl, Hist.fill(dbl, input(), cols))
          .observe(obs, sum("value").as("total"), count(lit(1)).as("rows"))
      }
      p("execute")(d.write.format("noop").mode("overwrite").save())
      val m = obs.get
      Outcome(total = m("total").asInstanceOf[Double], count = m("rows").asInstanceOf[Long])
    }))

  override def invariant: Option[(String, Long, Int)] = Some(("fill_weight", bins, parts))

  override def check(pass: Map[String, Outcome], records: Map[String, Long]): Seq[Check] =
    fillChecks(pass, sumW, "fill_weight", Seq("fill_weight", "fill_dense"), records, bins, parts) ++
      pass.get("densify").toSeq.flatMap(o => Seq(
        Check("counts:densify", o.total == n.toDouble, s"${o.total} vs $n", Set("densify")),
        Check("grid:densify", o.count == bins, s"${o.count} vs $bins", Set("densify"))))
}

/** Registry queries over the generated tables in `dataDir`. Warm passes
  * write each result to the noop sink; the cold pass writes it as one
  * parquet file to `outDir/<query>` (as `graft.Verify` does), which the
  * DuckDB oracle comparison reads after the run. */
final class Queries(spark: SparkSession, dataDir: String, outDir: String,
    names: Seq[String], override val coldOnly: Boolean = false,
    toParquet: Boolean = false) extends Workload {
  val requests: Seq[Req] = names.map { q =>
    val fn = SparkEntry.queries(q)
    Req(q, "query", 0L, { p =>
      val df = p("build")(fn(spark, dataDir))
      p("execute") {
        if (toParquet) df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$q")
        else df.write.format("noop").mode("overwrite").save()
      }
      Outcome()
    })
  }

  override def warmup: Workload = new Queries(spark, dataDir, outDir, names, coldOnly, toParquet = true)

  override def oracleSql: Map[String, String] = SparkEntry.oracleSql.filter { case (q, _) => names.contains(q) }
}
