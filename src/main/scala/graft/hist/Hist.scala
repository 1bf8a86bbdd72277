package graft.hist

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import graft.plans.DenseFill

/** One staged fill: which DataFrame/columns feed the histogram, with
  * optional weight and sample (reference stages dicts of
  * (args, weight, sample) at `/root/reference/src/dask_histogram/boost.py:234-312`).
  * Scalar weights broadcast via `lit` (ref: `tests/test_core.py:350-359`);
  * scalar category args ride along as `lit` columns
  * (ref: `tests/test_boost.py:132-134`).
  */
final case class FillSpec(df: DataFrame, cols: Seq[Column],
    weight: Option[Column] = None, sample: Option[Column] = None)

/** Core fill + reduce engine.
  *
  * The reference's whole pipeline — per-partition `bh.Histogram.fill`
  * (`core.py:63-257`) followed by a bounded-fan-in tree reduction
  * (`core.py:856-885`) — runs on one of two engines, chosen per fill from
  * what the plan shows ([[fillMulti]]):
  *  - the compiled dense fill ([[graft.plans.DenseFill]]): one buffer per
  *    input partition, filled inside the whole-stage-codegen loop of the
  *    scan, then merged by [[graft.plans.DenseMerge]] levels in a tree
  *    where each task adds at most `split_every` buffers — the
  *    reference's own shape, for numeric axes whose bins fit the rows;
  *  - the sparse aggregate `select(binIndex*) .groupBy(idx*) .agg(storage
  *    sums)`: partial HashAggregate, a shuffle of bin rows, final
  *    HashAggregate — for category axes and bin spaces larger than the
  *    rows that fill them.
  * Either way only histograms move across the wire, never rows — the
  * reference's key design property (SURVEY.md §4) — and both give the
  * same rows, columns and types.
  */
object Hist {

  /** Fill one histogram from columns of a DataFrame → sparse H. */
  def fill(spec: HistSpec, df: DataFrame, cols: Seq[Column],
      weight: Option[Column] = None, sample: Option[Column] = None): DataFrame =
    fillMulti(spec, Seq(FillSpec(df, cols, weight, sample)))

  /** Project one FillSpec to the pre-aggregation shape
    * ([prefix cols,] i0..iD, w, s). Narrow (no shuffle) — whole-stage
    * codegen fuses scan + bin index. */
  private[graft] def project(spec: HistSpec, f: FillSpec,
      prefix: Seq[Column] = Nil): DataFrame = {
    require(f.cols.size == spec.ndim,
      s"fill needs ${spec.ndim} coordinate columns, got ${f.cols.size}")
    // boost rejects Mean/WeightedMean fills without sample=; defaulting the
    // sample to 0.0 would yield silently-wrong all-zero means
    require(f.sample.isDefined || !spec.storage.usesSample,
      s"${spec.storage} requires a sample column")
    val idx = spec.axes.zip(f.cols).zipWithIndex.map { case ((ax, c), i) =>
      ax.binCol(c).as(s"i$i")
    }
    val (w, s) = weightSample(f)
    val rows = f.df.select(prefix ++ idx ++ Seq(w.as("__w"), s.as("__s")): _*)
    // a NULL key has no bin; only axes that can emit one pay the filter
    spec.axes.zip(spec.indexCols).collect { case (a, c) if a.nullKey => col(c).isNotNull }
      .reduceOption(_ && _).fold(rows)(rows.filter)
  }

  /** A fill's weight (default 1) and sample (default 0) as doubles. */
  private def weightSample(f: FillSpec): (Column, Column) =
    (f.weight.getOrElse(lit(1.0)).cast(DoubleType), f.sample.getOrElse(lit(0.0)).cast(DoubleType))

  /** Multi-fill fused into ONE aggregation pass (reference fuses K staged
    * fills into one task per partition, `core.py:409-434`, `:978-1005`).
    * On the dense engine ([[dense]]) fills over one input share its scan;
    * on the sparse one the narrow projections are unioned under a single
    * groupBy. One shuffle of histograms either way. */
  def fillMulti(spec: HistSpec, fills: Seq[FillSpec]): DataFrame = {
    require(fills.nonEmpty, "at least one fill required")
    val aggs = spec.storage.aggs(col("__w"), col("__s"))
    val sparse = fills.map(project(spec, _)).reduce(_ unionByName _)
      .groupBy(spec.indexCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    val h = dense(spec, fills, sparse.schema).getOrElse(sparse)
    spec.storage.finalizers.foldLeft(h) { case (d, (n, c)) => d.withColumn(n, c) }
  }

  /** [[fillMulti]] on the compiled dense fill, with the sparse fill's rows
    * and `schema`: None unless every axis is numeric and bins x slots is
    * within [[DenseFill.MaxBins]] and within the estimated rows per planned
    * partition of every input ([[DenseFill.fits]]).
    *
    * A bin's slots: one per storage accumulator; a hit count, so exactly
    * the bins that some row reaches are emitted (a count accumulator over
    * a term that is never null is one); and for each factor set (w, d or
    * both) of a sum over a nullable term, the count of rows where it is
    * set, so that such a sum is NULL where SQL's `sum` is. Fills whose
    * DataFrames are filters of one input ([[DenseFill.shared]]) are
    * branches of one scan. */
  private def dense(spec: HistSpec, fills: Seq[FillSpec], schema: StructType): Option[DataFrame] = {
    if (!axesNumeric(spec) || fills.exists(_.df.isStreaming)) return None
    val accs = spec.storage.accs
    // the values of a branch: one term per accumulator, then the literal 1
    val branches = fills.map { f =>
      val (w, s) = weightSample(f)
      DenseFill.branch(f.df, flatIndexCol(spec, f.cols),
        accs.map(spec.storage.term(_, w, s)) :+ lit(1))
    }
    def nullable(k: Int): Boolean = branches.exists(_.exprs(k + 2).nullable)
    val guarded = accs.indices.filter(k => !accs(k).count && nullable(k))
      .map(k => k -> (accs(k).wPow > 0, accs(k).sPow > 0))
    val factorSets = guarded.map(_._2).distinct
    val hitAcc = accs.indices.find(k => accs(k).count && !nullable(k))
    // (value index, count) per slot: accumulators, hit, non-null counts
    val slots = accs.indices.map(k => (k, accs(k).count)) ++
      hitAcc.fold(Seq((accs.size, true)))(_ => Nil) ++
      factorSets.map(fs => (guarded.find(_._2 == fs).get._1, true))
    val firstGuard = slots.size - factorSets.size
    val nonNull = accs.indices.map(k =>
      guarded.find(_._1 == k).fold(-1)(g => firstGuard + factorSets.indexOf(g._2)))
    val bins = spec.denseBinCount(flow = true)
    val width = bins * slots.size
    val spark = fills.head.df.sparkSession
    val groups = DenseFill.shared(branches)
    val parts = if (width > DenseFill.MaxBins) Nil
      else groups.flatMap { case (in, _) => DenseFill.fits(spark, in, width) }
    if (parts.size < groups.size) None
    else {
      val buffers = groups.map { case (in, bs) =>
        DenseFill(spark, in, bs.map(e => e.take(2) ++ slots.map { case (i, _) => e(i + 2) }),
          slots.map(_._2), bins.toInt)
      }.reduce(_ union _)
      Some(DenseFill.bins(merge(buffers, parts.sum, width.toInt, None), dims(spec),
        slots.size, hitAcc.getOrElse(accs.size), accs.indices, nonNull, schema))
    }
  }

  /** Per-axis bin counts with flow bins. */
  private def dims(spec: HistSpec): Seq[Int] = spec.axes.map(_.nBins + 2)

  /** Partial (per-partition) histograms — the reference's
    * `partitioned_factory` (`core.py:1313-1344`): expose pre-reduction
    * state keyed by the physical partition id. The bucket column is
    * evaluated in the same narrow stage as the projection, so ids match
    * the scan's partitioning. */
  def fillPartitioned(spec: HistSpec, df: DataFrame, cols: Seq[Column],
      weight: Option[Column] = None, sample: Option[Column] = None): DataFrame =
    fillPartitionedBy(spec, df, spark_partition_id().cast("long"), cols,
      weight, sample)

  /** As [[fillPartitioned]] but keyed by a caller-supplied deterministic
    * bucket expression — same pre-reduction surface, reproducible across
    * engines/runs (physical partition ids depend on scheduling). */
  def fillPartitionedBy(spec: HistSpec, df: DataFrame, bucket: Column,
      cols: Seq[Column], weight: Option[Column] = None,
      sample: Option[Column] = None): DataFrame = {
    val aggs = spec.storage.aggs(col("__w"), col("__s"))
    project(spec, FillSpec(df, cols, weight, sample), Seq(bucket.as("partition")))
      .groupBy((col("partition") +: spec.indexCols.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Densify a sparse histogram: full (n[+2])^D grid with zero-filled
    * missing bins (reference `to_dask_array`, `core.py:1098-1154`).
    * Numeric axes only. Grid built from tiny `spark.range` cross joins
    * (size = bin count, not data size) and broadcast-joined to H. */
  def densify(spec: HistSpec, h: DataFrame, flow: Boolean = true): DataFrame = {
    require(axesNumeric(spec), "densify requires numeric (indexed) axes")
    val spark = h.sparkSession
    val grid = spec.axes.zipWithIndex.map { case (a, i) =>
      val (lo, hi) = if (flow) (0L, a.nBins + 2L) else (1L, a.nBins + 1L)
      spark.range(lo, hi).toDF(s"i$i")
    }.reduce(_ crossJoin _)
    val joined = grid.join(h, spec.indexCols, "left")
    val zeroed = spec.storage.stateCols.foldLeft(joined) { (d, c) =>
      d.withColumn(c, coalesce(col(c), lit(0.0).cast(d.schema(c).dataType)))
    }
    zeroed.select((spec.indexCols.map(col) ++ spec.storage.stateCols.map(col)): _*)
  }

  private def axesNumeric(spec: HistSpec): Boolean = spec.axes.forall(!_.isCategorical)

  /** Session-conf surface for the tree-reduce fan-in, mirroring the
    * reference's `histogram.yaml:10` `split_every: 8` read through
    * `config.py` — callers that don't pass `splitEvery` explicitly get
    * the conf value, falling back to the reference's default of 8. */
  final val SplitEveryConf = "spark.graft.histogram.splitEvery"
  final val SplitEveryDefault = 8

  def resolveSplitEvery(spark: SparkSession): Int = {
    val v = spark.conf.get(SplitEveryConf, SplitEveryDefault.toString).toInt
    require(v >= 2, s"$SplitEveryConf must be >= 2, got $v")
    v
  }

  /** Explicit bounded-fan-in tree reduction — the reference's
    * `split_every` control (`core.py:856-885`, default fan-in 8 from
    * `histogram.yaml:10`): [[fillDense]]'s merged buffer, returned as the
    * dense flow-inclusive array driver-side (row-major, [[flatIndexCol]]
    * order). `splitEvery = None` reads [[SplitEveryConf]] (reference:
    * yaml config). */
  def fillTree(spec: HistSpec, df: DataFrame, cols: Seq[Column],
      weight: Option[Column] = None, splitEvery: Option[Int] = None): Array[Double] =
    denseBuffer(spec, df, cols, weight, splitEvery).collect().head
      .getSeq[Double](0).toArray

  /** Flat (row-major) bin index over all axes incl. flow:
    * idx = Σ_d i_d * stride_d with stride = Π of later dims' (n+2).
    * Strides computed in Long — Int products overflow beyond ~1300 bins
    * per axis in 3-D. */
  def flatIndexCol(spec: HistSpec, cols: Seq[Column]): Column = {
    require(axesNumeric(spec), "flat index requires numeric axes")
    require(cols.size == spec.ndim,
      s"flat index needs ${spec.ndim} coordinate columns, got ${cols.size}")
    val dims = spec.axes.map(a => (a.nBins + 2).toLong)
    val strides = dims.scanRight(1L)(_ * _).tail // stride_d = prod dims after d
    spec.axes.zip(cols).zip(strides).map { case ((ax, c), s) =>
      ax.binCol(c) * lit(s)
    }.reduce(_ + _)
  }

  /** The dense view of a fill, any ndim: every bin of the flow-inclusive
    * grid, zero bins kept, as rows (i0..iD, value = Σw). It is the same
    * engine [[fillMulti]] picks for numeric axes — one `double[]` buffer
    * per input partition plus a BOUNDED-fan-in buffer merge, the literal
    * analog of the reference's per-partition `bh.Histogram` +
    * `split_every` tree reduce (`core.py:856-885`, `histogram.yaml:10`) —
    * taken here unconditionally and read without the hit count, so bins
    * no row reaches are rows too ([[graft.plans.DenseBins]]).
    *
    * The fill is [[graft.plans.DenseFill]]: `buf[(int) idx] += w` compiled
    * into the whole-stage-codegen loop of the bin-index projection, one
    * `array<double>` row out per input partition. Only those P buffers
    * reach an exchange, never rows. Measured on 4 CPUs, 10^8 rows of 2-D
    * normal coordinates into 10x10 bins in 10 partitions (`fill-1e8-2d`):
    * 3.3–3.7 s per fill, against 7.1–7.9 s for the interpreted aggregate
    * it replaced and 3.6 s for generating and binning the rows alone. On
    * 10^7 rows in 64 partitions into 102^3 bins (state-bound) both take
    * 2.2–3.1 s.
    *
    * Why the tree matters: a bare `.agg()` funnels every input partition's
    * buffer into ONE final reducer — at 800k scan tasks × an n-bin buffer
    * that single task is the reduction bottleneck the reference's
    * `split_every` exists to prevent. So each level sends the buffer of
    * partition p to partition `pmod(p, ceil(P / fanIn))` of an exchange
    * with exactly that many partitions (`repartitionById`), and a
    * [[graft.plans.DenseMerge]] adds up each partition's at most fanIn
    * buffers; the levels repeat the contraction down to one partition:
    * depth = ceil(log_fanIn(P)), at most fanIn buffers per task.
    * P is read from the input's physical plan without running it
    * ([[graft.plans.DenseFill.plannedPartitions]]), so building the
    * result runs no job. `splitEvery = None` reads [[SplitEveryConf]]
    * (reference yaml config). */
  def fillDense(spec: HistSpec, df: DataFrame, cols: Seq[Column],
      weight: Option[Column] = None, splitEvery: Option[Int] = None): DataFrame = {
    val schema = StructType(spec.indexCols.map(StructField(_, LongType, nullable = false)) :+
      StructField("value", DoubleType, nullable = false))
    DenseFill.bins(denseBuffer(spec, df, cols, weight, splitEvery), dims(spec), 1, -1,
      Seq(0), Seq(-1), schema)
  }

  /** [[fillDense]]'s reduction: one row, one column `__h`, the merged
    * dense buffer of Σw per bin. */
  private def denseBuffer(spec: HistSpec, df: DataFrame, cols: Seq[Column],
      weight: Option[Column], splitEvery: Option[Int]): DataFrame = {
    require(axesNumeric(spec), "dense fill requires numeric (indexed) axes")
    val totalL = spec.denseBinCount(flow = true)
    require(totalL > 0 && totalL <= DenseFill.MaxBins,
      s"dense fill buffer out of range: $totalL bins")
    val b = DenseFill.branch(df, flatIndexCol(spec, cols),
      Seq(weight.getOrElse(lit(1.0)).cast(DoubleType)))
    val buffers = DenseFill(df.sparkSession, b.input, Seq(b.exprs), Seq(false), totalL.toInt)
    merge(buffers, DenseFill.plannedPartitions(buffers), totalL.toInt, splitEvery)
  }

  /** The bounded-fan-in merge of `buffers`' `partitions` rows (`__h`,
    * `total` doubles each) into one: levels of [[DenseFill.merge]], the
    * last over one partition. */
  private def merge(buffers: DataFrame, partitions: Int, total: Int,
      splitEvery: Option[Int]): DataFrame = {
    val fanIn = splitEvery.getOrElse(resolveSplitEvery(buffers.sparkSession))
    // as resolveSplitEvery checks the conf: below 2 the levels never contract
    require(fanIn >= 2, s"splitEvery must be >= 2, got $fanIn")
    var groups = partitions
    var level = buffers
    // at most fanIn buffers go to each group of a level
    do {
      groups = if (groups > fanIn) math.ceil(groups.toDouble / fanIn).toInt else 1
      level = DenseFill.merge(level, groups, total)
    } while (groups > 1)
    level
  }

  /** Density normalization: value / (Σvalue * binWidth). The reference
    * *accepts* density= but never applies it (`routines.py:417-421` — see
    * SURVEY.md §2.5 A14); we implement it correctly and document the
    * divergence. 1-D numeric axes. */
  def density(spec: HistSpec, h: DataFrame): DataFrame = {
    require(spec.ndim == 1 && !spec.axes.head.isCategorical,
      "density currently supports 1-D numeric axes")
    val ax = spec.axes.head
    val widths = ax.edges.sliding(2).map(p => p(1) - p(0)).toArray
    val widthCol = {
      // in-range bins i in [1, n]; flow bins get NULL width → NULL density
      val pairs = widths.zipWithIndex.map { case (w, i) => (i + 1L, w) }
      pairs.foldRight(lit(null).cast(DoubleType): Column) { case ((i, w), rest) =>
        when(col("i0") === i, lit(w)).otherwise(rest)
      }
    }
    // scalar total via broadcast cross-join, not an empty-frame window —
    // the input is only O(bins) rows, but WindowExec would still force a
    // single-partition exchange (and a noisy warning) for no benefit
    val tot = h.agg(sum(when(col("i0") >= 1 && col("i0") <= ax.nBins,
      col("value")).otherwise(lit(0.0))).as("__total"))
    h.crossJoin(tot)
      .withColumn("density", col("value") / (col("__total") * widthCol))
      .drop("__total")
  }
}
