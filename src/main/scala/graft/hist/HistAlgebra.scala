package graft.hist

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Post-aggregation histogram arithmetic (reference `BinaryOpAgg`,
  * `/root/reference/src/dask_histogram/core.py:1157-1187`, dunders at
  * `core.py:707-741`).
  *
  * hist ⊕ hist = full-outer join on the bin keys with missing bins treated
  * as zero (matches bh's dense-array arithmetic where absent sparse rows
  * are zero bins). Histograms are tiny relative to data (≤ bin-count rows),
  * so the join is broadcast-able; at scale Catalyst/AQE picks broadcast
  * automatically for sub-threshold sides.
  *
  * hist ⊕ scalar = narrow projection. Division by zero follows Spark/SQL
  * double semantics (NULL for 0/0 via nullif-free sparse rows is avoided:
  * we keep IEEE semantics by arithmetic on coalesced doubles — x/0 = ±Inf,
  * 0/0 = NaN — matching bh).
  */
object HistAlgebra {

  sealed trait Op { def apply(l: Column, r: Column): Column }
  case object Add extends Op { def apply(l: Column, r: Column): Column = l + r }
  case object Sub extends Op { def apply(l: Column, r: Column): Column = l - r }
  case object Mul extends Op { def apply(l: Column, r: Column): Column = l * r }
  case object Div extends Op {
    // Spark's Divide returns NULL (non-ANSI) or throws (ANSI) on a zero
    // divisor even for doubles; bh's dense arithmetic is IEEE. Spell the
    // IEEE results out so missing-bin (coalesced-to-0) divisors behave:
    // x/0 = ±Inf, 0/0 = NaN.
    def apply(l: Column, r: Column): Column =
      when(r === 0.0,
        when(l === 0.0, lit(Double.NaN))
          .when(l > 0.0, lit(Double.PositiveInfinity))
          .otherwise(lit(Double.NegativeInfinity)))
        .otherwise(l / r)
  }

  /** Recompute derived finalizer columns (Mean's mean/variance,
    * WeightedMean's wmean/wvariance) that the input histogram may carry
    * from fillMulti: after rewriting the underlying sums they'd otherwise
    * pass through stale. Only columns already present are refreshed. */
  private def refreshFinalizers(spec: HistSpec, d: DataFrame): DataFrame =
    spec.storage.finalizers.foldLeft(d) { case (acc, (n, c)) =>
      if (acc.columns.contains(n)) acc.withColumn(n, c) else acc
    }

  /** Binary op between two sparse histograms of the same spec.
    *
    * `commonSupportOnly = false` (default) is boost's semantics: the op
    * runs over the DENSE bin space, so a bin absent from one sparse side
    * is a zero bin — full-outer join with missing values coalesced to 0,
    * and Div yields IEEE ±Inf / NaN on zero divisors (the [[Div]] doc).
    *
    * `commonSupportOnly = true` restricts the result to bins present in
    * BOTH sparse inputs (inner join). This is a documented divergence
    * from boost (like `density=`): engines disagree on how to represent
    * x/0 (DuckDB errors or returns NULL where boost's dense array holds
    * ±Inf/NaN), so ratio exhibits that feed an engine-portable oracle use
    * this form. Note a bin PRESENT with value 0.0 still divides (IEEE),
    * only sparse absence is excluded. */
  def binOp(spec: HistSpec, left: DataFrame, right: DataFrame, op: Op,
      commonSupportOnly: Boolean = false): DataFrame = {
    val keys = spec.indexCols
    val vals = spec.storage.stateCols
    val l = vals.foldLeft(left)((d, c) => d.withColumnRenamed(c, s"__l_$c"))
    val r = vals.foldLeft(right)((d, c) => d.withColumnRenamed(c, s"__r_$c"))
    val joined =
      if (commonSupportOnly) l.join(r, keys)
      else l.join(r, keys, "full_outer")
    val out = vals.map { c =>
      op(coalesce(col(s"__l_$c"), lit(0.0)), coalesce(col(s"__r_$c"), lit(0.0))).as(c)
    }
    val merged = joined.select(keys.map(col) ++ out: _*)
    // moment storages: re-derive mean/variance views from the merged
    // sums (bh's `+` on Mean/Weight state merges accumulators the same
    // way — tests/test_core.py:207-305). Derived columns are only
    // meaningful where the state op is (Add, and Sub of sums); they are
    // recomputed, never passed through stale.
    spec.storage.finalizers.foldLeft(merged) { case (d, (n, c)) =>
      d.withColumn(n, c)
    }
  }

  /** Histogram ⊕ scalar (reference: scalar operands,
    * `tests/test_core.py:207-305`). Storage-aware: scaling a Weight
    * histogram scales Σw linearly but Σw² quadratically (bh semantics —
    * h*s means every weight was s× larger). */
  def scalarOp(spec: HistSpec, h: DataFrame, s: Double, op: Op,
      scalarOnLeft: Boolean = false): DataFrame = {
    val vals = spec.storage.stateCols
    val scaled = vals.foldLeft(h) { (d, c) =>
      val isVariance = spec.storage == WeightStorage && c == "variance" &&
        (op == Mul || op == Div)
      val operand = if (isVariance) lit(s * s) else lit(s)
      val e = if (scalarOnLeft) op(operand, col(c)) else op(col(c), operand)
      d.withColumn(c, e)
    }
    refreshFinalizers(spec, scaled)
  }

  /** Histogram ⊕ dense array (one value per bin index, 1-D): join against a
    * broadcast literal (binIdx, operand) table
    * (reference: array operands, `tests/test_core.py:250-305`). */
  def arrayOp(spec: HistSpec, h: DataFrame, arr: Seq[Double], op: Op): DataFrame = {
    require(spec.ndim == 1, "arrayOp supports 1-D histograms")
    val spark = h.sparkSession
    import spark.implicits._
    val lut = arr.zipWithIndex.map { case (v, i) => (i + 1L, v) }.toDF("i0", "__operand")
    val joined = h.join(lut, Seq("i0"), "left")
    val applied = spec.storage.stateCols.foldLeft(joined) { (d, c) =>
      d.withColumn(c, op(col(c), coalesce(col("__operand"), lit(0.0))))
    }.drop("__operand")
    refreshFinalizers(spec, applied)
  }

  /** Marginal projection: sum the histogram over all axes NOT in `keep`
    * (boost's `h.project(axes...)` on the computed result). Sum storages
    * (Double/Int64/Weight and the moment sums) marginalize exactly —
    * their states are sums; derived mean/variance columns are refreshed
    * from the merged sums. One groupBy over a bin-count-sized relation.
    *
    * Kept axes are RENUMBERED to i0..iK-1 in `keep` order (boost's
    * `h.project` renumbers the same way), so the result pairs with
    * `HistSpec(keep.map(spec.axes))` and composes with every 1-D view
    * (cumulative, arrayOp, binOp against a projected spec) — not just
    * keep = a prefix of the original axes. */
  def project(spec: HistSpec, h: DataFrame, keep: Seq[Int]): DataFrame = {
    require(keep.nonEmpty && keep == keep.sorted && keep.distinct == keep,
      s"keep must be sorted distinct non-empty axis indices, got $keep")
    require(keep.forall(i => i >= 0 && i < spec.ndim),
      s"axis index out of range in $keep (ndim ${spec.ndim})")
    val keys = keep.zipWithIndex.map { case (orig, k) =>
      col(s"i$orig").as(s"i$k")
    }
    val sums = spec.storage.stateCols.map(c => sum(col(c)).as(c))
    refreshFinalizers(spec,
      h.groupBy(keys: _*).agg(sums.head, sums.tail: _*))
  }

  /** Rebin one axis by an integer factor (boost's `h[::bh.rebin(k)]`):
    * interior bins merge k-at-a-time; under/overflow (0 and n+1) stay
    * their own bins. Requires k to divide the axis' interior bin count.
    * New interior index = (i-1) div k + 1. */
  def rebin(spec: HistSpec, h: DataFrame, axis: Int, k: Int): DataFrame = {
    require(k >= 1, s"rebin factor must be >= 1, got $k")
    require(axis >= 0 && axis < spec.ndim, s"axis $axis out of range")
    val n = spec.axes(axis).nBins
    require(n % k == 0, s"rebin factor $k must divide the $n interior bins")
    val ic = s"i$axis"
    val newIdx = when(col(ic) === 0, lit(0L))
      .when(col(ic) === (n + 1).toLong, lit((n / k + 1).toLong))
      .otherwise(expr(s"(`$ic` - 1) div $k") + lit(1L))
    val keys = spec.indexCols
    val sums = spec.storage.stateCols.map(c => sum(col(c)).as(c))
    refreshFinalizers(spec,
      h.withColumn(ic, newIdx)
        .groupBy(keys.map(col): _*).agg(sums.head, sums.tail: _*))
  }

  /** Slice one axis to interior bins [lo, hi) (1-based, hi exclusive,
    * boost's `h[a:b]` with default flow semantics): kept bins reindex to
    * 1..hi-lo, content below lo accumulates into the new underflow,
    * content at/above hi (including the old overflow) into the new
    * overflow. Bin-count-sized groupBy. */
  def slice(spec: HistSpec, h: DataFrame, axis: Int, lo: Int,
      hi: Int): DataFrame = {
    require(axis >= 0 && axis < spec.ndim, s"axis $axis out of range")
    val n = spec.axes(axis).nBins
    require(lo >= 1 && hi > lo && hi <= n + 1,
      s"slice range [$lo, $hi) out of interior bins [1, ${n + 1})")
    val ic = s"i$axis"
    val nNew = (hi - lo).toLong
    val newIdx = when(col(ic) < lo.toLong, lit(0L))
      .when(col(ic) >= hi.toLong, lit(nNew + 1L))
      .otherwise(col(ic) - lit((lo - 1).toLong))
    val sums = spec.storage.stateCols.map(c => sum(col(c)).as(c))
    refreshFinalizers(spec,
      h.withColumn(ic, newIdx)
        .groupBy(spec.indexCols.map(col): _*).agg(sums.head, sums.tail: _*))
  }

  /** Interpolated quantile estimates from a filled 1-D Regular- or
    * Variable-axis histogram (the classic histogram-quantile estimator:
    * linear interpolation within the bin containing the target rank —
    * what monitoring systems compute from latency histograms, whose
    * percentile-derived edges are exactly the Variable case). Input `h`
    * is the sparse fill result; flow bins are EXCLUDED from the rank
    * space (an underflow/overflow quantile is unknowable from a
    * histogram — callers wanting clamping should slice first).
    *
    * For target rank t = q·N, the bin i with cumBefore < t <= cumBefore
    * + count estimates: Regular axes keep the closed form
    * est = lo + (i−1)·w + w·(t − cumBefore)/count; Variable axes look
    * up the bin's own edges, est = blo(i) + width(i)·(t − cumBefore)
    * /count (a broadcast join against the edge table — bin-count-sized).
    * Requires 0 < q <= 1 and a count-like single-state storage (the rank
    * space is the `value` column; moment storages would silently rank on
    * Σw — finalize or project to counts first). Engine-portable:
    * identical op order in [[quantilesSql]] / [[quantilesVariableSql]],
    * exact integer counts, so both engines hand bit-identical doubles to
    * the 6-dp round (FIXTURES.md §6 class E, sans libm).
    *
    * A window + join over a BIN-COUNT-sized relation — never data. */
  def quantiles(spec: HistSpec, h: DataFrame, qs: Seq[Double]): DataFrame =
    quantilesBy(spec, h, qs, Nil)

  /** [[quantiles]] grouped by extra key columns — ONE rank space per
    * distinct key (the per-time-window p50/p99 monitoring estimator over
    * [[graft.streaming.StreamingHist.windowedFill]] output, or per-tenant
    * quantiles over a keyed fill). `part = Nil` is exactly [[quantiles]].
    * The cum-sum window partitions by the keys, so a long-running
    * windowed stream stays parallel across windows — each window task
    * sorts only its own ≤ bin-count rows. */
  def quantilesBy(spec: HistSpec, h: DataFrame, qs: Seq[Double],
      part: Seq[String]): DataFrame = {
    require(spec.ndim == 1, "quantiles supports 1-D histograms")
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"quantiles must be in (0, 1], got $qs")
    require(spec.storage.stateCols == Seq("value"),
      s"quantiles needs a count-like single-state storage (Double/Int64/" +
        s"Unlimited), got ${spec.storage} — its rank space would be the " +
        "wrong state column; project or finalize to counts first")
    val spark = h.sparkSession
    import spark.implicits._
    val pcols = part.map(col)
    val nb = spec.axes.head.nBins
    val interior = h.filter(col("i0") >= 1L && col("i0") <= nb.toLong)
      .select(pcols :+ col("i0") :+ col("value").cast("double").as("__c"): _*)
    val win = org.apache.spark.sql.expressions.Window.partitionBy(pcols: _*)
      .orderBy(col("i0"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val cum = interior
      .withColumn("__cb", coalesce(sum(col("__c")).over(win), lit(0.0)))
      .withColumn("__n", sum(col("__c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(pcols: _*)
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.unboundedFollowing)))
    val qdf = qs.toDF("q")
    val hit = cum.crossJoin(qdf)
      .withColumn("__t", col("q") * col("__n"))
      .filter(col("__t") > col("__cb") && col("__t") <= col("__cb") + col("__c"))
    def regularEst(lo: Double, hi: Double, n: Int) = {
      val w = (hi - lo) / n
      hit.select(pcols :+ col("q") :+
        round(lit(lo) + (col("i0") - 1L).cast("double") * lit(w) +
          lit(w) * (col("__t") - col("__cb")) / col("__c"), 6).as("est"): _*)
    }
    def edgeEst(ax: Axis) = {
      val ed = (1 to nb).map(i => (i.toLong, ax.binLo(i - 1), ax.binWidth(i - 1)))
        .toDF("i0", "__blo", "__bw")
      hit.join(ed, Seq("i0"))
        .select(pcols :+ col("q") :+
          round(col("__blo") +
            col("__bw") * (col("__t") - col("__cb")) / col("__c"), 6).as("est"): _*)
    }
    spec.axes.head match {
      case ax: Regular => regularEst(ax.lo, ax.hi, ax.n)
      // unit-width bins: exactly the Regular closed form with w = 1.0
      // (multiplying by 1.0 is an FP no-op, so the oracle can reuse
      // quantilesSql(Regular(nBins, lo, hi)) verbatim)
      case ax: IntegerAxis =>
        regularEst(ax.lo.toDouble, ax.hi.toDouble, ax.nBins)
      // nonuniform x-space widths: per-bin edge lookup (the latency-
      // histogram percentile estimator — log axes are its home turf)
      case ax if edgeQuantileEligible(ax) => edgeEst(ax)
      case other => throw new IllegalArgumentException(
        s"quantiles needs a Regular, Integer, Variable, Log, or Sqrt axis, got $other")
    }
  }

  /** Axis kinds whose quantiles go through the per-bin edge lookup — the
    * ONE eligibility check shared by the engine path ([[quantiles]]) and
    * the oracle emitter ([[quantilesEdgesSql]]), so neither side can
    * accept an axis the other rejects (e.g. RegularCircular, whose
    * wrap-around makes a rank-space quantile meaningless). */
  private def edgeQuantileEligible(ax: Axis): Boolean = ax match {
    case _: Variable | _: RegularLog | _: RegularSqrt => true
    case _ => false
  }

  /** DuckDB twin of [[quantiles]] over a histogram CTE named `h`
    * (columns i0, value) — same interior filter, same rank space, same
    * interpolation op order. String-formatted double literals round-trip
    * exactly through CAST(... AS DOUBLE). */
  def quantilesSql(ax: Regular, qs: Seq[Double]): String =
    quantilesSqlBy(ax, qs, Nil)

  /** [[quantilesSql]] with extra grouping keys — the SAME interpolation
    * formula, one rank space per distinct key (the oracle twin of
    * [[quantilesBy]]; e.g. `part = Seq("bucket_start")` for per-window
    * monitoring quantiles). */
  def quantilesSqlBy(ax: Regular, qs: Seq[Double], part: Seq[String]): String = {
    val w = (ax.hi - ax.lo) / ax.n
    val lo = s"CAST('${ax.lo}' AS DOUBLE)"
    val ws = s"CAST('$w' AS DOUBLE)"
    val vals = qs.map(q => s"(CAST('$q' AS DOUBLE))").mkString(", ")
    val pSel = part.map(p => s"$p, ").mkString
    val pBy = if (part.isEmpty) "" else s"PARTITION BY ${part.mkString(", ")} "
    s"""ih AS (SELECT $pSel i0, CAST(value AS DOUBLE) AS c FROM h
       |       WHERE i0 BETWEEN 1 AND ${ax.n}),
       |cum AS (
       |  SELECT $pSel i0, c,
       |    COALESCE(sum(c) OVER ($pBy ORDER BY i0
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
       |    sum(c) OVER ($pBy) AS n FROM ih),
       |qs(q) AS (VALUES $vals)
       |SELECT $pSel q, round($lo + (i0 - 1) * $ws + $ws * (q * n - cb) / c, 6) AS est
       |FROM cum JOIN qs ON q * n > cb AND q * n <= cb + c""".stripMargin
  }

  /** DuckDB twin of [[quantiles]] for any edge-lookup axis (Variable /
    * RegularLog / RegularSqrt) over a histogram CTE named `h` (columns
    * i0, value): same interior filter and rank space; the per-bin
    * (lower-edge, width) pairs are emitted as double literals computed
    * by the SAME driver-side arithmetic the engine broadcasts, so
    * interpolation op order stays bit-identical. */
  def quantilesVariableSql(ax: Variable, qs: Seq[Double]): String =
    quantilesEdgesSql(ax, qs)

  def quantilesEdgesSql(ax: Axis, qs: Seq[Double]): String = {
    import Axis.{sqlDouble => D}
    require(edgeQuantileEligible(ax),
      s"quantilesEdgesSql accepts exactly the axes the engine-side " +
        s"quantiles routes through the edge lookup (Variable/Log/Sqrt), got $ax")
    require(ax.edges.length == ax.nBins + 1,
      s"quantilesEdgesSql needs an edge-carrying numeric axis, got $ax")
    val nb = ax.nBins
    val edgeRows = (1 to nb).map(i =>
      s"($i, ${D(ax.binLo(i - 1))}, ${D(ax.binWidth(i - 1))})").mkString(", ")
    val vals = qs.map(q => s"(CAST('$q' AS DOUBLE))").mkString(", ")
    s"""ih AS (SELECT i0, CAST(value AS DOUBLE) AS c FROM h
       |       WHERE i0 BETWEEN 1 AND $nb),
       |cum AS (
       |  SELECT i0, c,
       |    COALESCE(sum(c) OVER (ORDER BY i0
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
       |    sum(c) OVER () AS n FROM ih),
       |ed(i0, blo, bw) AS (VALUES $edgeRows),
       |qs(q) AS (VALUES $vals)
       |SELECT q, round(blo + bw * (q * n - cb) / c, 6) AS est
       |FROM cum JOIN ed USING (i0) JOIN qs ON q * n > cb AND q * n <= cb + c""".stripMargin
  }

  /** Per-row percentile rank from a filled 1-D histogram: each row of
    * `df` gets `pct = (mass in strictly lower bins) / total` — the
    * binned CDF evaluated at the row's bin. The scale point: percentile
    * scoring/thresholding of a 100 TB corpus WITHOUT a global sort — the
    * CDF is a bin-count-sized relation derived from one fill aggregate,
    * and scoring is a narrow join on the bin index (broadcast-sized by
    * construction). Ties within a bin share a percentile (resolution =
    * bin width), the trade every binned rank makes.
    *
    * `df` must be the relation the histogram was filled from (every
    * row's bin exists in `h`); `v` is the same value expression. */
  def percentileRank(spec: HistSpec, h: DataFrame, df: DataFrame,
      v: Column): DataFrame = {
    require(spec.ndim == 1, "percentileRank supports 1-D histograms")
    require(h.columns.contains("value"),
      s"percentileRank needs a count-like 'value' column (storage " +
        s"${spec.storage} carries moment sums — project or finalize first)")
    val wb = org.apache.spark.sql.expressions.Window.orderBy(col("i0"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val wa = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val cdf = h.select(col("i0"),
      coalesce(sum(col("value")).over(wb), lit(0L)).as("__cb"),
      sum(col("value")).over(wa.orderBy(col("i0"))).as("__n"))
    df.withColumn("__i0", spec.axes.head.binCol(v))
      // without it (sf0.1): BroadcastHashJoin BuildLeft, the input rows broadcast
      .join(broadcast(cdf), col("__i0") === cdf("i0"))
      .drop("i0").drop("__i0")
      .withColumn("pct", col("__cb") / col("__n"))
      .drop("__cb", "__n")
  }

  /** Cumulative histogram along a 1-D axis (the CDF view): running sum of
    * `value` in bin-index order, flow included. A window over a
    * bin-count-sized relation — NOT over data. */
  def cumulative(spec: HistSpec, h: DataFrame): DataFrame = {
    require(spec.ndim == 1, "cumulative supports 1-D histograms")
    require(h.columns.contains("value"),
      s"cumulative needs a count-like 'value' column (storage ${spec.storage} " +
        "carries moment sums — project or finalize first)")
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("i0"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    h.select(col("i0"), sum(col("value")).over(w).as("cum_value"))
  }
}
