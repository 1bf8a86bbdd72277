package graft.hist

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType}

/** Axis vocabulary of the histogram schema.
  *
  * Mirrors the semantics of the reference's axis types (the reference
  * re-exports `boost_histogram.axis` at
  * `/root/reference/src/dask_histogram/__init__.py:3`; Regular/Variable are
  * constructed at `/root/reference/src/dask_histogram/routines.py:444-450`,
  * category growth axes exercised at
  * `/root/reference/tests/test_boost.py:115-154`).
  *
  * Numeric axes map a value column to a *bin index* column with flow bins:
  * index 0 = underflow, 1..n = in-range bins, n+1 = overflow. NaN and NULL
  * go to overflow (boost: NaN fills overflow). Bins are right-exclusive
  * [lo, hi) except that category axes group on the raw value (the sparse
  * relational representation makes growable category axes free — see
  * SURVEY.md §2.3 A11).
  *
  * Every bin-index expression is built from `org.apache.spark.sql.functions`
  * primitives only (no UDFs) so Catalyst keeps it inside whole-stage
  * codegen and the identical formula can be re-stated in ANSI SQL for the
  * DuckDB oracle.
  */
object Axis {
  /** A Double as a SQL literal that DuckDB parses back to the IDENTICAL
    * double. A bare decimal literal with >15 significant digits (e.g.
    * 90936.09000000001 — routine for computed/percentile edges and log
    * transforms) types as DECIMAL(w,s) in DuckDB, whose double conversion
    * divides an int64 mantissa by 10^s — once the mantissa exceeds 2^53
    * that rounds DIFFERENTLY than nearest-double string parsing, silently
    * shifting a bin edge by an ulp. An exponent suffix forces the DOUBLE
    * type and the correctly-rounded strtod path (Java's Double.toString
    * round-trip guarantee is for nearest-double parsing only). */
  def sqlDouble(d: Double): String = {
    // Double.toString renders non-finite values without an exponent, so the
    // suffix below would emit unparsable "InfinityE0"/"NaNE0" — fail loudly
    // here (the one choke point) instead of in DuckDB's parser
    require(java.lang.Double.isFinite(d),
      s"sqlDouble requires a finite value, got $d")
    val s = d.toString
    if (s.indexOf('E') >= 0 || s.indexOf('e') >= 0) s else s + "E0"
  }
}

sealed trait Axis extends Serializable {
  /** Number of in-range bins (flow bins excluded). */
  def nBins: Int

  /** Axis name ("" = unnamed) — carried metadata the reference surfaces as
    * `h.axes.name` (hist named-axis protocol, survives fill → compute:
    * `/root/reference/tests/test_boost.py:536-556`). Surfaced here via
    * [[HistSpec.axisNames]] / [[HistSpec.namedIndexCols]] /
    * [[HistResult]] name accessors. */
  def name: String

  /** Bin-key expression for a value column. Numeric axes return a LongType
    * index in [0, nBins+1]; category axes return the raw (typed) value.
    */
  def binCol(c: Column): Column

  /** Spark type of the bin-key column. */
  def keyType: DataType

  /** True when the bin key is the raw category value rather than an index. */
  def isCategorical: Boolean = false

  /** True when a NULL key means the value has no bin (a circular axis'
    * non-finite values): [[Hist]]'s fills drop the row. Growth category
    * axes keep NULL input as a NULL category and leave this false. */
  def nullKey: Boolean = false

  /** Bin edges (numeric axes), length nBins+1; flow edges are ±inf. */
  def edges: Array[Double] = Array.empty

  /** Lower edge of in-range bin i (0-based, numeric axes only). */
  def binLo(i: Int): Double = edges(i)
  def binHi(i: Int): Double = edges(i + 1)
  def binWidth(i: Int): Double = binHi(i) - binLo(i)
}

/** n uniform bins on [lo, hi); underflow 0, overflow n+1, NaN/NULL→overflow.
  * Reference: Regular construction at `routines.py:448-450`.
  *
  * `upperInclusive = true` switches the LAST bin to the closed interval
  * [lo_n, hi] — NumPy's `np.histogram` convention. boost-histogram is
  * right-exclusive everywhere (x == hi fills overflow), and the
  * reference's numpy-style returns keep boost's counts while documenting
  * the divergence (`/root/reference/src/dask_histogram/boost.py:413-416`:
  * "upper edge inclusive, unlike boost-histogram"); no engine can convert
  * after the fact, because the x == hi fills are already binned. Choosing
  * the convention at fill time is the only faithful implementation of
  * both semantics. */
final case class Regular(n: Int, lo: Double, hi: Double, name: String = "",
    upperInclusive: Boolean = false) extends Axis {
  require(n > 0, s"Regular axis needs n > 0, got $n")
  require(lo < hi, s"Regular axis needs lo < hi, got [$lo, $hi)")
  override def nBins: Int = n
  override def keyType: DataType = LongType
  override def binCol(c: Column): Column = {
    val d = c.cast(DoubleType)
    if (upperInclusive)
      // least(..., n): the multiply-floor arithmetic can round an
      // in-range d (lo < d < hi, within one ulp of hi) up to bin n+1 —
      // but this mode's contract (NumPy closed top edge) is that ONLY
      // d > hi overflows, so clamp in-range values into the last bin.
      // The right-exclusive branch deliberately does NOT clamp: boost's
      // regular axis uses the same arithmetic and sends those fills to
      // overflow, and matching boost is that branch's contract.
      when(d.isNull || isnan(d) || d > hi, lit(n + 1).cast(LongType))
        .when(d === hi, lit(n.toLong))
        .when(d < lo, lit(0L))
        .otherwise(least(
          floor((d - lit(lo)) * lit(n.toDouble) / lit(hi - lo)) + lit(1L),
          lit(n.toLong)))
    else
      when(d.isNull || isnan(d) || d >= hi, lit(n + 1).cast(LongType))
        .when(d < lo, lit(0L))
        .otherwise(floor((d - lit(lo)) * lit(n.toDouble) / lit(hi - lo)) + lit(1L))
  }
  override def edges: Array[Double] =
    Array.tabulate(n + 1)(i => lo + (hi - lo) * i / n)

  /** The identical bin-index formula as ANSI SQL (DuckDB-compatible), used
    * by query oracles. Keep in exact sync with [[binCol]]. */
  def sqlExpr(v: String): String = {
    import Axis.{sqlDouble => D}
    if (upperInclusive)
      s"(CASE WHEN $v IS NULL OR isnan($v) OR $v > ${D(hi)} THEN ${n + 1} " +
        s"WHEN $v = ${D(hi)} THEN $n " +
        s"WHEN $v < ${D(lo)} THEN 0 " +
        s"ELSE least(CAST(floor(($v - ${D(lo)}) * ${D(n.toDouble)} / ${D(hi - lo)}) AS BIGINT) + 1, $n) END)"
    else
      s"(CASE WHEN $v IS NULL OR isnan($v) OR $v >= ${D(hi)} THEN ${n + 1} " +
        s"WHEN $v < ${D(lo)} THEN 0 " +
        s"ELSE CAST(floor(($v - ${D(lo)}) * ${D(n.toDouble)} / ${D(hi - lo)}) AS BIGINT) + 1 END)"
  }
}

/** Explicit monotone edges, right-exclusive; underflow 0, overflow n+1.
  * Reference: Variable construction at `routines.py:444-447`.
  * `upperInclusive` closes the last bin at the final edge (NumPy
  * convention — see [[Regular]] for the divergence note). */
object Variable {
  /** Above this many edges [[Variable.binCol]] switches from the CASE
    * ladder to [[graft.functions.VariableBinIndex]] (binary search). */
  final val LadderMaxEdges = 64
}

final case class Variable(edgeSeq: Seq[Double], name: String = "",
    upperInclusive: Boolean = false) extends Axis {
  require(edgeSeq.size >= 2, "Variable axis needs >= 2 edges")
  require(edgeSeq.sliding(2).forall(p => p(0) < p(1)),
    "Variable axis edges must be strictly increasing")
  override def nBins: Int = edgeSeq.size - 1
  override def keyType: DataType = LongType
  override def edges: Array[Double] = edgeSeq.toArray
  override def binCol(c: Column): Column = {
    val d = c.cast(DoubleType)
    if (edgeSeq.size > Variable.LadderMaxEdges) {
      // Large axes (percentile-derived edges, 1k-10k bins): O(log edges)
      // binary search in a native expression holding the edge array — the
      // CASE ladder at this size is O(edges) per row and a literal tree
      // big enough that Catalyst analysis/codegen dominates (the measured
      // cliff SCALE.md documents). Identical semantics, incl. NULL →
      // overflow (the expression itself is null-propagating).
      coalesce(graft.functions.VariableBinIndex(d, edges, upperInclusive),
        lit((nBins + 1).toLong))
    } else {
      // CASE ladder: small edge counts dominate in practice; stays
      // codegen'd and mirrors the oracle's sqlExpr arm-for-arm.
      val inner = edgeSeq.init.zipWithIndex.foldRight(lit(nBins + 1).cast(LongType)) {
        case ((lo, i), rest) => when(d >= lo && d < edgeSeq(i + 1), lit(i + 1L)).otherwise(rest)
      }
      val last = edgeSeq.last
      if (upperInclusive)
        when(d.isNull || isnan(d) || d > last, lit(nBins + 1).cast(LongType))
          .when(d === last, lit(nBins.toLong))
          .when(d < edgeSeq.head, lit(0L))
          .otherwise(inner)
      else
        when(d.isNull || isnan(d) || d >= last, lit(nBins + 1).cast(LongType))
          .when(d < edgeSeq.head, lit(0L))
          .otherwise(inner)
    }
  }
  def sqlExpr(v: String): String = {
    import Axis.{sqlDouble => D}
    val ladder = edgeSeq.init.zipWithIndex
      .map { case (lo, i) => s"WHEN $v >= ${D(lo)} AND $v < ${D(edgeSeq(i + 1))} THEN ${i + 1}" }
      .mkString(" ")
    if (upperInclusive)
      s"(CASE WHEN $v IS NULL OR isnan($v) OR $v > ${D(edgeSeq.last)} THEN ${nBins + 1} " +
        s"WHEN $v = ${D(edgeSeq.last)} THEN $nBins " +
        s"WHEN $v < ${D(edgeSeq.head)} THEN 0 $ladder ELSE ${nBins + 1} END)"
    else
      s"(CASE WHEN $v IS NULL OR isnan($v) OR $v >= ${D(edgeSeq.last)} THEN ${nBins + 1} " +
        s"WHEN $v < ${D(edgeSeq.head)} THEN 0 $ladder ELSE ${nBins + 1} END)"
  }
}

/** Circular (wrap-around) uniform axis — boost `Regular(..., circular=True)`:
  * values wrap modulo the period; no flow bins (every finite value lands in
  * 1..n); NaN/NULL → NULL key (dropped from the sparse result, as boost's
  * circular axes have no overflow to receive them). */
final case class RegularCircular(n: Int, lo: Double, hi: Double, name: String = "")
    extends Axis {
  require(n > 0 && lo < hi)
  override def nBins: Int = n
  override def keyType: DataType = LongType
  override def nullKey: Boolean = true
  override def binCol(c: Column): Column = {
    val d = c.cast(DoubleType)
    // non-finite values have no position on a circle: NULL key (dropped),
    // like NaN — floor(±inf)→Long extremes would land in arbitrary bins
    when(d.isNull || isnan(d) || abs(d) === Double.PositiveInfinity,
      lit(null).cast(LongType))
      .otherwise(pmod(floor((d - lit(lo)) * lit(n.toDouble) / lit(hi - lo)),
        lit(n.toLong)) + lit(1L))
  }
  override def edges: Array[Double] =
    Array.tabulate(n + 1)(i => lo + (hi - lo) * i / n)
  def sqlExpr(v: String): String = {
    import Axis.{sqlDouble => D}
    s"(CASE WHEN $v IS NULL OR isnan($v) OR isinf($v) THEN NULL ELSE " +
      s"((CAST(floor(($v - ${D(lo)}) * ${D(n.toDouble)} / ${D(hi - lo)}) AS BIGINT) % $n + $n) % $n) + 1 END)"
  }
}

/** Log-transformed uniform axis — boost `Regular(..., transform=log)`:
  * n bins uniform in ln(x) over [lo, hi); x <= 0 joins underflow. */
final case class RegularLog(n: Int, lo: Double, hi: Double, name: String = "")
    extends Axis {
  require(n > 0 && 0 < lo && lo < hi)
  override def nBins: Int = n
  override def keyType: DataType = LongType
  private val (llo, lhi) = (math.log(lo), math.log(hi))
  override def binCol(c: Column): Column = {
    val d = c.cast(DoubleType)
    when(d.isNull || isnan(d) || d >= hi, lit(n + 1).cast(LongType))
      .when(d < lo, lit(0L))
      .otherwise(floor((log(d) - lit(llo)) * lit(n.toDouble) / lit(lhi - llo)) + lit(1L))
  }
  override def edges: Array[Double] =
    Array.tabulate(n + 1)(i => math.exp(llo + (lhi - llo) * i / n))
  def sqlExpr(v: String): String = {
    import Axis.{sqlDouble => D}
    // llo/lhi are transcendentals — 17-digit literals, exactly the regime
    // where DuckDB's DECIMAL literal path mis-rounds (Axis.sqlDouble)
    s"(CASE WHEN $v IS NULL OR isnan($v) OR $v >= ${D(hi)} THEN ${n + 1} " +
      s"WHEN $v < ${D(lo)} THEN 0 " +
      s"ELSE CAST(floor((ln($v) - ${D(llo)}) * ${D(n.toDouble)} / ${D(lhi - llo)}) AS BIGINT) + 1 END)"
  }
}

/** Sqrt-transform axis — boost `Regular(..., transform=sqrt)`: n bins
  * uniform in √x over [lo, hi), right-exclusive, NaN/NULL→overflow.
  * Unlike log/pow (libm functions whose last ulp can differ between
  * engines), IEEE-754 `sqrt` is CORRECTLY ROUNDED everywhere, so the
  * bin arithmetic is bit-identical across Spark and DuckDB with no
  * libm-twin caveat. Requires lo >= 0 (the transform's domain). */
final case class RegularSqrt(n: Int, lo: Double, hi: Double, name: String = "")
    extends Axis {
  require(n > 0 && 0 <= lo && lo < hi,
    s"RegularSqrt needs n > 0 and 0 <= lo < hi, got n=$n [$lo, $hi)")
  override def nBins: Int = n
  override def keyType: DataType = LongType
  private val (slo, shi) = (math.sqrt(lo), math.sqrt(hi))
  override def binCol(c: Column): Column = {
    val d = c.cast(DoubleType)
    when(d.isNull || isnan(d) || d >= hi, lit(n + 1).cast(LongType))
      .when(d < lo, lit(0L))
      .otherwise(floor((sqrt(d) - lit(slo)) * lit(n.toDouble) / lit(shi - slo)) + lit(1L))
  }
  override def edges: Array[Double] = Array.tabulate(n + 1) { i =>
    val s = slo + (shi - slo) * i / n
    s * s
  }
  def sqlExpr(v: String): String = {
    import Axis.{sqlDouble => D}
    s"(CASE WHEN $v IS NULL OR isnan($v) OR $v >= ${D(hi)} THEN ${n + 1} " +
      s"WHEN $v < ${D(lo)} THEN 0 " +
      s"ELSE CAST(floor((sqrt($v) - ${D(slo)}) * ${D(n.toDouble)} / ${D(shi - slo)}) AS BIGINT) + 1 END)"
  }
}

/** Unit-width integer bins covering [lo, hi) — boost `Integer(lo, hi)`. */
final case class IntegerAxis(lo: Long, hi: Long, name: String = "") extends Axis {
  require(lo < hi, s"Integer axis needs lo < hi, got [$lo, $hi)")
  override def nBins: Int = (hi - lo).toInt
  override def keyType: DataType = LongType
  override def binCol(c: Column): Column = {
    // compare/floor in double space: a bare cast-to-long would send NaN to
    // 0 (non-ANSI NaN→0L) and truncate negatives toward zero
    val d = c.cast(DoubleType)
    when(d.isNull || isnan(d) || d >= hi, lit(nBins + 1).cast(LongType))
      .when(d < lo, lit(0L))
      .otherwise(floor(d).cast(LongType) - lit(lo) + lit(1L))
  }
  override def edges: Array[Double] = Array.tabulate(nBins + 1)(i => (lo + i).toDouble)
  def sqlExpr(v: String): String =
    s"(CASE WHEN $v IS NULL OR isnan(CAST($v AS DOUBLE)) OR $v >= $hi THEN ${nBins + 1} " +
      s"WHEN $v < $lo THEN 0 " +
      s"ELSE CAST(floor(CAST($v AS DOUBLE)) AS BIGINT) - $lo + 1 END)"
}

/** Boolean axis: exactly 2 bins keyed 1/2 (boost `Boolean()`); NULL goes
  * to 0 (flow) rather than silently counting as false. */
final case class BooleanAxis(name: String = "") extends Axis {
  override def nBins: Int = 2
  override def keyType: DataType = LongType
  override def binCol(c: Column): Column =
    when(c.isNull, lit(0L)).when(c.cast("boolean"), lit(2L)).otherwise(lit(1L))
  def sqlExpr(v: String): String =
    s"(CASE WHEN $v IS NULL THEN 0 WHEN $v THEN 2 ELSE 1 END)"
}

/** String category axis. With growth=true the key is simply the raw value
  * (relational group-by IS a growable category axis — SURVEY.md §1.2);
  * with a fixed category list, unseen values map to the literal
  * "__overflow__" key so the overflow bin survives relationally. */
final case class StrCategory(categories: Seq[String] = Nil, growth: Boolean = true,
    name: String = "") extends Axis {
  override def nBins: Int = categories.size
  override def keyType: DataType = StringType
  override def isCategorical: Boolean = true
  override def binCol(c: Column): Column =
    if (growth) c.cast(StringType)
    else when(c.isInCollection(categories), c.cast(StringType))
      .otherwise(lit(StrCategory.OverflowKey))
}
object StrCategory { val OverflowKey = "__overflow__" }

/** Integer category axis; growth semantics as [[StrCategory]]; fixed-list
  * overflow maps to Long.MinValue. */
final case class IntCategory(categories: Seq[Long] = Nil, growth: Boolean = true,
    name: String = "") extends Axis {
  override def nBins: Int = categories.size
  override def keyType: DataType = LongType
  override def isCategorical: Boolean = true
  override def binCol(c: Column): Column =
    if (growth) c.cast(LongType)
    else when(c.isInCollection(categories), c.cast(LongType))
      .otherwise(lit(Long.MinValue))
}
