package graft.hist

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** One per-bin accumulator: over the rows that reach a bin, the sum of
  * w^wPow · d^sPow with d = s − [[Storage.shift]], or (`count`) the
  * number of rows where that product is not null. */
final case class Acc(name: String, wPow: Int, sPow: Int, count: Boolean = false)

/** Per-bin accumulator vocabulary.
  *
  * Mirrors the reference's storage selection semantics (the (weights,
  * sample) → storage mapping visible in its `tests/test_core.py:15-24`).
  * A storage is a list of [[Acc]]s, read two ways from the one
  * definition: as SQL aggregates ([[aggs]], the sparse hash-aggregate
  * fill) and as the slots of a dense per-partition buffer ([[Hist]]'s
  * compiled fill, `graft.plans.DenseFill`),
  * the reference's per-partition fill + tree reduce
  * (`/root/reference/src/dask_histogram/core.py:856-885`).
  *
  * All states are sums (count / Σw / Σw² / Σs / Σs² / Σws / Σws²) — exactly
  * associative, so the result is independent of partitioning; derived
  * quantities (mean, variance) are computed in [[finalizers]] from the sums.
  */
sealed trait Storage extends Serializable {
  /** The accumulators, in state-column order. */
  def accs: Seq[Acc]
  /** The constant subtracted from the sample before it is accumulated. */
  def shift: Double = 0.0
  /** Column names produced by [[aggs]], in order. */
  final def stateCols: Seq[String] = accs.map(_.name)
  /** `acc`'s per-row product over weight column `w` and sample column `s`. */
  final def term(acc: Acc, w: Column, s: Column): Column = {
    val d = if (shift == 0.0) s else s - lit(shift)
    (Seq.fill(acc.wPow)(w) ++ Seq.fill(acc.sPow)(d)).reduceOption(_ * _).getOrElse(lit(1))
  }
  /** Aggregate expressions over weight column `w` and sample column `s`. */
  final def aggs(w: Column, s: Column): Seq[Column] = accs.map { a =>
    val t = term(a, w, s)
    (if (a.count) count(t) else sum(t)).as(a.name)
  }
  /** Derived (name, expr) columns appended after aggregation. */
  def finalizers: Seq[(String, Column)] = Nil
  /** True when this storage consumes the sample column. */
  final def usesSample: Boolean = accs.exists(_.sPow > 0)
}

/** f64 count (Σw, weight defaults to 1.0) — the reference default
  * (`core.py:1338-1339`). */
case object DoubleStorage extends Storage {
  override def accs: Seq[Acc] = Seq(Acc("value", 1, 0))
}

/** i64 count (+1 per fill). */
case object Int64Storage extends Storage {
  override def accs: Seq[Acc] = Seq(Acc("value", 0, 0, count = true))
}

/** AtomicInt64: same associative count semantics as Int64 (atomicity is a
  * shared-memory concern the shuffle-based merge never has). */
case object AtomicInt64Storage extends Storage {
  override def accs: Seq[Acc] = Int64Storage.accs
}

/** Unlimited: boost's auto-promoting int→double storage — Spark doubles
  * throughout, i.e. the already-promoted form (documented divergence:
  * no int phase). */
case object UnlimitedStorage extends Storage {
  override def accs: Seq[Acc] = DoubleStorage.accs
}

/** (value, variance) = (Σw, Σw²). */
case object WeightStorage extends Storage {
  override def accs: Seq[Acc] = Seq(Acc("value", 1, 0), Acc("variance", 2, 0))
}

/** Mean storage: per-bin count and mean of `sample`. State kept as
  * associative sums (n, Σs, Σs²); mean derived. boost keeps a Welford
  * triple — numerically different merge, same result to float tolerance
  * (the reference's own bar: `assert_allclose`, `tests/test_core.py:44`). */
case object MeanStorage extends Storage {
  override def accs: Seq[Acc] =
    Seq(Acc("n", 0, 1, count = true), Acc("sum_s", 0, 1), Acc("sum_s2", 0, 2))
  override def finalizers: Seq[(String, Column)] = Seq(
    "mean" -> col("sum_s") / col("n"),
    // sample variance from associative sums (equals Welford in exact
    // arithmetic; matches bh to float tolerance); null for n < 2
    "variance" -> when(col("n") > 1,
      (col("sum_s2") - col("sum_s") * col("sum_s") / col("n")) / (col("n") - 1)))
}

/** Numerically stable Mean storage: shifted associative sums
  * (n, Σd, Σd²) with d = s − shift.
  *
  * The plain [[MeanStorage]] keeps raw (Σs, Σs²); its variance
  * Σs² − (Σs)²/n cancels catastrophically when |mean| ≫ std — with
  * mean/std = 10³ the subtraction wipes ~6 of double's 16 digits, and at
  * 10⁸ the result is pure noise (can even go negative). boost-histogram
  * avoids this with Welford accumulator state; the Spark-native
  * re-expression keeps PLAIN SUMS — so the state stays exactly
  * associative, mergeable by addition in histogram algebra, and
  * portable to any SQL engine for oracle checks — but shifts the sample
  * by a caller-chosen constant first. Variance is shift-invariant, so any
  * shift within ~1 std of the data's location removes the cancellation
  * entirely; even a crude guess (0 decimal digits of the mean) recovers
  * most digits.
  *
  * When to use which: [[MeanStorage]] for samples whose magnitude is
  * O(std) (ratios, small physical quantities — zero is already a good
  * shift); ShiftedMean with shift ≈ typical sample value for
  * price/timestamp-magnitude samples. */
final case class ShiftedMeanStorage(override val shift: Double) extends Storage {
  require(java.lang.Double.isFinite(shift), s"shift must be finite, got $shift")
  override def accs: Seq[Acc] =
    Seq(Acc("n", 0, 1, count = true), Acc("sum_d", 0, 1), Acc("sum_d2", 0, 2))
  override def finalizers: Seq[(String, Column)] = Seq(
    "mean" -> (lit(shift) + col("sum_d") / col("n")),
    // identical algebra to MeanStorage but on shifted sums — the
    // subtraction now cancels O(std²) against O(std²), not O(mean²)
    "variance" -> when(col("n") > 1,
      (col("sum_d2") - col("sum_d") * col("sum_d") / col("n")) / (col("n") - 1)))
}

/** Numerically stable WeightedMean storage: shifted weighted sums
  * (Σw, Σw², Σwd, Σwd²), d = s − shift. Same rationale and trade-offs as
  * [[ShiftedMeanStorage]]; weighted variance is shift-invariant too. */
final case class ShiftedWeightedMeanStorage(override val shift: Double) extends Storage {
  require(java.lang.Double.isFinite(shift), s"shift must be finite, got $shift")
  override def accs: Seq[Acc] = Seq(Acc("sum_w", 1, 0), Acc("sum_w2", 2, 0),
    Acc("sum_wd", 1, 1), Acc("sum_wd2", 1, 2))
  override def finalizers: Seq[(String, Column)] = Seq(
    // null where Σw = 0 (ANSI division raises on a zero divisor)
    "wmean" -> when(col("sum_w") =!= 0, lit(shift) + col("sum_wd") / col("sum_w")),
    "wvariance" -> when(col("sum_w") * col("sum_w") > col("sum_w2"),
      (col("sum_wd2") - col("sum_wd") * col("sum_wd") / col("sum_w")) /
        (col("sum_w") - col("sum_w2") / col("sum_w"))))
}

/** WeightedMean storage: (Σw, Σw², Σws, Σws²); weighted mean derived. */
case object WeightedMeanStorage extends Storage {
  override def accs: Seq[Acc] = Seq(Acc("sum_w", 1, 0), Acc("sum_w2", 2, 0),
    Acc("sum_ws", 1, 1), Acc("sum_ws2", 1, 2))
  override def finalizers: Seq[(String, Column)] = Seq(
    // null where Σw = 0 (ANSI division raises on a zero divisor)
    "wmean" -> when(col("sum_w") =!= 0, col("sum_ws") / col("sum_w")),
    // frequency-weight unbiased variance (bh WeightedMean semantics):
    // (Σws² − (Σws)²/Σw) / (Σw − Σw²/Σw); null when denominator <= 0
    "wvariance" -> when(col("sum_w") * col("sum_w") > col("sum_w2"),
      (col("sum_ws2") - col("sum_ws") * col("sum_ws") / col("sum_w")) /
        (col("sum_w") - col("sum_w2") / col("sum_w"))))
}
