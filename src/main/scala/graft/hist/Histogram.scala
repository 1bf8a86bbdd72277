package graft.hist

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The boost-like staged-fill facade (reference
  * `/root/reference/src/dask_histogram/boost.py:43-443`): construct with
  * axes + storage, stage any number of fills, materialize lazily.
  *
  * Differences from a plain [[Hist.fillMulti]] call, mirroring the
  * reference's builder semantics:
  *  - an *unfilled* histogram is computable and yields the empty histogram
  *    (`tests/test_boost.py:13-26`);
  *  - each `fill` returns the builder (chainable) and invalidates any
  *    previously materialized result (`boost.py:295-312`);
  *  - `+` between two *staged* (lazy) histograms throws, matching the
  *    reference's deliberate refusal ("sum after computation",
  *    `boost.py:112-121`); add materialized results via [[HistAlgebra]].
  */
final class Histogram(val spec: HistSpec) extends Serializable {

  private var staged: Vector[FillSpec] = Vector.empty

  def this(axes: Axis*) = this(HistSpec(axes))

  def stagedFills: Seq[FillSpec] = staged

  /** Stage a fill; weight/sample optional; scalar category coordinates can
    * be passed as `lit(...)` columns. */
  def fill(df: DataFrame, cols: Seq[Column], weight: Option[Column] = None,
      sample: Option[Column] = None): this.type = {
    staged = staged :+ FillSpec(df, cols, weight, sample)
    this
  }

  /** Materialize: all staged fills fused into one pass
    * ([[Hist.fillMulti]], one shuffle of histograms — the reference fuses
    * K fills per partition task, `core.py:978-1005`). On the dense engine
    * fills over filters of one DataFrame scan it once. */
  def result(spark: SparkSession): DataFrame =
    if (staged.isEmpty) spec.empty(spark)
    else Hist.fillMulti(spec, staged)

  /** Lazy add is forbidden, as in the reference (`boost.py:112-121`). */
  def +(other: Histogram): Histogram =
    throw new UnsupportedOperationException(
      "dask-histogram forbids adding lazy histograms; materialize with " +
        "result() and combine via HistAlgebra.binOp (reference boost.py:112-121)")

  override def toString: String =
    s"Histogram(${spec.axes.mkString(", ")}, storage=${spec.storage}, " +
      s"staged_fills=${staged.size})"
}
