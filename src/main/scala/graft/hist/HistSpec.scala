package graft.hist

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The histogram schema: axes + storage (+ metadata) — the Spark-side
  * `histref` (reference carries it as a `bh.Histogram` instance or a
  * picklable 3-tuple, `/root/reference/src/dask_histogram/boost.py:104-110`).
  * Fixed at construction except category growth, which the sparse
  * representation absorbs for free.
  */
final case class HistSpec(axes: Seq[Axis], storage: Storage = DoubleStorage,
    metadata: Map[String, String] = Map.empty) {
  require(axes.nonEmpty, "HistSpec needs at least one axis")

  def ndim: Int = axes.size
  def indexCols: Seq[String] = axes.indices.map(i => s"i$i")

  /** Per-axis names as constructed ("" = unnamed) — the reference's
    * `h.axes.name` tuple (`tests/test_boost.py:536-556`). */
  def axisNames: Seq[String] = axes.map(_.name)

  /** Positional index of the axis named `name`. */
  def axisIndex(name: String): Int = {
    require(name.nonEmpty, "axis name must be non-empty")
    val i = axisNames.indexOf(name)
    require(i >= 0, s"no axis named '$name' (names: $axisNames)")
    i
  }

  /** Index-column names with axis names applied: a named axis contributes
    * its name, an unnamed one keeps the positional `i{d}`. Names must not
    * collide with each other, the positional columns, or state columns. */
  def namedIndexCols: Seq[String] = {
    val out = axes.zipWithIndex.map { case (a, i) =>
      if (a.name.nonEmpty) a.name else s"i$i"
    }
    require(out.distinct.size == out.size,
      s"axis names collide: $out")
    require(out.intersect(storage.stateCols).isEmpty,
      s"axis names collide with state columns: ${out.intersect(storage.stateCols)}")
    // a name equal to ANOTHER position's `i{q}` would make the sequential
    // withColumnRenamed fold mislabel that axis (rename i0 -> "i1" then
    // "i1" -> name hits both columns)
    axes.zipWithIndex.foreach { case (a, i) =>
      require(a.name.isEmpty || !indexCols.contains(a.name) || a.name == s"i$i",
        s"axis $i name '${a.name}' collides with another axis' positional column")
    }
    out
  }

  /** Rename a sparse histogram's positional index columns (i0..iD) to the
    * axis names — the relational surface of the named-axis protocol. */
  def withNamedColumns(h: DataFrame): DataFrame =
    indexCols.zip(namedIndexCols).foldLeft(h) { case (d, (from, to)) =>
      if (from == to) d else d.withColumnRenamed(from, to)
    }

  /** Empty histogram (computable like the reference's unfilled hist,
    * `tests/test_boost.py:13-26`): a fill of no rows, so its columns,
    * types and derived columns are the fill's by construction. */
  def empty(spark: SparkSession): DataFrame =
    Hist.fill(this, spark.emptyDataFrame, axes.map(a => lit(null).cast(a.keyType)),
      sample = Some(lit(null).cast(DoubleType)))

  /** Total in-range dense bin count (numeric axes). */
  def denseBinCount(flow: Boolean): Long =
    axes.map(a => (a.nBins + (if (flow) 2 else 0)).toLong).product
}
