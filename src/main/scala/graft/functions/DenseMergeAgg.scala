package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Elementwise vector-add aggregate over fixed-length array<double> rows —
  * the intermediate level of a bounded-fan-in dense-histogram reduction
  * tree ([[graft.hist.Hist.fillDense]]).
  *
  * [[graft.plans.DenseFill]] turns rows into per-partition dense buffers;
  * this aggregate merges ALREADY-BUILT buffers, so stacking `groupBy(bucket)`
  * levels of it reproduces the reference's `split_every` tree
  * (`/root/reference/src/dask_histogram/core.py:856-885`) with each task
  * merging at most fan-in buffers — no single final reducer ever sees all
  * P partials.
  */
case class DenseMergeAgg(arr: Expression, totalBins: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Double]] with ExpectsInputTypes {

  // analysis-time rejection: an array<bigint> input would otherwise
  // reinterpret long bits as doubles executor-side with no error
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType, containsNull = false))

  require(totalBins > 0 && totalBins <= (1 << 26),
    s"totalBins out of range: $totalBins")

  override def children: Seq[Expression] = Seq(arr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def createAggregationBuffer(): Array[Double] = new Array[Double](totalBins)

  override def update(buf: Array[Double], input: InternalRow): Array[Double] = {
    val a = arr.eval(input)
    if (a != null) {
      val ad = a.asInstanceOf[ArrayData]
      require(ad.numElements() == totalBins,
        s"buffer length ${ad.numElements()} != totalBins $totalBins")
      var i = 0
      while (i < totalBins) { buf(i) += ad.getDouble(i); i += 1 }
    }
    buf
  }

  override def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Double]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Double]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    bb.asDoubleBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val out = new Array[Double](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asDoubleBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(o: Int): DenseMergeAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): DenseMergeAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): DenseMergeAgg =
    copy(arr = c(0))
}

object DenseMergeAgg {
  /** Aggregate Column: elementwise sum of `arr` buffers of length `totalBins`. */
  def apply(arr: Column, totalBins: Int): Column = {
    val agg = DenseMergeAgg(GraftShims.toExpression(arr), totalBins)
    GraftShims.toColumn(agg.toAggregateExpression())
  }
}
