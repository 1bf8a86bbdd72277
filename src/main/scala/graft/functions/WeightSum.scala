package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Σⱼ weights(jsᵢ) over a sparse active-index array, as a native
  * codegen'd expression holding the weight vector — the margin kernel of
  * [[graft.ops.TrainOps]].
  *
  * The dense formulation (`aggregate(zip_with(xs, lit(w), _*_), 0, _+_)`)
  * walks dim+1 slots per row through two interpreted higher-order
  * functions (ZipWith/ArrayAggregate are CodegenFallback — no whole-stage
  * codegen), allocating an intermediate dim+1 array per row per round.
  * Here the weights live in the expression object (one
  * broadcast-serialized long[], zero plan nodes — the [[VariableBinIndex]]
  * discipline) and each row costs one codegen'd loop over its ACTIVE
  * indices only. Values are identical: x ∈ {0, 1000} presence features
  * make the dense fold Σ x·w = 1000·Σ_{j active} w(j) by integer
  * distributivity, exactly — callers multiply the 1000 back outside.
  *
  * Out-of-range indices fail loudly (ArrayIndexOutOfBounds) rather than
  * silently scoring a truncated model — the feature builder and the
  * weight vector share `dim`, so a mismatch is a caller bug. Arrays
  * typed `containsNull = true` are accepted (every parquet or JSON round
  * trip of a feature column produces that type); an actual null element
  * fails the row loudly instead of scoring as index 0.
  */
case class WeightSum(child: Expression, weights: Array[Long])
    extends UnaryExpression {

  require(weights.nonEmpty, "WeightSum needs a nonempty weight vector")

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  // fail at ANALYSIS on a non-int element type: ArrayData.getInt over,
  // say, array<bigint> would silently read garbage indices — the
  // fail-loudly convention documented above, enforced where Catalyst
  // reports it
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"WeightSum needs array<int> active indices, got ${other.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    WeightSum.sum(weights, input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("weights", weights, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WeightSum.sum($wRef, $c);")
  }

  override protected def withNewChildInternal(c: Expression): WeightSum =
    copy(child = c)
}

object WeightSum {
  /** Shared by interpreted eval, codegen, and tests. */
  def sum(weights: Array[Long], js: ArrayData): Long = {
    var acc = 0L
    var i = 0
    val n = js.numElements()
    while (i < n) {
      if (js.isNullAt(i)) throw new IllegalArgumentException(
        s"WeightSum: null active index at position $i")
      acc += weights(js.getInt(i))
      i += 1
    }
    acc
  }

  /** Snapshot semantics: clone the weights at Column construction, like
    * the `typedlit` form this replaced — a caller mutating its array
    * after building a lazy plan must not silently rescore with newer
    * weights. */
  def apply(js: Column, weights: Array[Long]): Column =
    GraftShims.toColumn(WeightSum(GraftShims.toExpression(js), weights.clone()))
}
