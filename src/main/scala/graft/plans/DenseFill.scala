package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, UnknownPartitioning}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{BlockingOperatorWithCodegen, CodegenSupport,
  SparkPlan, SparkStrategy, UnaryExecNode, UnionExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Dense histogram fill as a plan node: ONE `double[totalBins]` buffer per
  * input partition, filled by `buf[(int) idx] += weight` for every row, and
  * emitted as one `array<double>` row when the partition is exhausted.
  *
  * This is the per-partition `bh.Histogram.fill` of the reference
  * (`core.py:63-140`) as an operator: [[DenseFillExec]] runs the fill loop
  * inside the whole-stage-codegen stage of the projection that computes
  * the flat bin index, so no row leaves the generated loop, no group key
  * is hashed and no value is boxed. A partition's buffer is the only
  * thing it emits; [[graft.functions.DenseMergeAgg]] levels merge those
  * P buffers ([[graft.hist.Hist.fillDense]]).
  *
  * Rows whose `idx` is null or outside `[0, totalBins)` and rows whose
  * `weight` is null are skipped; a NaN weight is added. Every partition,
  * an empty one too, emits exactly one row.
  */
case class DenseFill(idx: Expression, weight: Expression, totalBins: Int,
    buffer: Attribute, child: LogicalPlan) extends UnaryNode {
  require(totalBins > 0 && totalBins <= DenseFill.MaxBins,
    s"totalBins out of range: $totalBins")
  override def output: Seq[Attribute] = buffer :: Nil
  override def producedAttributes: AttributeSet = AttributeSet(buffer)
  override protected def withNewChildInternal(c: LogicalPlan): DenseFill = copy(child = c)
}

object DenseFill {
  /** 2^26 bins: a 512 MiB buffer of doubles per task. */
  final val MaxBins: Int = 1 << 26

  /** The dense fill of `rows`, whose first column is the flat bin index
    * (bigint) and whose second is the weight (double): one row per input
    * partition, one column `__h` (`array<double>`, `totalBins` long).
    * Installs [[DenseFillStrategy]] on the session. */
  def apply(rows: DataFrame, totalBins: Int): DataFrame = {
    val spark = rows.sparkSession
    DenseFillStrategy.setup(spark)
    val child = rows.queryExecution.analyzed
    val Seq(idx, weight) = child.output
    val buffer = AttributeReference("__h",
      ArrayType(DoubleType, containsNull = false), nullable = false)()
    GraftShims.ofRows(spark, DenseFill(idx, weight, totalBins, buffer, child))
  }

  /** The number of partitions `df` will have, read from its physical plan
    * without running it. Under adaptive execution this is the initial
    * plan's count: runtime coalescing can only lower it. A leaf without a
    * known partitioning (a file, local or RDD scan) builds its RDD, which
    * lists splits but runs no job; a union adds its children's counts. */
  def plannedPartitions(df: DataFrame): Int = {
    def count(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => count(a.initialPlan)
      case u: UnionExec if u.outputPartitioning.numPartitions == 0 =>
        u.children.map(count).sum
      case _ if p.outputPartitioning.numPartitions > 0 => p.outputPartitioning.numPartitions
      case _ if p.children.isEmpty => p.execute().getNumPartitions
      case _ => p.children.map(count).max
    }
    count(df.queryExecution.executedPlan)
  }
}

/** Plans [[DenseFill]] as [[DenseFillExec]]. */
object DenseFillStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case DenseFill(idx, weight, totalBins, buffer, child) =>
      DenseFillExec(idx, weight, totalBins, buffer, planLater(child)) :: Nil
    case _ => Nil
  }

  /** Adds this strategy to `spark`'s planner once. */
  def setup(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(this))
      spark.experimental.extraStrategies = this +: spark.experimental.extraStrategies
}

/** Physical [[DenseFill]]. Under whole-stage codegen the fill is the
  * consumer of its child's generated loop (`doConsume`), and the buffer
  * row is produced once the child's `produce` loop has drained the
  * partition (`doProduce`), as an aggregate without grouping keys does.
  * `doExecute` is the same loop over the child's rows, for plans that run
  * without whole-stage codegen. */
case class DenseFillExec(idx: Expression, weight: Expression, totalBins: Int,
    buffer: Attribute, child: SparkPlan) extends UnaryExecNode with BlockingOperatorWithCodegen {

  override def output: Seq[Attribute] = buffer :: Nil
  override def producedAttributes: AttributeSet = AttributeSet(buffer)
  // one row per input partition, with none of the child's columns
  override def outputPartitioning: Partitioning =
    UnknownPartitioning(child.outputPartitioning.numPartitions)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val boundIdx = BindReferences.bindReference(idx, child.output)
    val boundWeight = BindReferences.bindReference(weight, child.output)
    val n = totalBins
    child.execute().mapPartitions { rows =>
      val buf = new Array[Double](n)
      rows.foreach { row =>
        val i = boundIdx.eval(row)
        if (i != null) {
          val bin = i.asInstanceOf[Long]
          if (bin >= 0 && bin < n) {
            val w = boundWeight.eval(row)
            if (w != null) buf(bin.toInt) += w.asInstanceOf[Double]
          }
        }
      }
      numOutputRows += 1
      val out = UnsafeProjection.create(Array(buffer.dataType))
      Iterator.single(out(InternalRow(UnsafeArrayData.fromPrimitiveArray(buf))))
    }
  }

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    child.asInstanceOf[CodegenSupport].inputRDDs()

  // the buffer's field name, shared by doProduce and doConsume
  private var bufTerm: String = _

  override protected def doProduce(ctx: CodegenContext): String = {
    val filled = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "denseFilled")
    bufTerm = ctx.addMutableState("double[]", "denseBuf", forceInline = true)
    val fillFn = ctx.freshName("denseFill")
    val fillFnName = ctx.addNewFunction(fillFn,
      s"""
         |private void $fillFn() throws java.io.IOException {
         |  ${child.asInstanceOf[CodegenSupport].produce(ctx, this)}
         |}
       """.stripMargin)
    val numOutput = metricTerm(ctx, "numOutputRows")
    val result = ctx.freshName("denseResult")
    val resultVar = ExprCode(FalseLiteral, JavaCode.variable(result, buffer.dataType))
    s"""
       |while (!$filled) {
       |  $filled = true;
       |  $bufTerm = new double[$totalBins];
       |  $fillFnName();
       |  ${classOf[ArrayData].getName} $result =
       |    ${classOf[UnsafeArrayData].getName}.fromPrimitiveArray($bufTerm);
       |  $bufTerm = null;
       |  $numOutput.add(1);
       |  ${consume(ctx, Seq(resultVar)).trim}
       |}
     """.stripMargin
  }

  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode], row: ExprCode): String = {
    ctx.currentVars = input
    val i = BindReferences.bindReference(idx, child.output).genCode(ctx)
    val w = BindReferences.bindReference(weight, child.output).genCode(ctx)
    val bin = ctx.freshName("bin")
    s"""
       |${i.code}
       |if (!${i.isNull}) {
       |  long $bin = ${i.value};
       |  if ($bin >= 0L && $bin < ${totalBins}L) {
       |    ${w.code}
       |    if (!${w.isNull}) $bufTerm[(int) $bin] += ${w.value};
       |  }
       |}
     """.stripMargin
  }

  override protected def withNewChildInternal(c: SparkPlan): DenseFillExec = copy(child = c)
}
