package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod, spark_partition_id}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Statistics,
  UnaryNode}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{BlockingOperatorWithCodegen, CodegenSupport,
  SparkPlan, SparkStrategy, UnaryExecNode, UnionExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructType}

/** Dense histogram fill as a plan node: ONE `double[bins * slots]` buffer
  * per input partition, filled row by row and emitted as one
  * `array<double>` row when the partition is exhausted.
  *
  * This is the per-partition `bh.Histogram.fill` of the reference
  * (`core.py:63-140`) as an operator, with its staged fills fused into one
  * task per partition (`core.py:409-434`, `:978-1005`): [[DenseFillExec]]
  * runs every branch inside the whole-stage-codegen stage of the shared
  * input, so no row leaves the generated loop, no group key is hashed and
  * no value is boxed. A partition's buffer is the only thing it emits;
  * [[DenseMerge]] levels merge those P buffers, at most `split_every` per
  * task, and [[DenseBins]] turns the merged one into rows
  * ([[graft.hist.Hist]]).
  *
  * Each branch is `cond +: idx +: values`, all over the child's output:
  * a row counts in the branch when `cond` is true, lands in bin `idx`
  * (a bigint flat index; null or outside `[0, bins)` skips the row), and
  * adds to slot `k` of that bin `values(k)` (a double), or 1 when
  * `counts(k)`; a null value leaves its slot unchanged. Slot `k` of bin
  * `b` is `buf[b * slots + k]`. Branch expressions are deterministic.
  * Every partition, an empty one too, emits exactly one row.
  */
case class DenseFill(branches: Seq[Seq[Expression]], counts: Seq[Boolean], bins: Int,
    buffer: Attribute, child: LogicalPlan) extends UnaryNode {
  require(bins > 0 && bins.toLong * counts.size <= DenseFill.MaxBins,
    s"dense buffer out of range: $bins bins x ${counts.size} slots")
  require(branches.nonEmpty && branches.forall(_.size == counts.size + 2),
    "each branch is a condition, an index and one value per slot")
  override def output: Seq[Attribute] = buffer :: Nil
  override def producedAttributes: AttributeSet = AttributeSet(buffer)
  override protected def withNewChildInternal(c: LogicalPlan): DenseFill = copy(child = c)
}

object DenseFill {
  /** 2^26 doubles: a 512 MiB buffer per task. */
  final val MaxBins: Int = 1 << 26

  /** The type of a dense buffer column. */
  final val BufferType: DataType = ArrayType(DoubleType, containsNull = false)

  /** `buf` as a partition's one buffer row, counted in `rows`. */
  def emit(buf: Array[Double], rows: SQLMetric): Iterator[InternalRow] = {
    rows += 1
    Iterator.single(UnsafeProjection.create(Array(BufferType))(
      InternalRow(UnsafeArrayData.fromPrimitiveArray(buf))))
  }

  /** One fill over `input`: its condition, flat bin index and slot values,
    * as in a [[DenseFill]] branch. */
  final case class Branch(input: LogicalPlan, exprs: Seq[Expression])

  /** `df`'s rows as a [[Branch]]: `df.select(idx +: values)`, analyzed,
    * with the deterministic `Filter`s directly under that projection
    * peeled off into the branch's condition. So fills over filters of one
    * DataFrame get one input, which [[shared]] then scans once. A
    * subquery stays in its own operator, where the planner rewrites it. */
  def branch(df: DataFrame, idx: Column, values: Seq[Column]): Branch = {
    def plain(e: Expression) = e.deterministic && !SubqueryExpression.hasSubquery(e)
    val cols = (idx +: values).zipWithIndex.map { case (c, i) => c.as(s"__d$i") }
    df.select(cols: _*).queryExecution.analyzed match {
      case Project(list, child) if list.forall(plain) =>
        // innermost filter first: an outer condition is evaluated only on
        // the rows an inner one keeps, as the stacked filters would
        def peel(p: LogicalPlan, outer: List[Expression]): Branch = p match {
          case Filter(c, in) if plain(c) => peel(in, c :: outer)
          case in =>
            val cond = outer.reduceOption((a, b) => If(a, b, Literal.FalseLiteral))
            Branch(in, cond.getOrElse(Literal.TrueLiteral) +:
              list.map { case Alias(e, _) => e; case e => e })
        }
        peel(child, Nil)
      case plan => Branch(plan, Literal.TrueLiteral +: plan.output)
    }
  }

  /** `branches` grouped by shared input: one input per group, the group's
    * branches rewritten onto its attributes. Inputs are shared when they
    * are the same analyzed plan instance, or deterministic plans with the
    * same result: dask's shared collection key. */
  def shared(branches: Seq[Branch]): Seq[(LogicalPlan, Seq[Seq[Expression]])] =
    branches.foldLeft(Vector.empty[(LogicalPlan, Vector[Seq[Expression]])]) { (groups, b) =>
      val i = groups.indexWhere { case (in, _) =>
        (in eq b.input) || (in.deterministic && b.input.deterministic && in.sameResult(b.input))
      }
      if (i < 0) groups :+ (b.input -> Vector(b.exprs))
      else {
        val (in, bs) = groups(i)
        val onto = AttributeMap(b.input.output.zip(in.output))
        val exprs = b.exprs.map(_.transform { case a: Attribute if onto.contains(a) => onto(a) })
        groups.updated(i, in -> (bs :+ exprs))
      }
    }

  /** The dense fill of `branches` over `input`: one row per input
    * partition, one column `__h` (`array<double>`, `bins * counts.size`
    * long). Installs [[DenseFillStrategy]] on the session. */
  def apply(spark: SparkSession, input: LogicalPlan, branches: Seq[Seq[Expression]],
      counts: Seq[Boolean], bins: Int): DataFrame = {
    DenseFillStrategy.setup(spark)
    val buffer = AttributeReference("__h", BufferType, nullable = false)()
    GraftShims.ofRows(spark, DenseFill(branches, counts, bins, buffer, input))
  }

  /** One merge level: the `__h` buffer (`length` doubles) of partition p
    * of `buffers` goes to partition `pmod(p, groups)` of an exchange with
    * `groups` partitions, where [[DenseMerge]] sums them into one `__h`.
    * Adaptive execution does not coalesce an explicit partition count. */
  def merge(buffers: DataFrame, groups: Int, length: Int): DataFrame =
    over(buffers.select(spark_partition_id().as("__g"), col("__h"))
        .repartitionById(groups, pmod(col("__g"), lit(groups)))) { child =>
      val input = child.output.last
      DenseMerge(groups, length, input, input.newInstance(), child)
    }

  /** The rows of `merged`'s one buffer, as [[DenseBins]] with columns
    * `schema`. */
  def bins(merged: DataFrame, dims: Seq[Int], slots: Int, hit: Int,
      values: Seq[Int], nonNull: Seq[Int], schema: StructType): DataFrame = over(merged) { child =>
    DenseBins(dims, slots, hit, values, nonNull, child.output.head,
      schema.map(f => AttributeReference(f.name, f.dataType, f.nullable)()), child)
  }

  /** `node` over `df`'s analyzed plan, planned by [[DenseFillStrategy]]. */
  private def over(df: DataFrame)(node: LogicalPlan => LogicalPlan): DataFrame = {
    DenseFillStrategy.setup(df.sparkSession)
    GraftShims.ofRows(df.sparkSession, node(df.queryExecution.analyzed))
  }

  /** The planned partitions of `input` when it is estimated to hold at
    * least `width` rows per partition, `width` being the buffer length a
    * dense fill gives each; None otherwise, so a buffer is never larger
    * than the rows it sums. The rows come from the optimized plan's
    * statistics: the row count, else the size over the row size. `input`
    * is planned physically only when its rows alone reach `width`. */
  def fits(spark: SparkSession, input: LogicalPlan, width: Long): Option[Int] = {
    val df = GraftShims.ofRows(spark, input)
    val plan = df.queryExecution.optimizedPlan
    val st = plan.stats
    val rows = st.rowCount.getOrElse(st.sizeInBytes / EstimationUtils.getSizePerRow(plan.output))
    if (rows < width) None
    else Some(plannedPartitions(df)).filter(p => rows / p.max(1) >= width)
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

/** One level of the merge of [[DenseFill]] buffers: the sum of a
  * partition's `input` buffers (`length` doubles, else the task fails) as
  * one row `buffer`, an empty partition's too; `child` has `partitions`. */
case class DenseMerge(partitions: Int, length: Int, input: Attribute, buffer: Attribute,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = buffer :: Nil
  override def producedAttributes: AttributeSet = AttributeSet(buffer)
  // one row per partition however large the input, as an aggregate
  // without grouping estimates its one row
  override def stats: Statistics = Statistics(rowCount = Some(partitions),
    sizeInBytes = EstimationUtils.getSizePerRow(output) * partitions)
  override protected def withNewChildInternal(c: LogicalPlan): DenseMerge = copy(child = c)
}

/** The rows of one merged [[DenseFill]] buffer (`buffer`, the child's
  * only row): one row per bin whose `hit` slot is positive, or per bin
  * when `hit` < 0. A row is the bin's per-axis indices (row-major over
  * `dims`), then one column per `values` slot: a bigint count, or a double
  * sum that is null where slot `nonNull(j)` (when >= 0) is 0. */
case class DenseBins(dims: Seq[Int], slots: Int, hit: Int, values: Seq[Int],
    nonNull: Seq[Int], buffer: Attribute, output: Seq[Attribute], child: LogicalPlan)
    extends UnaryNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override protected def withNewChildInternal(c: LogicalPlan): DenseBins = copy(child = c)
}

/** Plans [[DenseFill]] as [[DenseFillExec]], [[DenseMerge]] as
  * [[DenseMergeExec]] and [[DenseBins]] as [[DenseBinsExec]]. */
object DenseFillStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case DenseFill(branches, counts, bins, buffer, child) =>
      DenseFillExec(branches, counts, bins, buffer, planLater(child)) :: Nil
    case DenseMerge(_, length, input, buffer, child) =>
      DenseMergeExec(length, input, buffer, planLater(child)) :: Nil
    case DenseBins(dims, slots, hit, values, nonNull, buffer, output, child) =>
      DenseBinsExec(dims, slots, hit, values, nonNull, buffer, output, planLater(child)) :: Nil
    case _ => Nil
  }

  /** Adds this strategy to `spark`'s planner once. */
  def setup(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(this))
      spark.experimental.extraStrategies = this +: spark.experimental.extraStrategies
}

/** A physical dense node: new columns only, in its child's partitions;
  * one partition stays one, so a sort or join above needs no exchange. */
trait DenseExec extends UnaryExecNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override def outputPartitioning: Partitioning = child.outputPartitioning.numPartitions match {
    case 1 => SinglePartition
    case n => UnknownPartitioning(n)
  }
  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))
}

/** Physical [[DenseFill]]. Under whole-stage codegen the fill is the
  * consumer of its child's generated loop (`doConsume`), and the buffer
  * row is produced once the child's `produce` loop has drained the
  * partition (`doProduce`), as an aggregate without grouping keys does.
  * `doExecute` is the same loop over the child's rows, for plans that run
  * without whole-stage codegen. */
case class DenseFillExec(branches: Seq[Seq[Expression]], counts: Seq[Boolean], bins: Int,
    buffer: Attribute, child: SparkPlan) extends DenseExec with BlockingOperatorWithCodegen {

  private val slots = counts.size

  override def output: Seq[Attribute] = buffer :: Nil

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val bound = branches.map(_.map(BindReferences.bindReference(_, child.output)).toArray)
    val (n, s, isCount) = (bins, slots, counts.toArray)
    child.execute().mapPartitions { rows =>
      val buf = new Array[Double](n * s)
      rows.foreach { row =>
        bound.foreach { b =>
          if (b(0).eval(row) == true) {
            val i = b(1).eval(row)
            if (i != null) {
              val bin = i.asInstanceOf[Long]
              if (bin >= 0 && bin < n) {
                var k = 0
                while (k < s) {
                  val v = b(k + 2).eval(row)
                  if (v != null) buf(bin.toInt * s + k) += (if (isCount(k)) 1.0 else v.asInstanceOf[Double])
                  k += 1
                }
              }
            }
          }
        }
      }
      DenseFill.emit(buf, numOutputRows)
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
       |  $bufTerm = new double[${bins.toLong * slots}];
       |  $fillFnName();
       |  ${classOf[ArrayData].getName} $result =
       |    ${classOf[UnsafeArrayData].getName}.fromPrimitiveArray($bufTerm);
       |  $bufTerm = null;
       |  $numOutput.add(1);
       |  ${consume(ctx, Seq(resultVar)).trim}
       |}
     """.stripMargin
  }

  // branches that differ only in their condition (staged fills of one
  // input) share one bin index: the row adds its value once per branch
  // whose condition holds
  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode], row: ExprCode): String = {
    ctx.currentVars = input
    def gen(e: Expression) = BindReferences.bindReference(e, child.output).genCode(ctx)
    val keys = branches.map(_.tail.map(_.canonicalized))
    keys.distinct.map(k => keys.zip(branches).collect { case (`k`, b) => b }).map { group =>
      val b = group.head
      val idx = gen(b(1))
      val base = ctx.freshName("base")
      val times = ctx.freshName("times")
      val adds = b.drop(2).zip(counts).zipWithIndex.map { case ((e, count), k) =>
        val v = gen(e)
        val one = if (count) "1.0" else v.value.toString
        val add = if (group.size == 1) one else s"($times == 1 ? $one : $one * $times)"
        s"""
           |${v.code}
           |if (!${v.isNull}) $bufTerm[$base + $k] += $add;
         """.stripMargin
      }
      val fill =
        s"""
           |${idx.code}
           |if (!${idx.isNull} && ${idx.value} >= 0L && ${idx.value} < ${bins}L) {
           |  int $base = (int) ${idx.value} * $slots;
           |  ${adds.mkString}
           |}
         """.stripMargin
      if (group.size == 1 && b.head == Literal.TrueLiteral) fill
      else {
        val conds = group.map { br =>
          val c = gen(br.head)
          s"""
             |${c.code}
             |if (!${c.isNull} && ${c.value}) $times++;
           """.stripMargin
        }
        s"""
           |int $times = 0;
           |${conds.mkString}
           |if ($times > 0) {
           |  $fill
           |}
         """.stripMargin
      }
    }.mkString
  }

  override protected def withNewChildInternal(c: SparkPlan): DenseFillExec = copy(child = c)
}

/** Physical [[DenseMerge]], without codegen: a task reads at most
  * `split_every` buffers, each element in place. */
case class DenseMergeExec(length: Int, input: Attribute, buffer: Attribute, child: SparkPlan)
    extends DenseExec {

  override def output: Seq[Attribute] = buffer :: Nil

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val (at, n) = (child.output.indexWhere(_.exprId == input.exprId), length)
    child.execute().mapPartitions { rows =>
      val buf = new Array[Double](n)
      rows.foreach { r =>
        val a = r.getArray(at)
        require(a.numElements() == n, s"buffer length ${a.numElements()} != $n")
        var i = 0
        while (i < n) { buf(i) += a.getDouble(i); i += 1 }
      }
      DenseFill.emit(buf, numOutputRows)
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): DenseMergeExec = copy(child = c)
}

/** Physical [[DenseBins]]: at most `dims.product` rows from one buffer,
  * written without codegen. */
case class DenseBinsExec(dims: Seq[Int], slots: Int, hit: Int, values: Seq[Int],
    nonNull: Seq[Int], buffer: Attribute, output: Seq[Attribute], child: SparkPlan)
    extends DenseExec {

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val at = child.output.indexWhere(_.exprId == buffer.exprId)
    val (d, s, h, vs, nn) = (dims.toArray, slots, hit, values.toArray, nonNull.toArray)
    val strides = d.scanRight(1L)(_ * _).tail
    val isLong = output.drop(d.length).map(_.dataType == LongType).toArray
    val types = output.map(_.dataType).toArray
    child.execute().mapPartitions { rows =>
      val proj = UnsafeProjection.create(types)
      rows.flatMap { r =>
        val buf = r.getArray(at).toDoubleArray()
        Iterator.range(0, d.product).filter(b => h < 0 || buf(b * s + h) > 0).map { b =>
          val out = new GenericInternalRow(types.length)
          var k = 0
          while (k < d.length) { out.update(k, b / strides(k) % d(k)); k += 1 }
          var j = 0
          while (j < vs.length) {
            val v = buf(b * s + vs(j))
            out.update(k + j,
              if (isLong(j)) v.toLong
              else if (nn(j) >= 0 && buf(b * s + nn(j)) == 0) null
              else v)
            j += 1
          }
          numOutputRows += 1
          proj(out)
        }
      }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): DenseBinsExec = copy(child = c)
}
