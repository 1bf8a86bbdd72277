package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, GraftShims, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{InputAdapter, ProjectExec, QueryExecution, RangeExec,
  SparkPlan, UnionExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec}
import org.apache.spark.sql.execution.exchange.{ShuffleExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.hist._
import graft.plans.{DenseFill, DenseFillExec, DenseMergeExec}

/** Core engine behavior, mirroring the reference's oracle-differential
  * style (/root/reference/tests/test_core.py) with hand-computed oracles
  * on tiny deterministic data.
  */
class HistCoreSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get
  import spark.implicits._

  private val xs = Seq(-5.0, 0.0, 0.5, 0.999, 1.0, 2.5, 9.99, 10.0, 47.0, Double.NaN)

  test("Regular axis bin indices incl. flow and NaN->overflow") {
    val df = xs.toDF("x")
    val ax = Regular(10, 0.0, 10.0)
    val got = df.select(ax.binCol(col("x")).as("i")).collect().map(_.getLong(0))
    // boost semantics: [lo,hi) right-exclusive, underflow 0, overflow 11
    assert(got.toSeq == Seq(0L, 1L, 1L, 1L, 2L, 3L, 10L, 11L, 11L, 11L))
  }

  test("NULL values land in the overflow bin (as NaN does)") {
    val df = Seq[Option[Double]](Some(1.0), None, Some(Double.NaN)).toDF("x")
    val got = df.select(Regular(4, 0.0, 4.0).binCol(col("x")).as("i"))
      .collect().map(_.getLong(0))
    assert(got.toSeq == Seq(2L, 5L, 5L))
  }

  test("IntegerAxis: NaN->overflow, fractional floors, NULL->overflow") {
    val ax = IntegerAxis(-2L, 3L)
    val df = Seq[Option[Double]](Some(Double.NaN), Some(-0.7), Some(2.9),
      Some(-2.0), None, Some(3.0)).toDF("x")
    val got = df.select(ax.binCol(col("x")).as("i")).collect().map(_.getLong(0))
    // n=5; NaN->6, -0.7 floors to -1 -> bin 2, 2.9 -> bin 5, -2 -> 1, null->6, 3->6
    assert(got.toSeq == Seq(6L, 2L, 5L, 1L, 6L, 6L))
  }

  test("BooleanAxis: NULL -> bin 0, not false") {
    val df = Seq[Option[Boolean]](Some(true), Some(false), None).toDF("b")
    val got = df.select(BooleanAxis().binCol(col("b")).as("i"))
      .collect().map(_.getLong(0))
    assert(got.toSeq == Seq(2L, 1L, 0L))
  }

  test("binOp Div: missing right bin -> IEEE Inf/NaN, not NULL") {
    val spec = HistSpec(Seq(Regular(3, 0.0, 3.0)), DoubleStorage)
    val l = Hist.fill(spec, Seq(0.5, 1.5).toDF("x"), Seq(col("x")))
    val r = Hist.fill(spec, Seq(0.5).toDF("x"), Seq(col("x")))
    val got = HistAlgebra.binOp(spec, l, r, HistAlgebra.Div)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(got(1L) == 1.0)
    assert(got(2L).isPosInfinity) // 1.0 / coalesce(missing->0)
    // commonSupportOnly: the documented engine-portable divergence mode —
    // bins absent from either sparse side are excluded instead of IEEE'd
    val common = HistAlgebra.binOp(spec, l, r, HistAlgebra.Div,
      commonSupportOnly = true)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(common == Map(1L -> 1.0))
  }

  test("RegularCircular drops non-finite values (NULL key)") {
    val ax = RegularCircular(4, 0.0, 4.0)
    val df = Seq(Double.PositiveInfinity, Double.NegativeInfinity, Double.NaN, 1.5)
      .toDF("x")
    val got = df.select(ax.binCol(col("x")).as("i")).collect()
    assert(got.count(_.isNullAt(0)) == 3)
    assert(got.filterNot(_.isNullAt(0)).map(_.getLong(0)).toSeq == Seq(2L))
    // the fill drops the NULL-key rows, so the result collects
    val spec = HistSpec(Seq(ax))
    val h = Hist.fill(spec, df.repartition(3), Seq(col("x")))
    assert(h.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == Seq((2L, 1.0)))
    assert(HistResult.collect(spec, h).counts(flow = false).toSeq ==
      Seq(0.0, 1.0, 0.0, 0.0))
  }

  test("RegularSqrt bins uniformly in sqrt(x)") {
    // edges of RegularSqrt(2, 0, 4): sqrt-space [0, 1, 2] -> x-space
    // [0, 1, 4): bin 1 = [0, 1), bin 2 = [1, 4)
    val ax = RegularSqrt(2, 0.0, 4.0)
    assert(ax.edges.toSeq == Seq(0.0, 1.0, 4.0))
    val df = Seq(-0.5, 0.0, 0.99, 1.0, 3.99, 4.0, Double.NaN).toDF("x")
    val got = df.select(ax.binCol(col("x")).as("i")).collect().map(_.getLong(0))
    assert(got.toSeq == Seq(0L, 1L, 1L, 2L, 2L, 3L, 3L))
    intercept[IllegalArgumentException](RegularSqrt(2, -1.0, 4.0))
  }

  test("Variable axis matches binary-search semantics") {
    val ax = Variable(Seq(1.0, 10.0, 25.0, 40.0, 51.0))
    val df = Seq(0.5, 1.0, 9.99, 10.0, 24.9, 39.0, 50.9, 51.0, 60.0).toDF("x")
    val got = df.select(ax.binCol(col("x")).as("i")).collect().map(_.getLong(0))
    assert(got.toSeq == Seq(0L, 1L, 1L, 2L, 2L, 3L, 4L, 5L, 5L))
  }

  test("1-D fill: counts match groupBy oracle; empty bins absent (sparse)") {
    val df = Seq.tabulate(100)(i => i % 7 * 1.0).toDF("x")
    val spec = HistSpec(Seq(Regular(7, 0.0, 7.0)), Int64Storage)
    val h = Hist.fill(spec, df, Seq(col("x"))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h.keys.forall(i => i >= 1 && i <= 7))
    assert(h.values.sum == 100)
    assert(h(1L) == 15 && h(7L) == 14) // 0..1 appears 15x (i%7==0), 6 appears 14x
  }

  test("merge associativity: hist(A union B) == hist(A) + hist(B), any partitioning") {
    val a = Seq.tabulate(500)(i => math.sin(i.toDouble) * 3).toDF("x")
    val spec = HistSpec(Seq(Regular(12, -3.0, 3.0)), DoubleStorage)
    for (p <- Seq(1, 2, 7)) {
      val whole = Hist.fill(spec, a.repartition(p), Seq(col("x")))
      val h1 = Hist.fill(spec, a.limit(200).repartition(p), Seq(col("x")))
      val h2 = Hist.fill(spec, a.exceptAll(a.limit(200)).repartition(p), Seq(col("x")))
      val merged = HistAlgebra.binOp(spec, h1, h2, HistAlgebra.Add)
      val w = whole.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val m = merged.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(w.keySet == m.keySet)
      w.foreach { case (k, v) => assert(math.abs(v - m(k)) < 1e-9, s"bin $k p=$p") }
    }
  }

  test("moment-storage merge: h(A) + h(B) == h(A union B) for Weight and Mean") {
    val rows = Seq.tabulate(120)(i =>
      (math.abs(math.sin(i.toDouble)) * 3, 0.1 + (i % 5) * 0.2, (i % 7).toDouble))
    val df = rows.toDF("x", "w", "s")
    val a = df.filter(col("s") < 3.0)
    val b = df.filter(col("s") >= 3.0)
    // Weight: (Σw, Σw²) both merge by addition
    val ws = HistSpec(Seq(Regular(6, 0.0, 3.0)), WeightStorage)
    val wWhole = Hist.fill(ws, df, Seq(col("x")), weight = Some(col("w")))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val wMerged = HistAlgebra.binOp(ws,
        Hist.fill(ws, a, Seq(col("x")), weight = Some(col("w"))),
        Hist.fill(ws, b, Seq(col("x")), weight = Some(col("w"))),
        HistAlgebra.Add)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(wWhole.keySet == wMerged.keySet)
    wWhole.foreach { case (k, (v, vv)) =>
      assert(math.abs(v - wMerged(k)._1) < 1e-9, s"bin $k value")
      assert(math.abs(vv - wMerged(k)._2) < 1e-9, s"bin $k variance")
    }
    // Mean: sums merge; mean/variance views re-derive from MERGED sums
    val ms = HistSpec(Seq(Regular(6, 0.0, 3.0)), MeanStorage)
    val mWhole = Hist.fill(ms, df, Seq(col("x")), sample = Some(col("s")))
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Number](1).doubleValue, r.getDouble(2), r.getDouble(3),
          r.getDouble(4), r.getDouble(5))).toMap
    val mm = HistAlgebra.binOp(ms,
      Hist.fill(ms, a, Seq(col("x")), sample = Some(col("s"))),
      Hist.fill(ms, b, Seq(col("x")), sample = Some(col("s"))),
      HistAlgebra.Add)
    assert(mm.columns.toSeq ==
      Seq("i0", "n", "sum_s", "sum_s2", "mean", "variance"))
    val mMerged = mm.collect().map(r => r.getLong(0) ->
      (r.getAs[Number](1).doubleValue, r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).toMap
    assert(mWhole.keySet == mMerged.keySet)
    mWhole.foreach { case (k, (n, s, s2, mean, varr)) =>
      val (n2, s2b, s2sq, mean2, var2) = mMerged(k)
      assert(n == n2, s"bin $k n")
      assert(math.abs(s - s2b) < 1e-9 && math.abs(s2 - s2sq) < 1e-9, s"bin $k sums")
      assert(math.abs(mean - mean2) < 1e-9, s"bin $k mean")
      assert(math.abs(varr - var2) < 1e-9, s"bin $k variance")
    }
  }

  test("Weight storage: value=sum w, variance=sum w^2") {
    val df = Seq((0.5, 1.0), (1.5, 2.0), (1.7, 3.0)).toDF("x", "w")
    val spec = HistSpec(Seq(Regular(2, 0.0, 2.0)), WeightStorage)
    val h = Hist.fill(spec, df, Seq(col("x")), weight = Some(col("w")))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(h(1L) == ((1.0, 1.0)))
    assert(h(2L) == ((5.0, 13.0)))
  }

  test("Mean storage derives mean; WeightedMean derives wmean") {
    val df = Seq((0.5, 2.0, 4.0), (0.6, 4.0, 8.0)).toDF("x", "w", "s")
    val m = Hist.fill(HistSpec(Seq(Regular(1, 0.0, 1.0)), MeanStorage), df,
      Seq(col("x")), sample = Some(col("s"))).collect()(0)
    assert(m.getAs[Long]("n") == 2 && m.getAs[Double]("mean") == 6.0)
    val wm = Hist.fill(HistSpec(Seq(Regular(1, 0.0, 1.0)), WeightedMeanStorage), df,
      Seq(col("x")), weight = Some(col("w")), sample = Some(col("s"))).collect()(0)
    assert(wm.getAs[Double]("wmean") == (2 * 4 + 4 * 8) / 6.0)
  }

  test("multi-fill fuses to one result equal to sum of single fills") {
    val d1 = Seq(0.5, 1.5).toDF("x")
    val d2 = Seq(0.7, 1.9).toDF("x")
    val spec = HistSpec(Seq(Regular(2, 0.0, 2.0)), DoubleStorage)
    val hb = new Histogram(spec)
    hb.fill(d1, Seq(col("x"))).fill(d2, Seq(col("x")), weight = Some(lit(2.0)))
    val got = hb.result(spark).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 3.0, 2L -> 3.0))
  }

  test("unfilled histogram is computable and empty (ref tests/test_boost.py:13-26)") {
    val hb = new Histogram(HistSpec(Seq(Regular(3, 0.0, 1.0)), DoubleStorage))
    assert(hb.result(spark).count() == 0)
  }

  test("unfilled histogram has the filled one's schema, every storage") {
    val storages = Seq(DoubleStorage, Int64Storage, AtomicInt64Storage,
      UnlimitedStorage, WeightStorage, MeanStorage, WeightedMeanStorage,
      ShiftedMeanStorage(10.0), ShiftedWeightedMeanStorage(-2.5))
    val df = Seq((Option(0.5), Option(1.0), Option(3.0))).toDF("x", "w", "s")
    for (st <- storages) {
      val spec = HistSpec(Seq(Regular(4, 0.0, 4.0), RegularCircular(3, 0.0, 3.0)), st)
      val filled = Hist.fill(spec, df, Seq(col("x"), col("x")), Some(col("w")),
        Some(col("s")))
      val empty = new Histogram(spec).result(spark)
      assert(empty.schema == filled.schema, st)
      assert(empty.count() == 0, st)
    }
  }

  test("lazy + between staged histograms throws (ref boost.py:112-121)") {
    val a = new Histogram(HistSpec(Seq(Regular(3, 0.0, 1.0)), DoubleStorage))
    val b = new Histogram(HistSpec(Seq(Regular(3, 0.0, 1.0)), DoubleStorage))
    assertThrows[UnsupportedOperationException](a + b)
  }

  test("densify yields full zero-filled grid incl. flow") {
    val df = Seq(0.5).toDF("x")
    val spec = HistSpec(Seq(Regular(4, 0.0, 4.0)), DoubleStorage)
    val dense = Hist.densify(spec, Hist.fill(spec, df, Seq(col("x"))), flow = true)
    val rows = dense.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows.size == 6)
    assert(rows(1L) == 1.0 && rows.filterKeys(_ != 1L).values.forall(_ == 0.0))
  }

  test("densify of 2-D empty input still yields the zero grid") {
    val spec = HistSpec(Seq(Regular(2, 0.0, 1.0), Regular(3, 0.0, 1.0)), DoubleStorage)
    val dense = Hist.densify(spec, spec.empty(spark), flow = false)
    assert(dense.count() == 6)
    assert(dense.agg(sum("value")).collect()(0).getDouble(0) == 0.0)
  }

  test("Weight-storage scalar mul scales variance quadratically (bh semantics)") {
    val df = Seq((0.5, 2.0)).toDF("x", "w")
    val spec = HistSpec(Seq(Regular(1, 0.0, 1.0)), WeightStorage)
    val h = Hist.fill(spec, df, Seq(col("x")), weight = Some(col("w")))
    val r = HistAlgebra.scalarOp(spec, h, 3.0, HistAlgebra.Mul).collect()(0)
    assert(r.getAs[Double]("value") == 6.0)     // Σw × 3
    assert(r.getAs[Double]("variance") == 36.0) // Σw² × 9
  }

  test("scalar and array algebra") {
    val spec = HistSpec(Seq(Regular(3, 0.0, 3.0)), DoubleStorage)
    val h = Hist.fill(spec, Seq(0.5, 1.5, 1.7).toDF("x"), Seq(col("x")))
    val s = HistAlgebra.scalarOp(spec, h, 2.0, HistAlgebra.Mul)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(s == Map(1L -> 2.0, 2L -> 4.0))
    val a = HistAlgebra.arrayOp(spec, h, Seq(10.0, 20.0, 30.0), HistAlgebra.Add)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a == Map(1L -> 11.0, 2L -> 22.0))
  }

  test("HistResult: dense arrays, edges with flow padding, accessors") {
    val df = Seq(0.5, 1.5, 1.7, -3.0, 99.0).toDF("x")
    val spec = HistSpec(Seq(Regular(4, 0.0, 4.0)), WeightStorage)
    val res = HistResult.collect(spec, Hist.fill(spec, df, Seq(col("x"))))
    val c = res.counts(flow = true)
    assert(c.toSeq == Seq(1.0, 1.0, 2.0, 0.0, 0.0, 1.0)) // uf,1,2,3,4,of
    assert(res.counts(flow = false).toSeq == Seq(1.0, 2.0, 0.0, 0.0))
    assert(res.variances(flow = true).get.toSeq == c.toSeq) // unit weights
    assert(res.edges().head.toSeq == Seq(0.0, 1.0, 2.0, 3.0, 4.0))
    assert(res.edges(flow = true).head.head.isNegInfinity)
  }

  test("fillPartitioned (physical ids): partials sum to the whole; arity checked") {
    val df = Seq.tabulate(200)(i => i % 5 * 1.0).toDF("x").repartition(3)
    val spec = HistSpec(Seq(Regular(5, 0.0, 5.0)), DoubleStorage)
    val parts = Hist.fillPartitioned(spec, df, Seq(col("x"))).collect()
    assert(parts.map(_.getLong(0)).distinct.length == 3) // one group per partition
    val summed = parts.groupBy(_.getLong(1)).view
      .mapValues(_.map(_.getDouble(2)).sum).toMap
    val whole = Hist.fill(spec, df, Seq(col("x"))).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(summed == whole)
    assertThrows[IllegalArgumentException](
      Hist.fillPartitionedBy(spec, df, lit(0L), Seq(col("x"), col("x"))))
  }

  test("circular axis wraps; log axis bins uniformly in ln") {
    val circ = RegularCircular(4, 0.0, 4.0)
    val got = Seq(-1.0, 0.0, 3.9, 4.0, 9.0).toDF("x")
      .select(circ.binCol(col("x")).as("i")).collect().map(_.getLong(0))
    assert(got.toSeq == Seq(4L, 1L, 4L, 1L, 2L)) // wrap both directions
    val lg = RegularLog(3, 1.0, 1000.0) // decades
    val g2 = Seq(0.5, 1.0, 9.9, 10.0, 999.0, 1000.0).toDF("x")
      .select(lg.binCol(col("x")).as("i")).collect().map(_.getLong(0))
    assert(g2.toSeq == Seq(0L, 1L, 1L, 2L, 3L, 4L))
  }

  /** The sparse fill as a plain groupBy, kept here as the oracle of the
    * engine that [[Hist]] picks: bin keys from `Axis.binCol`, NULL-key
    * rows dropped, `storage.aggs` over the union of the fills' rows, then
    * the finalizers. */
  private def reference(spec: HistSpec, fills: Seq[FillSpec]): DataFrame = {
    val rows = fills.map { f =>
      val keys = spec.axes.zip(f.cols).zipWithIndex.map { case ((a, c), i) => a.binCol(c).as(s"i$i") }
      val w = f.weight.getOrElse(lit(1.0)).cast("double").as("__w")
      val s = f.sample.getOrElse(lit(0.0)).cast("double").as("__s")
      val r = f.df.select(keys :+ w :+ s: _*)
      spec.axes.zip(spec.indexCols).collect { case (a, c) if a.nullKey => col(c).isNotNull }
        .reduceOption(_ && _).fold(r)(r.filter)
    }.reduce(_ unionByName _)
    val aggs = spec.storage.aggs(col("__w"), col("__s"))
    val h = rows.groupBy(spec.indexCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    spec.storage.finalizers.foldLeft(h) { case (d, (n, c)) => d.withColumn(n, c) }
  }

  /** [[reference]]'s Σw of coordinate columns `cols` on the flow-inclusive
    * grid, zero where no row lands: the dense views' oracle. */
  private def referenceGrid(spec: HistSpec, df: DataFrame, cols: Seq[Column],
      w: Option[Column] = None): Map[Seq[Long], Double] = {
    val d = spec.ndim
    val hit: Map[Seq[Long], Double] = reference(spec, Seq(FillSpec(df, cols, w))).collect()
      .map(r => ((0 until d).map(r.getLong): Seq[Long]) -> Option(r.get(d)).fold(0.0)(_.asInstanceOf[Double]))
      .toMap
    val keys = spec.axes.foldLeft(Seq(Seq.empty[Long])) { (ks, a) =>
      for (k <- ks; i <- 0L until a.nBins + 2L) yield k :+ i
    }
    keys.map(k => k -> hit.getOrElse(k, 0.0)).toMap
  }

  /** [[referenceGrid]] of column x as a row-major array. */
  private def referenceDense(spec: HistSpec, df: DataFrame): Seq[Double] =
    referenceGrid(spec, df, Seq(col("x"))).toSeq.sortBy(_._1.head).map(_._2)

  /** A fill's rows keyed by bin. */
  private def byBin(h: DataFrame, d: Int): Map[Seq[Any], Seq[Any]] =
    h.collect().map(r => r.toSeq.take(d) -> r.toSeq.drop(d)).toMap

  /** Equal, NaN to NaN, doubles to 1e-9 relative (summation order). */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => x == y || x.isNaN && y.isNaN ||
      math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
    case _ => a == b
  }

  /** `got` has `want`'s schema (names, types, nullability), bins and values. */
  private def assertSameHist(got: DataFrame, want: DataFrame, d: Int, clue: String): Unit = {
    assert(got.schema == want.schema, clue)
    val (g, w) = (byBin(got, d), byBin(want, d))
    assert(g.keySet == w.keySet, s"$clue: bins ${g.keySet.size} vs ${w.keySet.size}")
    w.foreach { case (k, v) =>
      assert(v.zip(g(k)).forall { case (a, b) => same(a, b) }, s"$clue bin $k: ${g(k)} vs $v")
    }
  }

  private def denseFills(h: DataFrame): Seq[DenseFillExec] =
    ShuffledShapes.physicalNodes(h).collect { case f: DenseFillExec => f }

  /** Shuffle exchanges in a Dataset's physical plan (AQE's initial plan). */
  private def exchanges(df: org.apache.spark.sql.DataFrame): Int =
    ShuffledShapes.physicalNodes(df).count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])

  test("fillTree (split_every analog) == groupBy reference") {
    val df = Seq.tabulate(500)(i => math.sin(i * 1.1) * 4).toDF("x").repartition(9)
    val spec = HistSpec(Seq(Regular(6, -4.0, 4.0)), DoubleStorage)
    val viaTree = Hist.fillTree(spec, df, Seq(col("x")), splitEvery = Some(2))
    assert(viaTree.toSeq == referenceDense(spec, df))
    assert(viaTree.sum == 500.0)
  }

  test("split_every conf surface drives tree-reduce fan-in and depth") {
    // conf read: default mirrors the reference's histogram.yaml split_every: 8
    assert(Hist.resolveSplitEvery(spark) == Hist.SplitEveryDefault)
    val df = Seq.tabulate(200)(i => math.sin(i * 1.3) * 4).toDF("x").repartition(7)
    val spec = HistSpec(Seq(Regular(6, -4.0, 4.0)), DoubleStorage)
    // merge levels beyond the input's own exchange: 7 partials fit one
    // level at fan-in 8, and take ceil(log2(7)) = 3 levels at fan-in 2
    def levels = exchanges(Hist.fillDense(spec, df, Seq(col("x")))) - exchanges(df)
    assert(levels == 1)
    spark.conf.set(Hist.SplitEveryConf, "2")
    try {
      assert(Hist.resolveSplitEvery(spark) == 2)
      assert(levels == 3)
      // end-to-end: conf-driven fan-in produces the same histogram
      val viaConf = Hist.fillTree(spec, df, Seq(col("x")))
      assert(viaConf.toSeq == referenceDense(spec, df))
      spark.conf.set(Hist.SplitEveryConf, "1")
      intercept[IllegalArgumentException](Hist.resolveSplitEvery(spark))
    } finally spark.conf.unset(Hist.SplitEveryConf)
  }

  test("upper-edge modes: boost excludes x == hi, numpy includes it") {
    // reference boost.py:413-416 documents the divergence: numpy-style
    // returns have "upper edge inclusive, unlike boost-histogram"
    val df = Seq(10.0, 5.0, 10.000001, 0.0).toDF("x")
    def fill(ax: Axis): Map[Long, Long] =
      Hist.fill(HistSpec(Seq(ax), Int64Storage), df, Seq(col("x")))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // boost mode (default): x == hi -> overflow
    assert(fill(Regular(5, 0.0, 10.0)) == Map(6L -> 2L, 3L -> 1L, 1L -> 1L))
    // numpy mode: x == hi -> LAST in-range bin; x just above hi -> overflow
    assert(fill(Regular(5, 0.0, 10.0, upperInclusive = true)) ==
      Map(5L -> 1L, 6L -> 1L, 3L -> 1L, 1L -> 1L))
    assert(fill(Variable(Seq(0.0, 2.0, 10.0))) == Map(3L -> 2L, 2L -> 1L, 1L -> 1L))
    assert(fill(Variable(Seq(0.0, 2.0, 10.0), upperInclusive = true)) ==
      Map(2L -> 2L, 3L -> 1L, 1L -> 1L))
    // routines surface threads the flag to every numeric axis
    val (spec, _) = Routines.histogram(df, col("x"), BinsSpec.Count(5),
      Some(BinsSpec.RangePair(0.0, 10.0)), upperInclusive = true)
    assert(spec.axes.head.asInstanceOf[Regular].upperInclusive)
    // float-boundary contract: an IN-RANGE d one ulp below hi must never
    // reach overflow in numpy mode, even when the multiply-floor
    // arithmetic rounds up (axis found by random search: floor(...) == n
    // here without the clamp)
    val lo2 = -4.898619485211566; val hi2 = 0.10618787699864907
    val dNear = math.nextDown(hi2)
    val got = fill2(Regular(3, lo2, hi2, upperInclusive = true),
      Seq(dNear, hi2, math.nextUp(hi2)))
    assert(got == Map(3L -> 2L, 4L -> 1L), s"got $got")
  }

  private def fill2(ax: Axis, xs: Seq[Double]): Map[Long, Long] =
    Hist.fill(HistSpec(Seq(ax), Int64Storage), xs.toDF("x"), Seq(col("x")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** `body` with whole-stage codegen off: [[graft.plans.DenseFillExec]]
    * runs its interpreted `doExecute`. */
  private def interpreted[A](body: => A): A = {
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try body finally spark.conf.unset("spark.sql.codegen.wholeStage")
  }

  /** Every node of a stage's part of a physical plan: stops at the
    * InputAdapter where the stage reads another stage or a scan. */
  private def stageNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: InputAdapter => Seq(a)
    case _ => p +: p.children.flatMap(stageNodes)
  }

  test("dense codegen fill path == groupBy reference + zero grid") {
    val spec = HistSpec(Seq(Regular(8, -5.0, 5.0)), DoubleStorage)
    def want(df: DataFrame, w: Option[Column]): Map[Long, Double] =
      referenceGrid(spec, df, Seq(col("x")), w).map { case (k, v) => k.head -> v }
    def dense(df: DataFrame, w: Option[Column]): Map[Long, Double] =
      Hist.fillDense(spec, df, Seq(col("x")), w)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val df = Seq.tabulate(1000)(i => math.sin(i * 0.7) * 6).toDF("x").repartition(5)
    val plain = dense(df, None)
    assert(plain == want(df, None))
    assert(plain.size == 10)
    // null weights are skipped, null and NaN coordinates land in the
    // overflow bin; weights are multiples of 1/4, so every summation
    // order gives the same doubles
    val odd = Seq.tabulate(1000) { i =>
      val x = if (i % 50 == 0) None else if (i % 70 == 0) Some(Double.NaN)
        else Some(math.sin(i * 0.7) * 6)
      val w = if (i % 9 == 0) None else Some((i % 7) * 0.25)
      (x, w)
    }.toDF("x", "w")
    val w = Some(col("w"))
    val oddWant = want(odd, w)
    assert(oddWant(9L) > 0.0)
    assert(oddWant.values.sum == (0 until 1000).filter(_ % 9 != 0).map(i => (i % 7) * 0.25).sum)
    for (n <- Seq(1, 7, 13)) assert(dense(odd.repartition(n), w) == oddWant, s"repartition($n)")
    interpreted {
      val d = Hist.fillDense(spec, odd.repartition(7), Seq(col("x")), w)
      assert(d.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap == oddWant)
      val nodes = ShuffledShapes.physicalNodes(d)
      assert(nodes.exists(_.isInstanceOf[DenseFillExec]) &&
        !nodes.exists(_.isInstanceOf[WholeStageCodegenExec]),
        nodes.map(_.nodeName).mkString(", "))
      assert(dense(df, None) == plain)
    }
  }

  test("fillDense builds without a job under adaptive execution") {
    // the input's exchange makes the plan adaptive; reading its partition
    // count from an executed RDD would run that stage at build time
    val df = spark.range(0, 1000000, 1, 4).select(rand(1).as("x")).repartition(12)
    val spec = HistSpec(Seq(Regular(10, 0.0, 1.0)), DoubleStorage)
    val (d, jobs) = JobCounts.of(spark)(Hist.fillDense(spec, df, Seq(col("x"))))
    assert(jobs == 0)
    val got = d.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == referenceGrid(spec, df, Seq(col("x"))).map { case (k, v) => k.head -> v })
    assert(got.values.sum == 1000000.0)
  }

  test("fillDense plan: fill and bin index share one codegen stage; P buffers shuffle") {
    val parts = 6
    val df = spark.range(0, 60000, 1, parts).select(rand(3).as("x"), rand(4).as("y"))
    val spec = HistSpec(Seq(Regular(5, 0.0, 1.0), Regular(4, 0.0, 1.0)), DoubleStorage)
    // fan-in 8: one merge level; fan-in 2: three
    for ((fanIn, levels) <- Seq(8 -> 1, 2 -> 3)) {
      val d = Hist.fillDense(spec, df, Seq(col("x"), col("y")), splitEvery = Some(fanIn))
      val (rows, jobs) = JobCounts.of(spark)(d.collect())
      assert(rows.map(_.getDouble(2)).sum == 60000.0)
      val nodes = ShuffledShapes.physicalNodes(d)
      def names = nodes.map(_.nodeName).mkString(", ")
      // the fill, the bin-index projection and the range are one stage:
      // no aggregate, exchange or stage boundary between them
      val fill = nodes.collectFirst { case f: DenseFillExec => f }
      assert(fill.isDefined, names)
      val stage = nodes.collect { case w: WholeStageCodegenExec => stageNodes(w.child) }
        .filter(_.exists(_.isInstanceOf[DenseFillExec]))
      assert(stage.size == 1, names)
      val below = stageNodes(fill.get.child)
      assert(below.exists(_.isInstanceOf[ProjectExec]) &&
        below.exists(_.isInstanceOf[RangeExec]), names)
      assert(!below.exists(n => n.isInstanceOf[InputAdapter] ||
        n.isInstanceOf[ObjectHashAggregateExec] ||
        n.isInstanceOf[ShuffleExchangeLike]), names)
      // only the P buffers cross the first exchange, then one per group
      val shuffles = nodes.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.size == levels, names)
      assert(shuffles.head.metrics("shuffleRecordsWritten").value == parts)
      // one job per exchange and one for the result
      assert(jobs == levels + 1)
    }
  }

  test("bins normalization errors mirror reference rules AND messages") {
    import BinsSpec._
    // exact reference strings (bins.py:63-65,130-132,142-144,200,203)
    val e1 = intercept[IllegalArgumentException](normalize(2, Count(5), None))
    assert(e1.getMessage ==
      "range cannot be None when bins argument is a scalar or sequence of scalars.")
    val e2 = intercept[IllegalArgumentException](
      normalize(2, CountPerDim(Seq(3)), Some(Seq(Some(RangePair(0, 1)), Some(RangePair(0, 1))))))
    assert(e2.getMessage ==
      "Total number of bins definitions must be equal to the dimensionality of the histogram.")
    val e3 = intercept[IllegalArgumentException](
      normalize(1, Edges(Seq(0.0, 1.0)), Some(Seq(Some(RangePair(0, 1))))))
    assert(e3.getMessage == "incompatible range argument")
    val e4 = intercept[IllegalArgumentException](
      normalize(2, CountPerDim(Seq(3, 4)), Some(Seq(Some(RangePair(0, 1))))))
    assert(e4.getMessage ==
      "Total number of range pairs must be equal to the dimensionality of the histogram.")
    val e5 = intercept[IllegalArgumentException](
      normalize(2, Count(5), Some(Seq(Some(RangePair(0, 1))))))
    assert(e5.getMessage == "bins and range arguments must be the same length")
    val ok = normalize(2, Count(4), Some(Seq(Some(RangePair(0, 1)), Some(RangePair(2, 3)))))
    assert(toAxes(ok) == Seq(Regular(4, 0, 1), Regular(4, 2, 3)))
  }

  test("Unlimited storage growth: exact integer phase, weighted promotion") {
    // boost's Unlimited auto-promotes int -> double on the first weighted
    // fill; the Spark storage is the already-promoted double form
    // (Storage.scala divergence note). The observable contract: counts
    // from unweighted fills are exactly integral, and a staged
    // unweighted-then-weighted sequence (the growth trigger) yields the
    // post-promotion values with no precision loss
    val df = Seq.tabulate(100000)(i => (i % 4).toDouble + 0.5).toDF("x").repartition(8)
    val spec = HistSpec(Seq(Regular(4, 0.0, 4.0)), UnlimitedStorage)
    val counts = Hist.fill(spec, df, Seq(col("x"))).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(counts == Map(1L -> 25000.0, 2L -> 25000.0, 3L -> 25000.0, 4L -> 25000.0))
    val hb = new Histogram(spec)
    hb.fill(df, Seq(col("x")))
    hb.fill(df, Seq(col("x")), weight = Some(lit(0.25)))
    val grown = hb.result(spark).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(grown == Map(1L -> 31250.0, 2L -> 31250.0, 3L -> 31250.0, 4L -> 31250.0))
  }

  test("HistSpec and staged Histogram serialize (reference pickling parity)") {
    val spec = HistSpec(Seq(Regular(5, 0.0, 1.0), StrCategory()), WeightStorage)
    val bos = new java.io.ByteArrayOutputStream()
    new java.io.ObjectOutputStream(bos).writeObject(spec)
    val back = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray)).readObject()
      .asInstanceOf[HistSpec]
    assert(back == spec)
    assert(back.axes.head.binCol(col("x")) != null) // usable after round-trip
  }

  test("category growth: different partitions' categories union on merge (A11)") {
    val df = Seq("a", "b", "c", "a").toDF("c").repartition(4)
    val spec = HistSpec(Seq(StrCategory()), Int64Storage)
    val h = Hist.fill(spec, df, Seq(col("c"))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(h == Map("a" -> 2L, "b" -> 1L, "c" -> 1L))
  }

  test("fillDense N-D bounded merge tree == groupBy reference + zero grid") {
    val df = Seq.tabulate(2000)(i => (math.sin(i * 0.7) * 6, math.cos(i * 1.3) * 3))
      .toDF("x", "y").repartition(9)
    val spec = HistSpec(Seq(Regular(5, -5.0, 5.0), Regular(4, -3.0, 3.0)), DoubleStorage)
    val xy = Seq(col("x"), col("y"))
    def grid(d: DataFrame) = d.collect()
      .map(r => Seq(r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val want = referenceGrid(spec, df, xy)
    // fan-in 2 over 9 partitions forces the multi-level contraction
    val denseDf = Hist.fillDense(spec, df, xy, splitEvery = Some(2))
    val dense = grid(denseDf)
    assert(dense == want)
    assert(dense.size == 7 * 6)
    // bounded merge: ceil(log2 9) = 4 DenseMerge levels (no single final
    // reducer sees all 9 partial buffers)
    val nodes = ShuffledShapes.physicalNodes(denseDf)
    assert(nodes.count(_.isInstanceOf[DenseMergeExec]) == 4, nodes.map(_.nodeName).mkString(", "))
    // the same merged grid from the interpreted fill, and with null and
    // NaN coordinates (overflow) under any partitioning
    interpreted {
      assert(grid(Hist.fillDense(spec, df, xy, splitEvery = Some(2))) == want)
    }
    val odd = df.select(
      when(col("x") > 4.5, lit(null).cast("double")).otherwise(col("x")).as("x"),
      when(col("y") < -2.5, lit(Double.NaN)).otherwise(col("y")).as("y"))
    val oddWant = referenceGrid(spec, odd, xy)
    assert(oddWant.exists { case (k, v) => k.head == 6L && v > 0 } &&
      oddWant.exists { case (k, v) => k(1) == 5L && v > 0 })
    for (n <- Seq(1, 7, 13)) {
      val got = grid(Hist.fillDense(spec, odd.repartition(n), xy, splitEvery = Some(2)))
      assert(got == oddWant, s"repartition($n)")
    }
  }

  test("fillDense with few partials stays single-level (no merge stage)") {
    val df = Seq.tabulate(100)(i => math.sin(i) * 4).toDF("x").coalesce(2)
    val spec = HistSpec(Seq(Regular(4, -4.0, 4.0)), DoubleStorage)
    val d = Hist.fillDense(spec, df, Seq(col("x")), splitEvery = Some(8))
    // the two partition buffers meet in one merge: exactly one exchange
    // beyond the input's
    assert(exchanges(d) - exchanges(df) == 1)
    val got = d.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == referenceGrid(spec, df, Seq(col("x"))).map { case (k, v) => k.head -> v })
  }

  test("axis names survive fill -> result round-trip (named-axis protocol)") {
    // reference: hist named-axis test, tests/test_boost.py:536-556
    val df = Seq((1.5, 2.5), (0.5, 1.0)).toDF("x", "y")
    val spec = HistSpec(Seq(Regular(4, 0.0, 4.0, name = "pt"),
      Regular(3, 0.0, 3.0)), Int64Storage)
    assert(spec.axisNames == Seq("pt", ""))
    assert(spec.namedIndexCols == Seq("pt", "i1"))
    assert(spec.axisIndex("pt") == 0)
    intercept[IllegalArgumentException](spec.axisIndex("nope"))
    val h = Hist.fill(spec, df, Seq(col("x"), col("y")))
    assert(spec.withNamedColumns(h).columns.take(2).toSeq == Seq("pt", "i1"))
    val res = HistResult.collect(spec, h)
    assert(res.axisNames == Seq("pt", ""))
    assert(res.edgesOf("pt").toSeq == Regular(4, 0.0, 4.0).edges.toSeq)
    // name collisions rejected loudly
    val bad = HistSpec(Seq(Regular(2, 0.0, 1.0, name = "a"),
      Regular(2, 0.0, 1.0, name = "a")))
    intercept[IllegalArgumentException](bad.namedIndexCols)
    // a name equal to ANOTHER axis' positional column would make the
    // sequential rename mislabel that axis — rejected too
    val sneaky = HistSpec(Seq(Regular(2, 0.0, 1.0, name = "i1"),
      Regular(2, 0.0, 1.0, name = "z")))
    intercept[IllegalArgumentException](sneaky.namedIndexCols)
    // ... but an axis NAMED like its own position is a harmless no-op
    val own = HistSpec(Seq(Regular(2, 0.0, 1.0, name = "i0"),
      Regular(2, 0.0, 1.0)))
    assert(own.namedIndexCols == Seq("i0", "i1"))
  }

  test("project/rebin/cumulative: post-aggregation histogram views") {
    val df = Seq((0.5, 10.0), (1.5, 10.0), (1.7, -5.0), (3.2, 99.0))
      .toDF("x", "y")
    val spec2 = HistSpec(Seq(Regular(4, 0.0, 4.0), Regular(2, 0.0, 20.0)),
      Int64Storage)
    val h2 = Hist.fill(spec2, df, Seq(col("x"), col("y")))
    // marginal over y == 1-D x histogram (flow rows absorb y outliers)
    val marg = HistAlgebra.project(spec2, h2, Seq(0))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val spec1 = HistSpec(Seq(Regular(4, 0.0, 4.0)), Int64Storage)
    val h1 = Hist.fill(spec1, df, Seq(col("x")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(marg == h1)
    // non-prefix keep renumbers to i0 (boost renumbers projected axes),
    // so the result composes with 1-D views: pair it with the kept-axis
    // spec and run cumulative straight on it
    val specY = HistSpec(Seq(Regular(2, 0.0, 20.0)), Int64Storage)
    val margY = HistAlgebra.project(spec2, h2, Seq(1))
    assert(margY.columns.toSeq == Seq("i0", "value"))
    val hy = Hist.fill(specY, df, Seq(col("y")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(margY.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == hy)
    val cumY = HistAlgebra.cumulative(
      HistSpec(Seq(Regular(2, 0.0, 20.0)), DoubleStorage),
      margY.withColumn("value", col("value").cast("double")))
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(cumY.last._2 == 4.0) // all four fills accounted for
    // rebin by 2: interior bins (1,2)->(1), (3,4)->(2); flow preserved
    val dfr = Seq(-1.0, 0.5, 1.5, 2.5, 3.5, 9.0).toDF("x")
    val hr = HistAlgebra.rebin(spec1,
      Hist.fill(spec1, dfr, Seq(col("x"))), axis = 0, k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hr == Map(0L -> 1L, 1L -> 2L, 2L -> 2L, 3L -> 1L))
    intercept[IllegalArgumentException](
      HistAlgebra.rebin(spec1, Hist.fill(spec1, dfr, Seq(col("x"))), 0, 3))
    // slice [2, 4): bin 2->1, bin 3->2; bins 1 and underflow -> new
    // underflow 0; bin 4 and overflow -> new overflow 3
    val hs = HistAlgebra.slice(spec1,
      Hist.fill(spec1, dfr, Seq(col("x"))), axis = 0, lo = 2, hi = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hs == Map(0L -> 2L, 1L -> 1L, 2L -> 1L, 3L -> 2L))
    intercept[IllegalArgumentException](
      HistAlgebra.slice(spec1, Hist.fill(spec1, dfr, Seq(col("x"))), 0, 0, 4))
    // interpolated quantiles: uniform fill 0.5..99.5 into 10 bins of 10
    // -> quantile q estimates at q*100 exactly (linear within bins)
    val specQ = HistSpec(Seq(Regular(10, 0.0, 100.0)), DoubleStorage)
    val dfq = (0 until 100).map(_ + 0.5).toDF("x")
    val hq = Hist.fill(specQ, dfq, Seq(col("x")))
    val quants = HistAlgebra.quantiles(specQ, hq, Seq(0.25, 0.5, 1.0))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(quants == Map(0.25 -> 25.0, 0.5 -> 50.0, 1.0 -> 100.0))
    // Variable axis: per-bin edge lookup; uneven edges over the same
    // uniform fill still invert to q*100 exactly
    val specV = HistSpec(Seq(Variable(Seq(0.0, 10.0, 30.0, 100.0))),
      DoubleStorage)
    val hv = Hist.fill(specV, dfq, Seq(col("x")))
    val quantsV = HistAlgebra.quantiles(specV, hv, Seq(0.25, 0.5, 1.0))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(quantsV == Map(0.25 -> 25.0, 0.5 -> 50.0, 1.0 -> 100.0))
    intercept[IllegalArgumentException](
      HistAlgebra.quantiles(specQ, hq, Seq(0.0))) // q=0 rank is undefined
    intercept[IllegalArgumentException]( // moment storage: wrong rank space
      HistAlgebra.quantiles(HistSpec(Seq(Regular(10, 0.0, 100.0)),
        WeightStorage), hq, Seq(0.5)))
    intercept[IllegalArgumentException]( // unsupported axis kind
      HistAlgebra.quantiles(HistSpec(Seq(RegularCircular(4, 0.0, 1.0)),
        DoubleStorage), hq, Seq(0.5)))
    // cumulative: last bin carries the total, sequence monotone
    val specD = HistSpec(Seq(Regular(4, 0.0, 4.0)), DoubleStorage)
    val cum = HistAlgebra.cumulative(specD,
      Hist.fill(specD, dfr, Seq(col("x"))))
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(cum.last._2 == 6.0)
    assert(cum.map(_._2).sliding(2).forall(p => p.head <= p.last))
  }

  test("fillDense rejects non-contracting splitEvery") {
    val df = Seq(0.5, 1.5).toDF("x").repartition(4)
    val spec = HistSpec(Seq(Regular(4, 0.0, 4.0)), DoubleStorage)
    // fan-in 1 would loop forever; 0/negative would leave partials unmerged
    for (bad <- Seq(1, 0, -3)) {
      intercept[IllegalArgumentException](
        Hist.fillDense(spec, df, Seq(col("x")), splitEvery = Some(bad)))
    }
  }

  test("denseLong surfaces the integer dtype for Int64 storages") {
    // reference returns int-dtype dense arrays for Int64/AtomicInt64
    // (core.py:1138-1142)
    val df = Seq(0.5, 1.5, 1.6, 3.5, -1.0).toDF("x")
    val spec = HistSpec(Seq(Regular(4, 0.0, 4.0)), Int64Storage)
    val res = HistResult.collect(spec, Hist.fill(spec, df, Seq(col("x"))))
    assert(res.denseLong("value").toSeq == Seq(1L, 1L, 2L, 0L, 1L, 0L))
    // float-valued storage refuses the integer surface
    val dspec = HistSpec(Seq(Regular(4, 0.0, 4.0)), DoubleStorage)
    val dres = HistResult.collect(dspec, Hist.fill(dspec, df, Seq(col("x"))))
    intercept[IllegalArgumentException](dres.denseLong("value"))
  }

  test("percentileRank: binned CDF rank — exact fractions, ties share") {
    // values: 10 x1, 20 x3, 30 x6 over unit bins -> pct = cb/total
    val vals = Seq.fill(1)(10L) ++ Seq.fill(3)(20L) ++ Seq.fill(6)(30L)
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v").repartition(3)
    val spec = HistSpec(Seq(IntegerAxis(0L, 40L)), Int64Storage)
    val h = Hist.fill(spec, df, Seq(col("v")))
    val got = HistAlgebra.percentileRank(spec, h, df, col("v"))
      .select("v", "pct").distinct().as[(Long, Double)].collect().toMap
    assert(got == Map(10L -> 0.0, 20L -> 0.1, 30L -> 0.4))
    // storage guard: moment storages are refused
    val mspec = HistSpec(Seq(IntegerAxis(0L, 40L)), MeanStorage)
    val mh = Hist.fill(mspec, df, Seq(col("v")), sample = Some(col("v")))
    intercept[IllegalArgumentException](
      HistAlgebra.percentileRank(mspec, mh, df, col("v")))
  }

  test("dense engine == groupBy reference: every storage, nulls, NaN, flow, partitionings") {
    val rnd = new scala.util.Random(11)
    def coord(): Option[Double] = rnd.nextInt(40) match {
      case 0 => None
      case 1 => Some(Double.NaN)
      case 2 => Some(Double.PositiveInfinity)
      case 3 => Some(Double.NegativeInfinity)
      case _ => Some(rnd.nextGaussian() * 1.5)
    }
    // by x: all-null weights in [-2, -1) (a NULL sum), zero weights in
    // [-1, 0) (bins with Σw = 0 are still rows), NaN weights past 1
    def weight(x: Option[Double]): Option[Double] = x match {
      case Some(v) if v >= -2 && v < -1 => None
      case Some(v) if v >= -1 && v < 0 => Some(0.0)
      case Some(v) if v >= 1 && rnd.nextInt(50) == 0 => Some(Double.NaN)
      case _ => if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(8) * 0.25)
    }
    // null samples everywhere, and every sample null in circular bin 1
    def sample(y: Option[Double]): Option[Double] = y match {
      case Some(v) if v >= 0 && v < 1 => None
      case _ => rnd.nextInt(12) match {
        case 0 => None
        case 1 => Some(Double.NaN)
        case _ => Some(rnd.nextInt(16) * 0.5 - 3)
      }
    }
    def table(n: Int) = Seq.fill(n) {
      val (x, y) = (coord(), coord())
      (x, y, weight(x), sample(y))
    }.toDF("x", "y", "w", "s")
    val df = table(6000)
    val other = table(3000)
    val xy = Seq(col("x"), col("y"))
    val axes = Seq(Regular(4, -2.0, 2.0), RegularCircular(3, 0.0, 3.0))
    val storages = Seq(DoubleStorage, Int64Storage, AtomicInt64Storage, UnlimitedStorage,
      WeightStorage, MeanStorage, WeightedMeanStorage, ShiftedMeanStorage(1.5),
      ShiftedWeightedMeanStorage(-0.5))
    for (st <- storages) {
      val spec = HistSpec(axes, st)
      def check(fills: Seq[FillSpec], dense: Boolean, clue: String): DataFrame = {
        val h = new Histogram(spec)
        fills.foreach(f => h.fill(f.df, f.cols, f.weight, f.sample))
        val got = h.result(spark)
        assert(denseFills(got).nonEmpty == dense, s"$st $clue: dense engine")
        assertSameHist(got, reference(spec, fills), 2, s"$st $clue")
        got
      }
      for (n <- Seq(1, 7, 13))
        check(Seq(FillSpec(df.repartition(n), xy, Some(col("w")), Some(col("s")))),
          dense = true, s"repartition($n)")
      // non-null inputs get no non-null counts: at most one slot beyond
      // the accumulators, the hit count
      val plain = check(Seq(FillSpec(df, xy, None, Some(coalesce(col("s"), lit(1.0))))),
        dense = true, "non-null inputs")
      assert(denseFills(plain).forall(_.counts.size <= st.accs.size + 1), st)
      // empty: an empty relation stays sparse; a filter that keeps no
      // row is a dense branch that reaches no bin
      check(Seq(FillSpec(df.limit(0), xy, Some(col("w")), Some(col("s")))), dense = false, "empty")
      check(Seq(FillSpec(df.where(col("x") > 100), xy, Some(col("w")), Some(col("s")))),
        dense = true, "no row kept")
      // K fused == K unfused: overlapping filters count a row in each, a
      // NULL condition (null x or s) counts it in none, and a fill over
      // another input gets its own scan
      val fused = check(Seq(
        FillSpec(df.where(col("x") > 0), xy, Some(col("w")), Some(col("s"))),
        FillSpec(df.where(col("x") > -1).where(col("s") > 0), xy, Some(col("w")), Some(col("s"))),
        FillSpec(df, xy, Some(lit(2.0)), Some(col("s"))),
        FillSpec(other, xy, Some(col("w")), Some(col("s")))), dense = true, "fused")
      assert(denseFills(fused).map(_.branches.size).sorted == Seq(1, 3), st)
    }
  }

  test("staged fills over one generated input run one scan and one dense fill") {
    val df = spark.range(0, 200000, 1, 4)
      .select(col("id"), randn(5).as("x"), randn(6).as("y"))
    val xy = Seq(col("x"), col("y"))
    val spec = HistSpec(Seq(Regular(10, -3.0, 3.0), Regular(10, -3.0, 3.0)), DoubleStorage)
    val h = new Histogram(spec).fill(df.where(col("id") % 2 === 0), xy)
      .fill(df.where(col("id") % 2 === 1), xy).result(spark)
    assert(h.collect().map(_.getDouble(2)).sum == 200000.0)
    val nodes = ShuffledShapes.physicalNodes(h)
    def names = nodes.map(_.nodeName).mkString(", ")
    assert(nodes.count(_.isInstanceOf[RangeExec]) == 1, names)
    assert(nodes.count(_.isInstanceOf[DenseFillExec]) == 1, names)
    assert(!nodes.exists(n => n.isInstanceOf[UnionExec] || n.isInstanceOf[HashAggregateExec]),
      names)
  }

  test("a bin space larger than the rows per partition stays on the sparse aggregate") {
    // 10^6 bins over 10^4 rows: a dense buffer would outweigh its rows
    val df = spark.range(0, 10000, 1, 2).select(rand(1).as("x"), rand(2).as("y"))
    val spec = HistSpec(Seq(Regular(998, 0.0, 1.0), Regular(998, 0.0, 1.0)), DoubleStorage)
    val h = Hist.fill(spec, df, Seq(col("x"), col("y")))
    val nodes = ShuffledShapes.physicalNodes(h)
    assert(nodes.exists(_.isInstanceOf[HashAggregateExec]) &&
      !nodes.exists(_.isInstanceOf[DenseFillExec]), nodes.map(_.nodeName).mkString(", "))
    assert(h.collect().map(_.getDouble(2)).sum == 10000.0)
  }

  test("building any fill runs no job") {
    val path = java.nio.file.Files.createTempDirectory("hist-build").resolve("t").toString
    spark.range(0, 20000, 1, 3).select(rand(7).as("x")).write.parquet(path)
    val inputs = Seq(
      "range" -> spark.range(0, 100000, 1, 4).select(rand(1).as("x")),
      "adaptive" -> spark.range(0, 100000, 1, 4).select(rand(2).as("x")).repartition(6),
      "local" -> Seq(0.1, 0.5, 0.9).toDF("x"),
      "parquet" -> spark.read.parquet(path))
    val spec = HistSpec(Seq(Regular(10, 0.0, 1.0)), WeightedMeanStorage)
    val dbl = HistSpec(Seq(Regular(10, 0.0, 1.0)), DoubleStorage)
    for ((name, df) <- inputs) {
      val x = Seq(col("x"))
      val builds = Seq[() => Any](
        () => Hist.fill(spec, df, x, Some(col("x")), Some(col("x"))),
        () => new Histogram(dbl).fill(df.where(col("x") > 0.5), x).fill(df, x).result(spark),
        () => Routines.histogram(df, col("x"), BinsSpec.Count(10), Some(BinsSpec.RangePair(0.0, 1.0))),
        () => Hist.fillDense(dbl, df, x))
      for ((b, i) <- builds.zipWithIndex)
        assert(JobCounts.of(spark)(b())._2 == 0, s"$name build $i")
    }
  }

  /** The shuffle records each task of `body` read, per stage in stage
    * order, for the stages that read any. */
  private def shuffleReads(body: => Any): Seq[Seq[Long]] = {
    val sc = spark.sparkContext
    val reads = new ConcurrentLinkedQueue[(Int, Long)]
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) reads.add(e.stageId -> e.taskMetrics.shuffleReadMetrics.recordsRead)
    }
    GraftShims.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try { body; GraftShims.drainListenerBus(sc) } finally sc.removeSparkListener(listener)
    reads.asScala.toSeq.groupBy(_._1).toSeq.sortBy(_._1).map(_._2.map(_._2)).filter(_.sum > 0)
  }

  /** The executed plans of the queries `body` runs. */
  private def executedPlans(body: => Any): Seq[SparkPlan] = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { body; GraftShims.drainListenerBus(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  test("every merge task reads at most splitEvery buffers") {
    val spec = HistSpec(Seq(Regular(10, 0.0, 1.0)), DoubleStorage)
    for (p <- Seq(10, 9, 64); fanIn <- Seq(2, 8)) {
      val df = spark.range(0, p * 100L, 1, p).select(rand(p).as("x"))
      val clue = s"P = $p, fan-in $fanIn"
      val reads = shuffleReads {
        assert(Hist.fillTree(spec, df, Seq(col("x")), splitEvery = Some(fanIn)).sum == p * 100.0, clue)
      }
      // level k runs ceil(P / fanIn^k) tasks, down to one
      val tasks = Iterator.iterate(p)(g => (g + fanIn - 1) / fanIn).drop(1)
        .takeWhile(_ > 1).toSeq :+ 1
      assert(reads.map(_.size) == tasks, clue)
      assert(reads.flatten.forall(_ <= fanIn), s"$clue: $reads")
    }
  }

  test("dense fills run no interpreted aggregate and no CodegenFallback expression") {
    val df = spark.range(0, 100000, 1, 10).select(rand(1).as("x"), rand(2).as("w"))
    val x = Seq(col("x"))
    val weighted = HistSpec(Seq(Regular(10, 0.0, 1.0)), WeightStorage)
    val dbl = HistSpec(Seq(Regular(10, 0.0, 1.0)), DoubleStorage)
    val runs = Seq[(String, () => Any)](
      "Hist.fill" -> (() => Hist.fill(weighted, df, x, Some(col("w"))).collect()),
      "Histogram.result" -> (() =>
        new Histogram(dbl).fill(df.where(col("x") > 0.5), x).fill(df, x).result(spark).collect()),
      "fillDense" -> (() => Hist.fillDense(dbl, df, x).collect()),
      "fillTree" -> (() => Hist.fillTree(dbl, df, x)))
    for ((name, run) <- runs) {
      val nodes = executedPlans(run()).flatMap(ShuffledShapes.planNodes)
      def names = s"$name: ${nodes.map(_.nodeName).mkString(", ")}"
      assert(nodes.count(_.isInstanceOf[DenseMergeExec]) == 2, names)
      assert(!nodes.exists(_.isInstanceOf[ObjectHashAggregateExec]), names)
      assert(!nodes.flatMap(_.expressions).exists(_.exists(_.isInstanceOf[CodegenFallback])), names)
    }
    // the merged buffer is one partition: a sort adds no exchange
    val d = Hist.fillDense(dbl, df, x)
    val sorted = d.orderBy("i0")
    assert(exchanges(sorted) == exchanges(d))
    assert(sorted.collect().map(_.getLong(0)).toSeq == (0L to 11L))
  }

  test("a fill over an input with no partitions merges to the zero buffer") {
    val spec = HistSpec(Seq(Regular(4, 0.0, 1.0)), DoubleStorage)
    val schema = StructType(Seq(StructField("x", DoubleType)))
    val inputs = Seq(
      "local" -> Seq.empty[Double].toDF("x"),
      "rdd" -> spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema))
    for ((name, df) <- inputs) {
      assert(DenseFill.plannedPartitions(df) == 0, name)
      assert(Hist.fillTree(spec, df, Seq(col("x"))).toSeq == Seq.fill(6)(0.0), name)
      assert(Hist.fillDense(spec, df, Seq(col("x"))).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toSeq.sorted == (0L to 5L).map(_ -> 0.0), name)
    }
  }

  test("DenseMerge sums each group's buffers, is estimated at one row each, rejects a wrong length") {
    val buffers = Seq(Seq(1.0, 2.0, 3.0), Seq(0.5, 0.5, 0.5), Seq(4.0, 0.0, 1.0)).toDF("__h")
      .repartition(3)
    val merged = DenseFill.merge(buffers, 1, 3)
    assert(merged.collect().map(_.getSeq[Double](0)).toSeq == Seq(Seq(5.5, 2.5, 4.5)))
    // however large the input, like an aggregate without grouping
    assert(merged.queryExecution.optimizedPlan.stats.rowCount.contains(1))
    assert(DenseFill.merge(buffers, 2, 3).queryExecution.optimizedPlan.stats.rowCount.contains(2))
    val e = intercept[Exception](DenseFill.merge(buffers, 1, 2).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("buffer length 3 != 2")), e.toString)
  }
}
