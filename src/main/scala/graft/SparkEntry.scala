package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.hist._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query returns a deterministic (ORDER BY'd) DataFrame whose
  * columns/values hash-match the DuckDB oracle SQL in [[oracleSql]] run on
  * the same parquet. Bin-index SQL is *generated from the same Axis
  * objects* used by the Spark plan, so the two sides can't drift.
  *
  * Floating-point discipline (driver hashes values exactly):
  *  - count aggregates are exact;
  *  - sums of fixed-decimal columns (quantity integral; discount/tax
  *    2-decimal) have decimal-exact true values, so `round(x, 6)` (or 2 for
  *    price-magnitude sums) puts both engines' ulp-level differences in the
  *    same bucket with margin ~1e9;
  *  - derived ratios (mean/wmean/density) round at 6 with error ≪ bucket;
  *  - aggregates over raw floats are summation-order-dependent across
  *    engines and must NOT be rounded — quantize the inputs to integers
  *    and emit the derived value UNROUNDED (bit-identical by IEEE);
  *    the full per-column audit and safety classes live in FIXTURES.md §6.
  */
object SparkEntry {

  // ---- shared axis definitions (Spark expr + oracle SQL from one object)
  private val axPrice = Regular(20, 900.0, 105000.0)
  private val axQty = Variable(Seq(1.0, 10.0, 25.0, 40.0, 51.0))
  // Large Variable axis (1000 bins, percentile-shaped quadratic spacing —
  // the latency-histogram regime): > Variable.LadderMaxEdges edges, so the
  // Spark side takes the O(log n) binary-search expression
  // (functions.VariableBinIndex) while the oracle keeps the equivalent
  // CASE ladder. Reference accepts arbitrary edge seqs (routines.py:444-447).
  private val axPriceBig = Variable((0 to 1000).map { i =>
    val f = i.toDouble / 1000.0
    900.0 + (105000.0 - 900.0) * f * f
  })
  // NumPy upper-edge-inclusive mode exercised on real boundary hits:
  // l_quantity tops out at exactly 50.0, the axis hi
  private val axQtyInc = Regular(7, 1.0, 50.0, upperInclusive = true)
  private val axQtyR = Regular(10, 1.0, 51.0)
  // sqrt-transform axis (boost Regular(transform=sqrt)): IEEE sqrt is
  // correctly rounded on both engines — no libm-twin caveat
  private val axPriceSqrt = RegularSqrt(12, 0.0, 105000.0)
  private val axDisc = Regular(11, 0.0, 0.11)
  private val axTax = Regular(9, 0.0, 0.09)
  private val axLine = IntegerAxis(1L, 8L)

  // shift for the stable price-mean storage: any constant within ~1 std of
  // the data's location removes the cancellation; a round number keeps the
  // oracle SQL legible
  private val priceShift = 30000.0

  private val cutoff = "1995-06-01 00:00:00"
  // to_timestamp parses in the SESSION timezone (UTC); a
  // java.sql.Timestamp.valueOf literal would bind to the JVM default TZ
  // and shift the slice boundary relative to the oracle's naive literal
  private def cutTs: org.apache.spark.sql.Column = to_timestamp(lit(cutoff))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * densified 2-D weighted histogram (discount × tax, weight=quantity). */
  def entry(spark: SparkSession): DataFrame = {
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
    val spec = HistSpec(Seq(axDisc, axTax), DoubleStorage)
    val h = Hist.fill(spec, li, Seq(col("l_discount"), col("l_tax")),
      weight = Some(col("l_quantity")))
    Hist.densify(spec, h).orderBy("i0", "i1")
  }

  /** One entry per implemented operator from SURVEY.md §2, plus the
    * LLM-pipeline extensions (ExtensionQueries). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    histQueries ++ ExtensionQueries.queries

  def oracleSql: Map[String, String] =
    histOracleSql ++ ExtensionQueries.oracleSql

  private def histQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // N1 + A1: 1-D Regular histogram, Int64 (count) storage
    "hist1d_regular" -> { (s, dir) =>
      val (spec, h) = Routines.histogram(Tables.lineitem(s, dir),
        col("l_extendedprice"), BinsSpec.Count(axPrice.n),
        Some(BinsSpec.RangePair(axPrice.lo, axPrice.hi)), storage = Int64Storage)
      h.orderBy("i0")
    },
    // A1 + Double storage with weight column (sums of integral quantities)
    "hist1d_weighted" -> { (s, dir) =>
      val (_, h) = Routines.histogram(Tables.lineitem(s, dir),
        col("l_extendedprice"), BinsSpec.Count(axPrice.n),
        Some(BinsSpec.RangePair(axPrice.lo, axPrice.hi)),
        weights = Some(col("l_quantity")))
      h.withColumn("value", round(col("value"), 6)).orderBy("i0")
    },
    // Variable axis + Weight storage (value=Σw, variance=Σw²)
    "hist1d_variable_weight" -> { (s, dir) =>
      val spec = HistSpec(Seq(axQty), WeightStorage)
      Hist.fill(spec, Tables.lineitem(s, dir), Seq(col("l_quantity")),
          weight = Some(col("l_discount")))
        .withColumn("value", round(col("value"), 6))
        .withColumn("variance", round(col("variance"), 6))
        .orderBy("i0")
    },
    // sqrt-transform axis: bins uniform in sqrt(x)
    "hist1d_sqrt" -> { (s, dir) =>
      val spec = HistSpec(Seq(axPriceSqrt), Int64Storage)
      Hist.fill(spec, Tables.lineitem(s, dir), Seq(col("l_extendedprice")))
        .orderBy("i0")
    },
    // 1000-bin Variable axis: binary-search bin path (large-axis regime)
    "hist1d_variable_1000" -> { (s, dir) =>
      val spec = HistSpec(Seq(axPriceBig), Int64Storage)
      Hist.fill(spec, Tables.lineitem(s, dir), Seq(col("l_extendedprice")))
        .orderBy("i0")
    },
    // NumPy edge mode (reference boost.py:413-416 divergence note): the
    // last bin is closed, so the 1175 rows with l_quantity == 50.0 land
    // in bin n instead of overflow
    "hist_upper_edge" -> { (s, dir) =>
      val spec = HistSpec(Seq(axQtyInc), Int64Storage)
      Hist.fill(spec, Tables.lineitem(s, dir), Seq(col("l_quantity"))).orderBy("i0")
    },
    // A2/N2: 2-D histogram, count storage
    "hist2d_regular" -> { (s, dir) =>
      val (_, h) = Routines.histogram2d(Tables.lineitem(s, dir),
        col("l_discount"), col("l_tax"),
        BinsSpec.CountPerDim(Seq(axDisc.n, axTax.n)),
        Some(Seq(Some(BinsSpec.RangePair(axDisc.lo, axDisc.hi)),
          Some(BinsSpec.RangePair(axTax.lo, axTax.hi)))),
        storage = Int64Storage)
      h.orderBy("i0", "i1")
    },
    // N3: 3-D histogram
    "hist3d_count" -> { (s, dir) =>
      val spec = HistSpec(Seq(axQtyR, axDisc, axTax), Int64Storage)
      Hist.fill(spec, Tables.lineitem(s, dir),
          Seq(col("l_quantity"), col("l_discount"), col("l_tax")))
        .orderBy("i0", "i1", "i2")
    },
    // Mean storage (n, Σs, Σs², mean) — sample kept small-magnitude (tax)
    "hist_mean_storage" -> { (s, dir) =>
      val spec = HistSpec(Seq(axQtyR), MeanStorage)
      Hist.fill(spec, Tables.lineitem(s, dir), Seq(col("l_quantity")),
          sample = Some(col("l_tax")))
        .withColumn("sum_s", round(col("sum_s"), 6))
        .withColumn("sum_s2", round(col("sum_s2"), 6))
        .withColumn("mean", round(col("mean"), 6))
        .withColumn("variance", round(col("variance"), 8))
        .orderBy("i0")
    },
    // WeightedMean storage
    "hist_wmean_storage" -> { (s, dir) =>
      val spec = HistSpec(Seq(axQtyR), WeightedMeanStorage)
      Hist.fill(spec, Tables.lineitem(s, dir), Seq(col("l_quantity")),
          weight = Some(col("l_discount")), sample = Some(col("l_tax")))
        .withColumn("sum_w", round(col("sum_w"), 6))
        .withColumn("sum_w2", round(col("sum_w2"), 6))
        .withColumn("sum_ws", round(col("sum_ws"), 6))
        .withColumn("sum_ws2", round(col("sum_ws2"), 6))
        .withColumn("wmean", round(col("wmean"), 6))
        .withColumn("wvariance", round(col("wvariance"), 8))
        .orderBy("i0")
    },
    // Growable StrCategory axis = group-by on the raw value (A11)
    "hist_strcat" -> { (s, dir) =>
      val spec = HistSpec(Seq(StrCategory()), Int64Storage)
      Hist.fill(spec, Tables.orders(s, dir), Seq(col("o_orderpriority")))
        .orderBy("i0")
    },
    // Growable IntCategory axis
    "hist_intcat" -> { (s, dir) =>
      val spec = HistSpec(Seq(IntCategory()), Int64Storage)
      Hist.fill(spec, Tables.lineitem(s, dir), Seq(col("l_linenumber")))
        .orderBy("i0")
    },
    // Integer axis (unit bins, clamped flow)
    "hist_integer_axis" -> { (s, dir) =>
      val spec = HistSpec(Seq(axLine), Int64Storage)
      Hist.fill(spec, Tables.lineitem(s, dir), Seq(col("l_linenumber")))
        .orderBy("i0")
    },
    // Boolean axis
    "hist_bool" -> { (s, dir) =>
      val spec = HistSpec(Seq(BooleanAxis()), Int64Storage)
      Hist.fill(spec, Tables.lineitem(s, dir), Seq(col("l_discount") > 0.05))
        .orderBy("i0")
    },
    // A5: staged multi-fill fused into one aggregation (scalar weight
    // broadcast on the second fill, ref tests/test_core.py:350-359)
    "hist_multifill" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      val hb = new Histogram(HistSpec(Seq(axPrice), DoubleStorage))
      hb.fill(li.filter(col("l_shipdate") < cutTs), Seq(col("l_extendedprice")))
      hb.fill(li.filter(col("l_shipdate") >= cutTs), Seq(col("l_extendedprice")),
        weight = Some(lit(0.5)))
      hb.result(s).withColumn("value", round(col("value"), 6)).orderBy("i0")
    },
    // A12: histogram algebra — full-outer-join ops between two slices
    "hist_add" -> { (s, dir) => algebraQuery(s, dir, HistAlgebra.Add) },
    "hist_sub" -> { (s, dir) => algebraQuery(s, dir, HistAlgebra.Sub) },
    "hist_mul" -> { (s, dir) => algebraQuery(s, dir, HistAlgebra.Mul) },
    // Weight-storage `+` (bh merges (Σw, Σw²) by addition — ref
    // tests/test_core.py:207-305 with storage != Double)
    "hist_add_weight" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      val spec = HistSpec(Seq(axQtyR), WeightStorage)
      val h1 = Hist.fill(spec, li.filter(col("l_shipdate") < cutTs),
        Seq(col("l_quantity")), weight = Some(col("l_discount")))
      val h2 = Hist.fill(spec, li.filter(col("l_shipdate") >= cutTs),
        Seq(col("l_quantity")), weight = Some(col("l_discount")))
      HistAlgebra.binOp(spec, h1, h2, HistAlgebra.Add)
        .withColumn("value", round(col("value"), 6))
        .withColumn("variance", round(col("variance"), 6))
        .orderBy("i0")
    },
    // Mean-storage `+`: the (n, Σs, Σs²) sums merge by addition and the
    // mean/variance views re-derive from the MERGED sums (binOp's
    // finalizer refresh — stale pass-through would be wrong)
    "hist_add_mean" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      val spec = HistSpec(Seq(axQtyR), MeanStorage)
      val h1 = Hist.fill(spec, li.filter(col("l_shipdate") < cutTs),
        Seq(col("l_quantity")), sample = Some(col("l_tax")))
      val h2 = Hist.fill(spec, li.filter(col("l_shipdate") >= cutTs),
        Seq(col("l_quantity")), sample = Some(col("l_tax")))
      HistAlgebra.binOp(spec, h1, h2, HistAlgebra.Add)
        .withColumn("sum_s", round(col("sum_s"), 6))
        .withColumn("sum_s2", round(col("sum_s2"), 6))
        .withColumn("mean", round(col("mean"), 6))
        .withColumn("variance", round(col("variance"), 8))
        .orderBy("i0")
    },
    // marginal projection: 2-D fill summed over the tax axis == the 1-D
    // discount histogram (every row lands in SOME tax bin incl. flow)
    "hist_marginal" -> { (s, dir) =>
      val spec = HistSpec(Seq(axDisc, axTax), Int64Storage)
      val h = Hist.fill(spec, Tables.lineitem(s, dir),
        Seq(col("l_discount"), col("l_tax")))
      HistAlgebra.project(spec, h, Seq(0)).orderBy("i0")
    },
    // rebin by 4: 20 interior price bins merge to 5, flow bins preserved
    "hist_rebin" -> { (s, dir) =>
      val spec = HistSpec(Seq(axPrice), DoubleStorage)
      val h = Hist.fill(spec, Tables.lineitem(s, dir),
        Seq(col("l_extendedprice")))
      HistAlgebra.rebin(spec, h, axis = 0, k = 4).orderBy("i0")
    },
    // slice [3, 8) of the 10 quantity bins: outside content accumulates
    // into the new flow bins (boost's h[a:b] default)
    "hist_slice" -> { (s, dir) =>
      val spec = HistSpec(Seq(axQtyR), DoubleStorage)
      val h = Hist.fill(spec, Tables.lineitem(s, dir), Seq(col("l_quantity")))
      HistAlgebra.slice(spec, h, axis = 0, lo = 3, hi = 8).orderBy("i0")
    },
    // cumulative (CDF view): running sum over the bin-count-sized result
    "hist_cdf" -> { (s, dir) =>
      val spec = HistSpec(Seq(axQtyR), DoubleStorage)
      val h = Hist.fill(spec, Tables.lineitem(s, dir), Seq(col("l_quantity")))
      HistAlgebra.cumulative(spec, h)
        .withColumn("cum_value", round(col("cum_value"), 6)).orderBy("i0")
    },
    // interpolated quantiles from the filled histogram (the latency-
    // histogram estimator: rank -> bin -> linear interpolation)
    "hist_quantiles" -> { (s, dir) =>
      val spec = HistSpec(Seq(axQtyR), DoubleStorage)
      val h = Hist.fill(spec, Tables.lineitem(s, dir), Seq(col("l_quantity")))
      HistAlgebra.quantiles(spec, h, Seq(0.25, 0.5, 0.9, 0.99)).orderBy("q")
    },
    // WEIGHTED quantiles: DoubleStorage value = Σw, so the rank space is
    // weighted mass (weight = l_quantity, integer-valued -> exact double
    // sums, class-E interpolation)
    "hist_quantiles_weighted" -> { (s, dir) =>
      val spec = HistSpec(Seq(axPrice), DoubleStorage)
      val h = Hist.fill(spec, Tables.lineitem(s, dir),
        Seq(col("l_extendedprice")), weight = Some(col("l_quantity")))
      HistAlgebra.quantiles(spec, h, Seq(0.25, 0.5, 0.9)).orderBy("q")
    },
    // quantiles over percentile-shaped (Variable) edges — the latency-
    // histogram use case: per-bin edge lookup instead of the Regular
    // closed form
    "hist_quantiles_variable" -> { (s, dir) =>
      val spec = HistSpec(Seq(axQty), DoubleStorage)
      val h = Hist.fill(spec, Tables.lineitem(s, dir), Seq(col("l_quantity")))
      HistAlgebra.quantiles(spec, h, Seq(0.25, 0.5, 0.9, 0.99)).orderBy("q")
    },
    // div on common support (HistAlgebra.binOp's documented divergence
    // mode: engines disagree on 0-divisor forms, boost IEEE semantics
    // live behind commonSupportOnly = false)
    "hist_div" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      val spec = HistSpec(Seq(axQtyR), DoubleStorage)
      val h1 = Hist.fill(spec, li.filter(col("l_shipdate") < cutTs), Seq(col("l_quantity")))
      val h2 = Hist.fill(spec, li.filter(col("l_shipdate") >= cutTs), Seq(col("l_quantity")))
      HistAlgebra.binOp(spec, h1, h2, HistAlgebra.Div, commonSupportOnly = true)
        .withColumn("value", round(col("value"), 6))
        .orderBy("i0")
    },
    // A12 scalar / array operands (ref tests/test_core.py:207-305)
    "hist_scalar_mul" -> { (s, dir) =>
      val spec = HistSpec(Seq(axQtyR), DoubleStorage)
      val h = Hist.fill(spec, Tables.lineitem(s, dir), Seq(col("l_quantity")))
      HistAlgebra.scalarOp(spec, h, 2.5, HistAlgebra.Mul)
        .withColumn("value", round(col("value"), 6)).orderBy("i0")
    },
    "hist_array_add" -> { (s, dir) =>
      val spec = HistSpec(Seq(axQtyR), DoubleStorage)
      val h = Hist.fill(spec, Tables.lineitem(s, dir), Seq(col("l_quantity")))
      HistAlgebra.arrayOp(spec, h, (1 to axQtyR.n).map(_ * 10.0), HistAlgebra.Add)
        .withColumn("value", round(col("value"), 6)).orderBy("i0")
    },
    // Fixed category list with explicit overflow key (non-growth axis)
    "hist_fixedcat" -> { (s, dir) =>
      val spec = HistSpec(Seq(StrCategory(Seq("1-URGENT", "2-HIGH"), growth = false)),
        Int64Storage)
      Hist.fill(spec, Tables.orders(s, dir), Seq(col("o_orderpriority")))
        .orderBy("i0")
    },
    // 5-D mixed axes (ref tests/test_boost.py:115-154: strcat × intcat ×
    // 3 regular, Weight storage)
    "hist_5d_mixed" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      val spec = HistSpec(Seq(StrCategory(), IntCategory(), axQtyR, axDisc, axTax),
        WeightStorage)
      Hist.fill(spec, li,
          Seq(col("l_returnflag"), col("l_linenumber"), col("l_quantity"),
            col("l_discount"), col("l_tax")),
          weight = Some(col("l_discount")))
        .withColumn("value", round(col("value"), 6))
        .withColumn("variance", round(col("variance"), 6))
        .orderBy("i0", "i1", "i2", "i3", "i4")
    },
    // S2: 2-D dense grid
    "hist_dense2d" -> { (s, dir) =>
      val spec = HistSpec(Seq(axDisc, axTax), DoubleStorage)
      val h = Hist.fill(spec, Tables.lineitem(s, dir),
        Seq(col("l_discount"), col("l_tax")))
      Hist.densify(spec, h, flow = true)
        .withColumn("value", round(col("value"), 6)).orderBy("i0", "i1")
    },
    // A9: partitioned (pre-reduction) histograms. Deterministic bucket key
    // (pmod of orderkey) -> oracle-checkable; the physical-partition-id
    // variant (Hist.fillPartitioned) keeps the exact reference surface.
    "hist_partitioned" -> { (s, dir) =>
      val spec = HistSpec(Seq(axQtyR), DoubleStorage)
      Hist.fillPartitionedBy(spec, Tables.lineitem(s, dir),
          pmod(col("l_orderkey"), lit(4L)), Seq(col("l_quantity")))
        .withColumn("value", round(col("value"), 6))
        .orderBy("partition", "i0")
    },
    // S2: densified 1-D histogram with flow bins (zero-filled grid)
    "hist_dense1d" -> { (s, dir) =>
      val spec = HistSpec(Seq(axQtyR), DoubleStorage)
      val h = Hist.fill(spec, Tables.lineitem(s, dir), Seq(col("l_quantity")))
      Hist.densify(spec, h, flow = true)
        .withColumn("value", round(col("value"), 6)).orderBy("i0")
    },
    // A4: ragged (awkward-style) input — explode an array column, then the
    // ordinary fill; no mock-execution machinery needed (static schemas)
    "hist_ragged" -> { (s, dir) =>
      val spec = HistSpec(Seq(IntegerAxis(1L, 12L)), Int64Storage)
      val toks = Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("tok"))
        .select(length(col("tok")).as("toklen"))
      Hist.fill(spec, toks, Seq(col("toklen"))).orderBy("i0")
    },
    // Staged fills with scalar category coordinates riding as literals
    // (ref tests/test_boost.py:115-154: per-fill category constants)
    "hist_multifill_cat" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      val spec = HistSpec(Seq(StrCategory(), axPrice), DoubleStorage)
      val hb = new Histogram(spec)
      hb.fill(li.filter(col("l_shipdate") < cutTs),
        Seq(lit("early"), col("l_extendedprice")))
      hb.fill(li.filter(col("l_shipdate") >= cutTs),
        Seq(lit("late"), col("l_extendedprice")), weight = Some(lit(2.0)))
      hb.result(s).withColumn("value", round(col("value"), 6))
        .orderBy("i0", "i1")
    },
    // Dense fast path — same answer as the zero-filled dense grid, via one
    // double[] buffer per partition filled in the scan's codegen loop
    "hist_dense_fast" -> { (s, dir) =>
      val spec = HistSpec(Seq(axQtyR), DoubleStorage)
      Hist.fillDense(spec, Tables.lineitem(s, dir), Seq(col("l_quantity")))
        .withColumn("value", round(col("value"), 6)).orderBy("i0")
    },
    // N-D dense fast path with the bounded-fan-in merge tree forced on
    // (splitEvery = 2 ⇒ depth ⌈log₂ P⌉ — every reducer merges ≤ 2 buffers,
    // the reference's split_every semantic on the dense path)
    "hist_dense_fast2d" -> { (s, dir) =>
      val spec = HistSpec(Seq(axDisc, axTax), DoubleStorage)
      Hist.fillDense(spec, Tables.lineitem(s, dir),
          Seq(col("l_discount"), col("l_tax")), splitEvery = Some(2))
        .withColumn("value", round(col("value"), 6)).orderBy("i0", "i1")
    },
    // Numerically stable mean/variance at price magnitude: ShiftedMean
    // storage (shifted associative sums) — the naive Σs²−(Σs)²/n form
    // cancels catastrophically for |mean| ≫ std samples; shifting by a
    // constant near the data's location keeps plain portable sums AND the
    // digits (see StorageStableSpec for the differential demonstration)
    "hist_mean_price" -> { (s, dir) =>
      val spec = HistSpec(Seq(axQtyR), ShiftedMeanStorage(priceShift))
      Hist.fill(spec, Tables.lineitem(s, dir), Seq(col("l_quantity")),
          sample = Some(col("l_extendedprice")))
        .select(col("i0"), col("n"),
          round(col("sum_d"), 2).as("sum_d"),
          round(col("mean"), 6).as("mean"),
          // variance of price-magnitude samples is O(1e8): integer-digit
          // rounding keeps both engines' ulp-level sum differences in the
          // same bucket with wide margin
          round(col("variance"), 0).as("variance"))
        .orderBy("i0")
    },
    // Circular (wrap-around) axis — quantity wrapped on a period of 7
    "hist_circular" -> { (s, dir) =>
      val ax = RegularCircular(7, 0.0, 7.0)
      val spec = HistSpec(Seq(ax), Int64Storage)
      Hist.fill(spec, Tables.lineitem(s, dir), Seq(col("l_quantity")))
        .orderBy("i0")
    },
    // percentiles straight off the log-axis histogram — THE monitoring
    // estimator (log-bucketed latency -> interpolated p50/p90/p99) via
    // the per-bin edge lookup
    "hist_quantiles_log" -> { (s, dir) =>
      val ax = RegularLog(8, 1000.0, 100000.0)
      val spec = HistSpec(Seq(ax), DoubleStorage)
      val h = Hist.fill(spec, Tables.lineitem(s, dir), Seq(col("l_extendedprice")))
      HistAlgebra.quantiles(spec, h, Seq(0.5, 0.9, 0.99)).orderBy("q")
    },
    // Log-transformed axis over prices
    "hist_log_axis" -> { (s, dir) =>
      val ax = RegularLog(8, 1000.0, 100000.0)
      val spec = HistSpec(Seq(ax), Int64Storage)
      Hist.fill(spec, Tables.lineitem(s, dir), Seq(col("l_extendedprice")))
        .orderBy("i0")
    },
    // A14 done right: density normalization
    "hist_density" -> { (s, dir) =>
      val spec = HistSpec(Seq(axPrice), DoubleStorage)
      val h = Hist.fill(spec, Tables.lineitem(s, dir), Seq(col("l_extendedprice")))
      Hist.density(spec, h)
        .select(col("i0"), round(col("value"), 6).as("value"),
          round(col("density"), 9).as("density"))
        .orderBy("i0")
    },
  )

  private def algebraQuery(s: SparkSession, dir: String,
      op: HistAlgebra.Op): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val spec = HistSpec(Seq(axQtyR), DoubleStorage)
    val h1 = Hist.fill(spec, li.filter(col("l_shipdate") < cutTs),
      Seq(col("l_quantity")))
    val h2 = Hist.fill(spec, li.filter(col("l_shipdate") >= cutTs),
      Seq(col("l_quantity")))
    HistAlgebra.binOp(spec, h1, h2, op)
      .withColumn("value", round(col("value"), 6)).orderBy("i0")
  }

  // ---------------------------------------------------------------------
  // Oracle SQL (DuckDB). Bin-index CASE expressions generated from the
  // same Axis objects as the Spark plans above.
  // ---------------------------------------------------------------------
  // The driver exposes each parquet table as a DuckDB relation named by
  // table (see builder-prompt example: `FROM lineitem`).
  private def li() = "lineitem"
  private val ord = "orders"

  private def histOracleSql: Map[String, String] = Map(
    "hist1d_regular" ->
      s"""SELECT ${axPrice.sqlExpr("l_extendedprice")} AS i0, count(*) AS value
         |FROM ${li()} GROUP BY 1 ORDER BY i0""".stripMargin,
    "hist1d_weighted" ->
      s"""SELECT ${axPrice.sqlExpr("l_extendedprice")} AS i0,
         |round(sum(l_quantity), 6) AS value
         |FROM ${li()} GROUP BY 1 ORDER BY i0""".stripMargin,
    "hist1d_variable_weight" ->
      s"""SELECT CAST(${axQty.sqlExpr("l_quantity")} AS BIGINT) AS i0,
         |round(sum(l_discount), 6) AS value,
         |round(sum(l_discount * l_discount), 6) AS variance
         |FROM ${li()} GROUP BY 1 ORDER BY i0""".stripMargin,
    "hist1d_sqrt" ->
      s"""SELECT ${axPriceSqrt.sqlExpr("l_extendedprice")} AS i0,
         |count(*) AS value
         |FROM ${li()} GROUP BY 1 ORDER BY i0""".stripMargin,
    "hist1d_variable_1000" ->
      s"""SELECT CAST(${axPriceBig.sqlExpr("l_extendedprice")} AS BIGINT) AS i0,
         |count(*) AS value
         |FROM ${li()} GROUP BY 1 ORDER BY i0""".stripMargin,
    "hist_upper_edge" ->
      s"""SELECT ${axQtyInc.sqlExpr("l_quantity")} AS i0, count(*) AS value
         |FROM ${li()} GROUP BY 1 ORDER BY i0""".stripMargin,
    "hist2d_regular" ->
      s"""SELECT ${axDisc.sqlExpr("l_discount")} AS i0,
         |${axTax.sqlExpr("l_tax")} AS i1, count(*) AS value
         |FROM ${li()} GROUP BY 1, 2 ORDER BY i0, i1""".stripMargin,
    "hist3d_count" ->
      s"""SELECT ${axQtyR.sqlExpr("l_quantity")} AS i0,
         |${axDisc.sqlExpr("l_discount")} AS i1,
         |${axTax.sqlExpr("l_tax")} AS i2, count(*) AS value
         |FROM ${li()} GROUP BY 1, 2, 3 ORDER BY i0, i1, i2""".stripMargin,
    "hist_mean_storage" ->
      s"""SELECT ${axQtyR.sqlExpr("l_quantity")} AS i0, count(l_tax) AS n,
         |round(sum(l_tax), 6) AS sum_s, round(sum(l_tax * l_tax), 6) AS sum_s2,
         |round(sum(l_tax) / count(l_tax), 6) AS mean,
         |round(CASE WHEN count(l_tax) > 1 THEN
         |  (sum(l_tax * l_tax) - sum(l_tax) * sum(l_tax) / count(l_tax))
         |  / (count(l_tax) - 1) END, 8) AS variance
         |FROM ${li()} GROUP BY 1 ORDER BY i0""".stripMargin,
    "hist_wmean_storage" ->
      s"""SELECT ${axQtyR.sqlExpr("l_quantity")} AS i0,
         |round(sum(l_discount), 6) AS sum_w,
         |round(sum(l_discount * l_discount), 6) AS sum_w2,
         |round(sum(l_discount * l_tax), 6) AS sum_ws,
         |round(sum(l_discount * l_tax * l_tax), 6) AS sum_ws2,
         |round(sum(l_discount * l_tax) / sum(l_discount), 6) AS wmean,
         |round(CASE WHEN sum(l_discount) * sum(l_discount) > sum(l_discount * l_discount) THEN
         |  (sum(l_discount * l_tax * l_tax) - sum(l_discount * l_tax) * sum(l_discount * l_tax) / sum(l_discount))
         |  / (sum(l_discount) - sum(l_discount * l_discount) / sum(l_discount)) END, 8) AS wvariance
         |FROM ${li()} GROUP BY 1 ORDER BY i0""".stripMargin,
    "hist_strcat" ->
      s"SELECT o_orderpriority AS i0, count(*) AS value FROM $ord GROUP BY 1 ORDER BY i0",
    "hist_intcat" ->
      s"""SELECT CAST(l_linenumber AS BIGINT) AS i0, count(*) AS value
         |FROM ${li()} GROUP BY 1 ORDER BY i0 NULLS FIRST""".stripMargin,
    "hist_integer_axis" ->
      s"""SELECT ${axLine.sqlExpr("l_linenumber")} AS i0, count(*) AS value
         |FROM ${li()} GROUP BY 1 ORDER BY i0""".stripMargin,
    "hist_bool" ->
      s"""SELECT CAST(CASE WHEN (l_discount > 0.05) IS NULL THEN 0
         |WHEN l_discount > 0.05 THEN 2 ELSE 1 END AS BIGINT) AS i0,
         |count(*) AS value FROM ${li()} GROUP BY 1 ORDER BY i0""".stripMargin,
    "hist_multifill" ->
      s"""SELECT i0, CAST(round(sum(w), 6) AS DOUBLE) AS value FROM (
         |  SELECT ${axPrice.sqlExpr("l_extendedprice")} AS i0, 1.0 AS w
         |  FROM ${li()} WHERE l_shipdate < TIMESTAMP '$cutoff'
         |  UNION ALL
         |  SELECT ${axPrice.sqlExpr("l_extendedprice")} AS i0, 0.5 AS w
         |  FROM ${li()} WHERE l_shipdate >= TIMESTAMP '$cutoff'
         |) GROUP BY 1 ORDER BY i0""".stripMargin,
    "hist_add" -> algebraOracle("+"),
    "hist_sub" -> algebraOracle("-"),
    "hist_mul" -> algebraOracle("*"),
    // mirrors binOp's merge order: per-subset sums first, THEN add, THEN
    // round — within-subset FP order differs across engines (the 6-dp
    // tolerance the plain storage queries already rely on)
    "hist_add_weight" ->
      s"""SELECT COALESCE(a.i0, b.i0) AS i0,
         |round(COALESCE(a.v, 0.0) + COALESCE(b.v, 0.0), 6) AS value,
         |round(COALESCE(a.vv, 0.0) + COALESCE(b.vv, 0.0), 6) AS variance FROM (
         |  SELECT ${axQtyR.sqlExpr("l_quantity")} AS i0, sum(l_discount) AS v,
         |    sum(l_discount * l_discount) AS vv
         |  FROM ${li()} WHERE l_shipdate < TIMESTAMP '$cutoff' GROUP BY 1
         |) a FULL OUTER JOIN (
         |  SELECT ${axQtyR.sqlExpr("l_quantity")} AS i0, sum(l_discount) AS v,
         |    sum(l_discount * l_discount) AS vv
         |  FROM ${li()} WHERE l_shipdate >= TIMESTAMP '$cutoff' GROUP BY 1
         |) b ON a.i0 = b.i0 ORDER BY i0""".stripMargin,
    "hist_add_mean" ->
      s"""WITH a AS (
         |  SELECT ${axQtyR.sqlExpr("l_quantity")} AS i0,
         |    CAST(count(l_tax) AS DOUBLE) AS n, sum(l_tax) AS s,
         |    sum(l_tax * l_tax) AS s2
         |  FROM ${li()} WHERE l_shipdate < TIMESTAMP '$cutoff' GROUP BY 1),
         |b AS (
         |  SELECT ${axQtyR.sqlExpr("l_quantity")} AS i0,
         |    CAST(count(l_tax) AS DOUBLE) AS n, sum(l_tax) AS s,
         |    sum(l_tax * l_tax) AS s2
         |  FROM ${li()} WHERE l_shipdate >= TIMESTAMP '$cutoff' GROUP BY 1),
         |m AS (
         |  SELECT COALESCE(a.i0, b.i0) AS i0,
         |    COALESCE(a.n, 0.0) + COALESCE(b.n, 0.0) AS n,
         |    COALESCE(a.s, 0.0) + COALESCE(b.s, 0.0) AS s,
         |    COALESCE(a.s2, 0.0) + COALESCE(b.s2, 0.0) AS s2
         |  FROM a FULL OUTER JOIN b ON a.i0 = b.i0)
         |SELECT i0, n, round(s, 6) AS sum_s, round(s2, 6) AS sum_s2,
         |  round(s / n, 6) AS mean,
         |  round(CASE WHEN n > 1 THEN (s2 - s * s / n) / (n - 1) END, 8) AS variance
         |FROM m ORDER BY i0""".stripMargin,
    "hist_marginal" ->
      s"""SELECT ${axDisc.sqlExpr("l_discount")} AS i0, count(*) AS value
         |FROM ${li()} GROUP BY 1 ORDER BY i0""".stripMargin,
    "hist_rebin" ->
      s"""WITH h AS (
         |  SELECT ${axPrice.sqlExpr("l_extendedprice")} AS i0, sum(1.0) AS v
         |  FROM ${li()} GROUP BY 1)
         |SELECT CAST(CASE WHEN i0 = 0 THEN 0 WHEN i0 = 21 THEN 6
         |  ELSE (i0 - 1) // 4 + 1 END AS BIGINT) AS i0,
         |CAST(sum(v) AS DOUBLE) AS value
         |FROM h GROUP BY 1 ORDER BY i0""".stripMargin,
    "hist_slice" ->
      s"""WITH h AS (
         |  SELECT ${axQtyR.sqlExpr("l_quantity")} AS i0, sum(1.0) AS v
         |  FROM ${li()} GROUP BY 1)
         |SELECT CAST(CASE WHEN i0 < 3 THEN 0 WHEN i0 >= 8 THEN 6
         |  ELSE i0 - 2 END AS BIGINT) AS i0,
         |CAST(sum(v) AS DOUBLE) AS value
         |FROM h GROUP BY 1 ORDER BY i0""".stripMargin,
    "hist_cdf" ->
      s"""WITH h AS (
         |  SELECT ${axQtyR.sqlExpr("l_quantity")} AS i0, sum(1.0) AS v
         |  FROM ${li()} GROUP BY 1)
         |SELECT i0, CAST(round(sum(v) OVER (ORDER BY i0
         |  ROWS UNBOUNDED PRECEDING), 6) AS DOUBLE)
         |  AS cum_value FROM h ORDER BY i0""".stripMargin,
    "hist_quantiles" ->
      s"""WITH h AS (
         |  SELECT ${axQtyR.sqlExpr("l_quantity")} AS i0, sum(1.0) AS value
         |  FROM ${li()} GROUP BY 1),
         |${HistAlgebra.quantilesSql(axQtyR, Seq(0.25, 0.5, 0.9, 0.99))}
         |ORDER BY q""".stripMargin,
    "hist_quantiles_weighted" ->
      s"""WITH h AS (
         |  SELECT ${axPrice.sqlExpr("l_extendedprice")} AS i0,
         |    sum(l_quantity) AS value
         |  FROM ${li()} GROUP BY 1),
         |${HistAlgebra.quantilesSql(axPrice, Seq(0.25, 0.5, 0.9))}
         |ORDER BY q""".stripMargin,
    "hist_quantiles_variable" ->
      s"""WITH h AS (
         |  SELECT ${axQty.sqlExpr("l_quantity")} AS i0, sum(1.0) AS value
         |  FROM ${li()} GROUP BY 1),
         |${HistAlgebra.quantilesVariableSql(axQty, Seq(0.25, 0.5, 0.9, 0.99))}
         |ORDER BY q""".stripMargin,
    "hist_div" ->
      s"""SELECT a.i0 AS i0, round(a.v / b.v, 6) AS value FROM (
         |  SELECT ${axQtyR.sqlExpr("l_quantity")} AS i0, sum(1.0) AS v
         |  FROM ${li()} WHERE l_shipdate < TIMESTAMP '$cutoff' GROUP BY 1
         |) a JOIN (
         |  SELECT ${axQtyR.sqlExpr("l_quantity")} AS i0, sum(1.0) AS v
         |  FROM ${li()} WHERE l_shipdate >= TIMESTAMP '$cutoff' GROUP BY 1
         |) b ON a.i0 = b.i0 ORDER BY i0""".stripMargin,
    "hist_scalar_mul" ->
      s"""SELECT ${axQtyR.sqlExpr("l_quantity")} AS i0,
         |CAST(round(sum(1.0) * 2.5, 6) AS DOUBLE) AS value
         |FROM ${li()} GROUP BY 1 ORDER BY i0""".stripMargin,
    "hist_array_add" -> {
      val vals = (1 to axQtyR.n).map(i => s"(${i.toLong}, ${i * 10.0})").mkString(", ")
      s"""SELECT h.i0, CAST(round(h.v + COALESCE(a.av, 0.0), 6) AS DOUBLE)
         |  AS value FROM (
         |  SELECT ${axQtyR.sqlExpr("l_quantity")} AS i0, sum(1.0) AS v
         |  FROM ${li()} GROUP BY 1
         |) h LEFT JOIN (VALUES $vals) a(i0, av) ON h.i0 = a.i0
         |ORDER BY h.i0""".stripMargin
    },
    "hist_fixedcat" ->
      s"""SELECT (CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
         |THEN o_orderpriority ELSE '__overflow__' END) AS i0, count(*) AS value
         |FROM $ord GROUP BY 1 ORDER BY i0""".stripMargin,
    "hist_5d_mixed" ->
      s"""SELECT l_returnflag AS i0, CAST(l_linenumber AS BIGINT) AS i1,
         |${axQtyR.sqlExpr("l_quantity")} AS i2,
         |${axDisc.sqlExpr("l_discount")} AS i3,
         |${axTax.sqlExpr("l_tax")} AS i4,
         |round(sum(l_discount), 6) AS value,
         |round(sum(l_discount * l_discount), 6) AS variance
         |FROM ${li()} GROUP BY 1, 2, 3, 4, 5 ORDER BY i0, i1, i2, i3, i4""".stripMargin,
    "hist_dense2d" ->
      s"""SELECT g0.i0, g1.i1, CAST(round(COALESCE(h.value, 0.0), 6)
         |  AS DOUBLE) AS value
         |FROM (SELECT range AS i0 FROM range(0, ${axDisc.n + 2})) g0
         |CROSS JOIN (SELECT range AS i1 FROM range(0, ${axTax.n + 2})) g1
         |LEFT JOIN (
         |  SELECT ${axDisc.sqlExpr("l_discount")} AS i0,
         |  ${axTax.sqlExpr("l_tax")} AS i1, sum(1.0) AS value
         |  FROM ${li()} GROUP BY 1, 2
         |) h USING (i0, i1) ORDER BY g0.i0, g1.i1""".stripMargin,
    "hist_dense1d" ->
      s"""SELECT g.i0, CAST(round(COALESCE(h.value, 0.0), 6) AS DOUBLE) AS value
         |FROM (SELECT range AS i0 FROM range(0, ${axQtyR.n + 2})) g
         |LEFT JOIN (
         |  SELECT ${axQtyR.sqlExpr("l_quantity")} AS i0, sum(1.0) AS value
         |  FROM ${li()} GROUP BY 1
         |) h USING (i0) ORDER BY i0""".stripMargin,
    "hist_ragged" -> {
      val ax = IntegerAxis(1L, 12L)
      s"""SELECT ${ax.sqlExpr("toklen")} AS i0, count(*) AS value FROM (
         |  SELECT length(unnest(string_split(text, ' '))) AS toklen FROM documents
         |) GROUP BY 1 ORDER BY i0""".stripMargin
    },
    "hist_multifill_cat" ->
      s"""SELECT cat AS i0, i1, CAST(round(sum(w), 6) AS DOUBLE) AS value FROM (
         |  SELECT 'early' AS cat, ${axPrice.sqlExpr("l_extendedprice")} AS i1, 1.0 AS w
         |  FROM ${li()} WHERE l_shipdate < TIMESTAMP '$cutoff'
         |  UNION ALL
         |  SELECT 'late' AS cat, ${axPrice.sqlExpr("l_extendedprice")} AS i1, 2.0 AS w
         |  FROM ${li()} WHERE l_shipdate >= TIMESTAMP '$cutoff'
         |) GROUP BY 1, 2 ORDER BY i0, i1""".stripMargin,
    "hist_dense_fast" ->
      s"""SELECT g.i0, CAST(round(COALESCE(h.value, 0.0), 6) AS DOUBLE) AS value
         |FROM (SELECT range AS i0 FROM range(0, ${axQtyR.n + 2})) g
         |LEFT JOIN (
         |  SELECT ${axQtyR.sqlExpr("l_quantity")} AS i0, sum(1.0) AS value
         |  FROM ${li()} GROUP BY 1
         |) h USING (i0) ORDER BY i0""".stripMargin,
    "hist_dense_fast2d" ->
      s"""SELECT g0.i0, g1.i1, CAST(round(COALESCE(h.value, 0.0), 6)
         |  AS DOUBLE) AS value
         |FROM (SELECT range AS i0 FROM range(0, ${axDisc.n + 2})) g0
         |CROSS JOIN (SELECT range AS i1 FROM range(0, ${axTax.n + 2})) g1
         |LEFT JOIN (
         |  SELECT ${axDisc.sqlExpr("l_discount")} AS i0,
         |  ${axTax.sqlExpr("l_tax")} AS i1, sum(1.0) AS value
         |  FROM ${li()} GROUP BY 1, 2
         |) h USING (i0, i1) ORDER BY g0.i0, g1.i1""".stripMargin,
    "hist_mean_price" ->
      s"""SELECT ${axQtyR.sqlExpr("l_quantity")} AS i0,
         |count(l_extendedprice) AS n,
         |round(sum(l_extendedprice - $priceShift), 2) AS sum_d,
         |round($priceShift + sum(l_extendedprice - $priceShift)
         |  / count(l_extendedprice), 6) AS mean,
         |round(CASE WHEN count(l_extendedprice) > 1 THEN
         |  (sum((l_extendedprice - $priceShift) * (l_extendedprice - $priceShift))
         |   - sum(l_extendedprice - $priceShift) * sum(l_extendedprice - $priceShift)
         |     / count(l_extendedprice))
         |  / (count(l_extendedprice) - 1) END, 0) AS variance
         |FROM ${li()} GROUP BY 1 ORDER BY i0""".stripMargin,
    "hist_partitioned" ->
      s"""SELECT ((l_orderkey % 4) + 4) % 4 AS partition,
         |${axQtyR.sqlExpr("l_quantity")} AS i0,
         |CAST(round(sum(1.0), 6) AS DOUBLE) AS value
         |FROM ${li()} GROUP BY 1, 2 ORDER BY partition, i0""".stripMargin,
    "hist_circular" -> {
      val ax = RegularCircular(7, 0.0, 7.0)
      s"""SELECT ${ax.sqlExpr("l_quantity")} AS i0, count(*) AS value
         |FROM ${li()} GROUP BY 1 ORDER BY i0 NULLS FIRST""".stripMargin
    },
    "hist_quantiles_log" -> {
      val ax = RegularLog(8, 1000.0, 100000.0)
      s"""WITH h AS (
         |  SELECT ${ax.sqlExpr("l_extendedprice")} AS i0, sum(1.0) AS value
         |  FROM ${li()} GROUP BY 1),
         |${HistAlgebra.quantilesEdgesSql(ax, Seq(0.5, 0.9, 0.99))}
         |ORDER BY q""".stripMargin
    },
    "hist_log_axis" -> {
      val ax = RegularLog(8, 1000.0, 100000.0)
      s"""SELECT ${ax.sqlExpr("l_extendedprice")} AS i0, count(*) AS value
         |FROM ${li()} GROUP BY 1 ORDER BY i0""".stripMargin
    },
    "hist_density" ->
      s"""SELECT i0, CAST(round(value, 6) AS DOUBLE) AS value,
         |CASE WHEN i0 BETWEEN 1 AND ${axPrice.n} THEN
         |round(value / (sum(CASE WHEN i0 BETWEEN 1 AND ${axPrice.n} THEN value
         |ELSE 0.0 END) OVER () * ${(axPrice.hi - axPrice.lo) / axPrice.n}), 9) END
         |AS density FROM (
         |  SELECT ${axPrice.sqlExpr("l_extendedprice")} AS i0, sum(1.0) AS value
         |  FROM ${li()} GROUP BY 1
         |) ORDER BY i0""".stripMargin,
  )

  private def algebraOracle(op: String): String =
    s"""SELECT COALESCE(a.i0, b.i0) AS i0,
       |CAST(round(COALESCE(a.v, 0.0) $op COALESCE(b.v, 0.0), 6)
       |  AS DOUBLE) AS value FROM (
       |  SELECT ${axQtyR.sqlExpr("l_quantity")} AS i0, sum(1.0) AS v
       |  FROM ${li()} WHERE l_shipdate < TIMESTAMP '$cutoff' GROUP BY 1
       |) a FULL OUTER JOIN (
       |  SELECT ${axQtyR.sqlExpr("l_quantity")} AS i0, sum(1.0) AS v
       |  FROM ${li()} WHERE l_shipdate >= TIMESTAMP '$cutoff' GROUP BY 1
       |) b ON a.i0 = b.i0 ORDER BY i0""".stripMargin
}
