package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Bounded-scan data profiling: per-column null counts, exact distinct
  * cardinality, min/max, and an order-independent mean — the first query
  * every pipeline runs against a new 100 TB corpus snapshot, and the one
  * that's catastrophically wrong to run as C separate scans.
  *
  * Scale design:
  *  - Approx mode (`approxDistinct = true`, the 100 TB default): ALL
  *    aggregates in one `agg(...)` → exactly ONE FileScan, no Expand,
  *    no sort (all plan-asserted).
  *  - Exact mode (the oracle-parity mode): the multi-distinct rewrite
  *    adds an Expand of ×(C+1) over the scan, and combining it with
  *    immutable-buffer aggregates (decimal sums, string extrema) forces
  *    the WHOLE expanded relation through SortAggregate — a measured
  *    5.5× cliff (28.7 s vs 5.2 s, lineitem sf0.1). Exact mode
  *    therefore runs TWO column-pruned aggregates over the scan — the
  *    Expand branch stays pure-HashAggregate, the sort-based branch
  *    sorts only raw rows — and cross-joins the one-row results
  *    (2 scans total, plan-asserted; the extra scan is the cheap part,
  *    the expanded sort was the killer).
  *  - Means are computed as DECIMAL(38,6) sums divided driver-side —
  *    decimal summation is associative and order-independent, so the
  *    result is bit-identical across partitionings and engines (the
  *    double-summation-order flake class that quantizedMean exists for).
  *  - Output is long-form (one row per column) via `inline` over the
  *    single aggregated row — reshaping is free, no second scan.
  */
object ProfileOps {

  private def isNum(dt: DataType): Boolean = dt match {
    case _: NumericType => true
    case _ => false
  }

  /** Registers per approx-NDV sketch: 1.04/√256 ≈ 6.5% nominal error at
    * 256 bytes/column of aggregation state. */
  val ApproxNdvRegisters = 256

  /** Cross-engine CANONICAL string key for approx-NDV hashing — the
    * [[graft.functions.PolyHash]] discipline needs both engines to hash
    * byte-identical strings, and raw `CAST(double AS VARCHAR)` is NOT
    * portable (Java prints 1e7 as "1.0E7", DuckDB as "10000000.0").
    * Per type:
    *  - integral → plain decimal string (identical on both engines);
    *  - double/float → via DECIMAL(38,6) (both engines print full-scale
    *    plain form, never scientific at scale 6), with non-finite values
    *    mapped to 'nan'/'inf'/'-inf' sentinels (ANSI casts would throw);
    *    NDV is therefore "distinct at 6-decimal granularity" — the right
    *    contract for profiling, and the only portable one. Dyadic values
    *    landing exactly on a 7th-digit midpoint (k·2^-7 family) could in
    *    principle round differently across engines' double→decimal modes
    *    — measured absent from the fixtures and harmless at sketch
    *    accuracy;
    *  - timestamp → epoch microseconds (the unix_micros/epoch_us pair
    *    every temporal oracle here already relies on);
    *  - string → the value itself. */
  private[graft] def canonKey(f: StructField): Column = {
    val c = col(f.name)
    f.dataType match {
      case DoubleType | FloatType =>
        when(isnan(c), lit("nan"))
          .when(c === lit(Double.PositiveInfinity), lit("inf"))
          .when(c === lit(Double.NegativeInfinity), lit("-inf"))
          .otherwise(c.cast(DecimalType(38, 6)).cast("string"))
      case TimestampType | TimestampNTZType =>
        unix_micros(c.cast("timestamp")).cast("string")
      case StringType => c
      case _ => c.cast("string")
    }
  }

  /** DuckDB twin of [[canonKey]] — must stay the verbatim counterpart. */
  private[graft] def canonKeySql(f: StructField): String = {
    val n = f.name
    f.dataType match {
      case DoubleType | FloatType =>
        s"CASE WHEN isnan($n) THEN 'nan' " +
          s"WHEN $n = CAST('inf' AS DOUBLE) THEN 'inf' " +
          s"WHEN $n = CAST('-inf' AS DOUBLE) THEN '-inf' " +
          s"ELSE CAST(CAST($n AS DECIMAL(38,6)) AS VARCHAR) END"
      case TimestampType | TimestampNTZType =>
        s"CAST(epoch_us(CAST($n AS TIMESTAMP)) AS VARCHAR)"
      case StringType => n
      case _ => s"CAST($n AS VARCHAR)"
    }
  }

  /** Long-form profile of every column in `df`:
    * (col_name, n_nonnull, n_nulls, n_distinct, min_d, max_d, avg_d,
    * min_s, max_s, min_ts, max_ts) with type-inapplicable slots NULL.
    * Numeric min/max/avg are double (avg rounded 6dp from the exact
    * decimal sum); string and timestamp extrema keep their own types. */
  def profile(df0: DataFrame, approxDistinct: Boolean = false): DataFrame = {
    // conditional input spread ([[Spread]] — guide §2.5 "input skew:
    // one unsplittable file"): the single-pass profile does heavy
    // per-row work in the SCAN stage (exact mode's ×(C+1)
    // multi-distinct Expand, approx mode's C HLL updates per row), so
    // a slot-starved input (the one-row-group local fixture) serializes
    // the whole operator on one core. Well-split inputs pass through
    // untouched; every consumer aggregate is commutative (counts,
    // exact decimal sums, min/max, register-max HLL), so the result is
    // partition-order-free.
    val df = Spread(df0)
    val fields = df.schema.fields.toSeq
    // MUTABLE-buffer aggregates (counts, exact/HLL ndv, double extrema):
    // safe to share one aggregate with the multi-distinct Expand — the
    // plan stays HashAggregate end to end
    def hashAggsFor(f: StructField): Seq[Column] = {
      val c = col(f.name); val n = f.name
      Seq(
        count(c).as(s"${n}__nn"),
        (count(lit(1)) - count(c)).as(s"${n}__nulls"),
        // approx NDV goes through the in-repo PORTABLE HllAgg (not
        // Spark's engine-private HLL++): the oracle recomputes the exact
        // register contents relationally, so the 100 TB default mode
        // carries the same hash-match certificate as exact mode
        (if (approxDistinct)
           graft.functions.HllAgg(col(s"${n}__hk"), ApproxNdvRegisters)
         else count_distinct(c)).as(s"${n}__nd")) ++
        (if (isNum(f.dataType)) Seq(
          min(c.cast("double")).as(s"${n}__min_d"),
          max(c.cast("double")).as(s"${n}__max_d"))
        else Nil)
    }
    // IMMUTABLE-buffer aggregates (decimal(38,6) sums, string/timestamp
    // extrema): these force a sort-based aggregate, which is harmless
    // over the raw rows but catastrophic when combined with the exact
    // mode's multi-distinct Expand — the planner then drags the WHOLE
    // ×(C+1)-expanded relation through SortAggregate (measured 28.7 s
    // vs 5.2 s split, lineitem sf0.1). Exact mode therefore runs these
    // as a SECOND column-pruned aggregate and cross-joins the two
    // one-row results; approx mode has no Expand, so one aggregate
    // (and exactly one scan) remains the better plan and keeps the
    // no-sort property the spec asserts.
    def heavyAggsFor(f: StructField): Seq[Column] = {
      val c = col(f.name); val n = f.name
      val num =
        if (isNum(f.dataType))
          Seq(sum(c.cast(DecimalType(38, 6))).as(s"${n}__sum_dec"))
        else Nil
      val other = f.dataType match {
        case StringType =>
          Seq(min(c).as(s"${n}__min_s"), max(c).as(s"${n}__max_s"))
        // parquet ms/us timestamps surface as NTZ in Spark 4; normalize
        // extrema to the session timestamp type (UTC session — the same
        // wall-clock instant the DuckDB oracle reads)
        case TimestampType | TimestampNTZType =>
          Seq(min(c).cast("timestamp").as(s"${n}__min_ts"),
            max(c).cast("timestamp").as(s"${n}__max_ts"))
        case _ => Nil
      }
      num ++ other
    }
    val hashAggs = fields.flatMap(hashAggsFor)
    val heavyAggs = fields.flatMap(heavyAggsFor)
    val wide =
      if (approxDistinct) {
        // the canon+hash pipeline is PRE-PROJECTED so it runs inside
        // whole-stage codegen; the typed aggregate's per-row update
        // (interpreted by nature) then only reads an attribute. Fusing
        // the hash into the agg child instead costs an interpreted
        // expression eval per row per column — measured 8.9 s vs 5.0 s
        // on the 11-column lineitem profile at sf0.1.
        val all = hashAggs ++ heavyAggs
        df.select(col("*") +: fields.map(f =>
            SketchOps.hllHash(canonKey(f)).as(s"${f.name}__hk")): _*)
          .agg(all.head, all.tail: _*)
      } else if (heavyAggs.isEmpty) {
        df.agg(hashAggs.head, hashAggs.tail: _*)
      } else {
        df.agg(hashAggs.head, hashAggs.tail: _*)
          .crossJoin(df.agg(heavyAggs.head, heavyAggs.tail: _*))
      }
    val nullD = lit(null).cast("double")
    val nullS = lit(null).cast("string")
    val nullT = lit(null).cast("timestamp")
    val rows = fields.map { f =>
      val n = f.name
      struct(
        lit(n).as("col_name"),
        col(s"${n}__nn").as("n_nonnull"),
        col(s"${n}__nulls").as("n_nulls"),
        (if (approxDistinct)
           // floor, not cast: double→long CAST truncates on Spark but
           // rounds on DuckDB — floor is the one portable integerization
           floor(SketchOps.hllEstimate(s"${n}__nd", ApproxNdvRegisters))
             .cast("long")
         else col(s"${n}__nd").cast("long")).as("n_distinct"),
        (if (isNum(f.dataType)) col(s"${n}__min_d") else nullD).as("min_d"),
        (if (isNum(f.dataType)) col(s"${n}__max_d") else nullD).as("max_d"),
        (if (isNum(f.dataType))
           round(col(s"${n}__sum_dec").cast("double") / col(s"${n}__nn"), 6)
         else nullD).as("avg_d"),
        (f.dataType match {
          case StringType => col(s"${n}__min_s"); case _ => nullS
        }).as("min_s"),
        (f.dataType match {
          case StringType => col(s"${n}__max_s"); case _ => nullS
        }).as("max_s"),
        (f.dataType match {
          case TimestampType | TimestampNTZType => col(s"${n}__min_ts")
          case _ => nullT
        }).as("min_ts"),
        (f.dataType match {
          case TimestampType | TimestampNTZType => col(s"${n}__max_ts")
          case _ => nullT
        }).as("max_ts"))
    }
    wide.select(inline(array(rows: _*)))
  }

  /** DuckDB twin of [[profile]] (exact mode): one UNION ALL branch per
    * column — the oracle may scan C times; the ENGINE must not. Same
    * decimal-sum mean, same typed NULL slots. */
  def profileSql(table: String, schema: StructType): String =
    schema.fields.map { f =>
      val n = f.name
      val (minD, maxD, avgD) =
        if (isNum(f.dataType))
          (s"CAST(min($n) AS DOUBLE)", s"CAST(max($n) AS DOUBLE)",
            s"round(CAST(sum(CAST($n AS DECIMAL(38,6))) AS DOUBLE) / count($n), 6)")
        else ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)",
          "CAST(NULL AS DOUBLE)")
      val (minS, maxS) = f.dataType match {
        case StringType => (s"min($n)", s"max($n)")
        case _ => ("CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
      }
      val (minT, maxT) = f.dataType match {
        case TimestampType => (s"min($n)", s"max($n)")
        case _ => ("CAST(NULL AS TIMESTAMP)", "CAST(NULL AS TIMESTAMP)")
      }
      s"""SELECT '$n' AS col_name, count($n) AS n_nonnull,
         |  count(*) - count($n) AS n_nulls,
         |  count(DISTINCT $n) AS n_distinct,
         |  $minD AS min_d, $maxD AS max_d, $avgD AS avg_d,
         |  $minS AS min_s, $maxS AS max_s,
         |  $minT AS min_ts, $maxT AS max_ts
         |FROM $table""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** DuckDB twin of [[profile]] in APPROX mode: per column, the exact
    * stats branches are identical to [[profileSql]], and `n_distinct`
    * is the RELATIONAL recompute of the engine's portable HLL sketch —
    * hash the [[canonKeySql]] canonical key, rebuild the registers with
    * `GROUP BY h % m → max(rank)`, and apply the identical scaled-integer
    * estimator ([[SketchOps.hllEstimateScalarSql]]). floor() matches the
    * engine's portable integerization. The oracle may scan per column;
    * the ENGINE runs ONE scan (plan-asserted in OpsSpec). */
  def profileApproxSql(table: String, schema: StructType,
      m: Int = ApproxNdvRegisters): String =
    schema.fields.map { f =>
      val n = f.name
      val (minD, maxD, avgD) =
        if (isNum(f.dataType))
          (s"CAST(min($n) AS DOUBLE)", s"CAST(max($n) AS DOUBLE)",
            s"round(CAST(sum(CAST($n AS DECIMAL(38,6))) AS DOUBLE) / count($n), 6)")
        else ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)",
          "CAST(NULL AS DOUBLE)")
      val (minS, maxS) = f.dataType match {
        case StringType => (s"min($n)", s"max($n)")
        case _ => ("CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
      }
      val (minT, maxT) = f.dataType match {
        case TimestampType => (s"min($n)", s"max($n)")
        case _ => ("CAST(NULL AS TIMESTAMP)", "CAST(NULL AS TIMESTAMP)")
      }
      val est = SketchOps.hllEstimateScalarSql(
        SketchOps.hllHashSql(
          s"SELECT ${canonKeySql(f)} AS key FROM $table WHERE $n IS NOT NULL"),
        m)
      s"""SELECT '$n' AS col_name, st.n_nonnull, st.n_nulls, nd.n_distinct,
         |  st.min_d, st.max_d, st.avg_d, st.min_s, st.max_s,
         |  st.min_ts, st.max_ts
         |FROM (SELECT count($n) AS n_nonnull,
         |  count(*) - count($n) AS n_nulls,
         |  $minD AS min_d, $maxD AS max_d, $avgD AS avg_d,
         |  $minS AS min_s, $maxS AS max_s,
         |  $minT AS min_ts, $maxT AS max_ts
         |  FROM $table) st
         |CROSS JOIN (SELECT CAST(floor(hll_est) AS BIGINT) AS n_distinct
         |  FROM ($est)) nd""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** Categorical distribution DRIFT between two corpus snapshots — the
    * dataset-health monitor a pipeline runs on every refresh (detect
    * "the crawler lost a domain" / "one source tripled" before
    * training). Per key: both counts, add-one-smoothed shares, the
    * KL(p‖q) term p·ln(p/q), and the PSI term (p−q)·ln(p/q) (the
    * industry-standard population-stability index; sum the column for
    * the scalar index, >0.25 conventionally = major shift).
    *
    * Add-one smoothing over the UNION key set keeps appear/disappear
    * keys finite (no ±∞ terms) and both shares exactly computable from
    * integer counts: p = (c_old+1)/(n_old+K), q = (c_new+1)/(n_new+K),
    * K = |union keys|. Operation order is pinned for the oracle twin
    * ([[distributionDriftSql]]); ln is the usual ≤1-ulp class, rounded
    * away at 6 dp.
    *
    * Scale shape: two count aggregates (key-cardinality-sized output), a
    * full-outer join on the key, and two one-row broadcast totals —
    * corpus rows reduce on the scan; nothing data-sized shuffles twice.
    *
    * NULL keys follow SQL join semantics on BOTH engines (null does not
    * equal null in the full-outer join), so a null key in both
    * snapshots surfaces as TWO rows rather than one matched row —
    * normalize nulls upstream (coalesce to a sentinel) if they carry
    * meaning in your key domain. */
  def distributionDrift(oldDf: DataFrame, newDf: DataFrame,
      keyCol: String): DataFrame = {
    val co = oldDf.groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("n_old"))
    val cn = newDf.groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("n_new"))
    val joined = co.join(cn, Seq("key"), "full_outer")
      .select(col("key"),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
    val totals = joined.agg(sum(col("n_old")).as("t_old"), sum(col("n_new")).as("t_new"),
      count(lit(1)).as("k"))
    joined.crossJoin(totals)
      .select(col("key"), col("n_old"), col("n_new"),
        ((col("n_old") + lit(1L)).cast("double") /
          (col("t_old") + col("k")).cast("double")).as("p"),
        ((col("n_new") + lit(1L)).cast("double") /
          (col("t_new") + col("k")).cast("double")).as("q"))
      .select(col("key"), col("n_old"), col("n_new"),
        round(col("p"), 9).as("p"), round(col("q"), 9).as("q"),
        round(col("p") * log(col("p") / col("q")), 6).as("kl_term"),
        round((col("p") - col("q")) * log(col("p") / col("q")), 6).as("psi_term"))
  }

  /** DuckDB twin of [[distributionDrift]] over `oldCte` / `newCte`
    * (each yielding a `key` column): identical smoothing, identical
    * operation order, identical rounding. */
  def distributionDriftSql(oldCte: String, newCte: String): String =
    s"""WITH co AS (
       |  SELECT key, count(*) AS n_old FROM ($oldCte) GROUP BY 1),
       |cn AS (
       |  SELECT key, count(*) AS n_new FROM ($newCte) GROUP BY 1),
       |j AS (
       |  SELECT COALESCE(co.key, cn.key) AS key,
       |    COALESCE(n_old, 0) AS n_old, COALESCE(n_new, 0) AS n_new
       |  FROM co FULL OUTER JOIN cn ON co.key = cn.key),
       |t AS (
       |  SELECT CAST(sum(n_old) AS BIGINT) AS t_old,
       |    CAST(sum(n_new) AS BIGINT) AS t_new, count(*) AS k FROM j),
       |s AS (
       |  SELECT key, n_old, n_new,
       |    CAST(n_old + 1 AS DOUBLE) / CAST(t_old + k AS DOUBLE) AS p,
       |    CAST(n_new + 1 AS DOUBLE) / CAST(t_new + k AS DOUBLE) AS q
       |  FROM j CROSS JOIN t)
       |SELECT key, CAST(n_old AS BIGINT) AS n_old,
       |  CAST(n_new AS BIGINT) AS n_new,
       |  round(p, 9) AS p, round(q, 9) AS q,
       |  round(p * ln(p / q), 6) AS kl_term,
       |  round((p - q) * ln(p / q), 6) AS psi_term
       |FROM s""".stripMargin

  /** Schema inference for a semi-structured JSON column: one row per
    * top-level key with presence count, coverage, distinct-value
    * cardinality, and how many values parse as numbers — the "what is
    * actually inside this props blob" profile that decides whether a
    * field is promotable to a real column. Flat map parse
    * (`from_json` → `map<string,string>`, JSON scalars coerced to
    * text); unparseable or null JSON contributes no keys (the parse
    * failure count is the gap between Σ coverage and 1 on any key the
    * caller expects to be total).
    *
    * 100 TB shape: explode emits (key, value) pairs that partial-
    * aggregate map-side per key; only key-cardinality rows shuffle.
    * The corpus total rides along as a one-row cross join. Exact
    * `count_distinct` per key is the oracle-parity choice — route wide
    * domains through the portable HllAgg as the table profiler's
    * approx mode does. */
  def jsonKeyProfile(df: DataFrame, json: Column): DataFrame = {
    val total = df.agg(count(lit(1)).as("__total"))
    val kv = df.select(explode(
      from_json(json, MapType(StringType, StringType))).as(Seq("key", "value")))
    kv.groupBy("key")
      .agg(count(lit(1)).as("n_present"),
        count_distinct(col("value")).as("n_distinct"),
        count(when(col("value").rlike("^-?\\d+(\\.\\d+)?$"), lit(1)))
          .as("n_numeric"))
      .crossJoin(total)
      .select(col("key"), col("n_present"),
        round(col("n_present").cast("double") / col("__total"), 6)
          .as("coverage"),
        col("n_distinct"), col("n_numeric"))
  }

  /** Per-group simple linear regression, closed form: for each group,
    * fit y = intercept + slope*x by ordinary least squares and report
    * the fit quality (r2). The normal-equation sums (n, Σx, Σy, Σxx,
    * Σyy, Σxy) are EXACT integer aggregates; the closed-form solution
    *
    *   slope = (nΣxy − ΣxΣy) / (nΣxx − (Σx)²)
    *   intercept = (Σy − slope·Σx) / n
    *   r2 = (nΣxy − ΣxΣy)² / ((nΣxx − (Σx)²)(nΣyy − (Σy)²))
    *
    * is evaluated in DOUBLE with every factor cast BEFORE multiplying
    * (int64 products of corpus-scale sums overflow — the positionalPmi
    * lesson) and identical operation order in the SQL twin, then
    * rounded to 6dp. A group with constant x (or constant y, for r2)
    * yields null rather than a division artifact.
    *
    * Why it belongs in a profiler: "is n_chars ≈ k · n_tokens per
    * source, and how tight?" is the one-line sanity model behind token
    * budgeting ([[graft.ops.PipelineOps.tokenBudgetMix]]) — a source
    * whose slope or r2 drifts between snapshots changed its content
    * mix (markup, code, CJK share) even when its row counts held.
    *
    * 100 TB shape: one map-side-combining aggregate to six numbers per
    * group — the same shuffle volume as a count. No second pass, no
    * windows, no collect. */
  def linearFit(df: DataFrame, groupCol: String, x: Column, y: Column)
      : DataFrame = {
    val d = df.select(col(groupCol), x.cast("long").as("__x"),
      y.cast("long").as("__y"))
    d.groupBy(groupCol)
      .agg(count(lit(1)).as("n"), sum("__x").as("sx"), sum("__y").as("sy"),
        sum(col("__x") * col("__x")).as("sxx"),
        sum(col("__y") * col("__y")).as("syy"),
        sum(col("__x") * col("__y")).as("sxy"))
      .select(outCols(groupCol): _*)
  }

  private def nullif0(c: Column): Column = when(c =!= 0.0, c)

  /** Closed-form output columns over the normal-equation sums (shared
    * operation order with [[linearFitSql]] — the 6dp contract). */
  private def outCols(groupCol: String): Seq[Column] = {
    def dbl(c: Column) = c.cast("double")
    val cov = dbl(col("n")) * dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy"))
    val varX = dbl(col("n")) * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx"))
    val varY = dbl(col("n")) * dbl(col("syy")) - dbl(col("sy")) * dbl(col("sy"))
    val slope = cov / nullif0(varX)
    Seq(col(groupCol), col("n"), round(slope, 6).as("slope"),
      round((dbl(col("sy")) - slope * dbl(col("sx"))) / dbl(col("n")), 6)
        .as("intercept"),
      round(cov * cov / nullif0(varX * varY), 6).as("r2"))
  }

  /** Contingency table (crosstab): one row per `rowCol` value, one
    * count column per DECLARED `colCol` value — the reshape every
    * source×language / segment×status report ends in. Column values
    * are an explicit argument (not discovered) so the output schema is
    * deterministic and the driver-side pivot never scans for the
    * domain; absent combinations are 0, not null.
    *
    * 100 TB shape: Spark's pivot compiles to ONE grouped aggregate
    * with |colValues| count slots per row-key — map-side combining,
    * one shuffle at rowCol cardinality. */
  def crosstab(df: DataFrame, rowCol: String, colCol: String,
      colValues: Seq[String]): DataFrame = {
    require(colValues.nonEmpty, "crosstab needs at least one column value")
    require(colValues.distinct == colValues, "duplicate column values")
    val p = df.groupBy(col(rowCol)).pivot(colCol, colValues)
      .agg(count(lit(1)))
    p.select(col(rowCol) +: colValues.map(v =>
      coalesce(col(s"`$v`"), lit(0L)).as(v)): _*)
  }

  /** DuckDB twin of [[crosstab]] (FILTER-clause formulation — no
    * PIVOT syntax dependency). */
  def crosstabSql(table: String, rowCol: String, colCol: String,
      colValues: Seq[String]): String = {
    def q(s: String) = s.replace("'", "''")
    val cols = colValues.map(v =>
      s"""count(*) FILTER ($colCol = '${q(v)}') AS "$v"""").mkString(",\n  ")
    s"""SELECT $rowCol,
       |  $cols
       |FROM $table GROUP BY $rowCol""".stripMargin
  }

  /** Chi-squared comparison of two groups' binned distributions — the
    * classic "did this source's length/score histogram move?" test,
    * computed so the statistic is ENGINE-EXACT: each bin's
    * contribution (a−b)²/(a+b) is scaled to an integer
    * (round(1e6·…) as BIGINT, one double op per bin with identical
    * order in the twin), and the total is then a sum of BIGINTs —
    * no float accumulation order anywhere (the GloVe lcm-discount
    * lesson applied to a statistic). Returns ONE row:
    * (chi2_e6, dof, n_a, n_b); dof = occupied bins − 1.
    *
    * 100 TB shape: one grouped count per bin (map-side combining at
    * bin cardinality), one bin-cardinality reduction. */
  def binnedChi2(df: DataFrame, groupCol: String, binCol: Column,
      groupA: String, groupB: String): DataFrame = {
    val binned = df.filter(col(groupCol).isin(groupA, groupB))
      .select(col(groupCol).as("__g"), binCol.as("bin"))
      .groupBy("bin")
      .agg(count(when(col("__g") === groupA, lit(1))).as("a"),
        count(when(col("__g") === groupB, lit(1))).as("b"))
    binned.agg(
      sum(expr("CAST(round(1000000.0 * CAST((a - b) * (a - b) AS DOUBLE)" +
        " / CAST(a + b AS DOUBLE)) AS BIGINT)")).as("chi2_e6"),
      (count(lit(1)) - 1L).as("dof"),
      sum("a").as("n_a"), sum("b").as("n_b"))
  }

  /** DuckDB twin of [[binnedChi2]]. `binSql` must emit the SAME bin
    * index expression the Spark call used. */
  def binnedChi2Sql(table: String, groupCol: String, binSql: String,
      groupA: String, groupB: String): String = {
    def q(s: String) = s.replace("'", "''")
    s"""WITH binned AS (
       |  SELECT $binSql AS bin,
       |    count(*) FILTER ($groupCol = '${q(groupA)}') AS a,
       |    count(*) FILTER ($groupCol = '${q(groupB)}') AS b
       |  FROM $table WHERE $groupCol IN ('${q(groupA)}', '${q(groupB)}')
       |  GROUP BY 1)
       |SELECT CAST(sum(CAST(round(1000000.0 * CAST((a - b) * (a - b) AS DOUBLE)
       |    / CAST(a + b AS DOUBLE)) AS BIGINT)) AS BIGINT) AS chi2_e6,
       |  count(*) - 1 AS dof,
       |  CAST(sum(a) AS BIGINT) AS n_a, CAST(sum(b) AS BIGINT) AS n_b
       |FROM binned""".stripMargin
  }

  /** Kolmogorov–Smirnov statistic between two groups' binned
    * distributions — the max CDF gap, [[binnedChi2]]'s scale-free
    * sibling (chi2 weights by occupancy; KS answers "how far apart are
    * the distribution SHAPES"). Engine-exact throughout: the gap is
    * maximized as the INTEGER |cumA·nB − cumB·nA| (cross-multiplied
    * CDFs — no per-bin float), divided once and rounded 6dp.
    *
    * Bound (documented, the [[linearFit]] convention): cumA·nB needs
    * each side under ~3e9 rows to stay in int64 — past that, compute
    * per-shard KS on stratified samples or scale counts down first.
    *
    * One row: (ks_e6 = round(1e6·max|ΔCDF|), n_a, n_b). The bin walk
    * is a bin-cardinality window — corpus cost is the grouped count. */
  def binnedKs(df: DataFrame, groupCol: String, binCol: Column,
      groupA: String, groupB: String): DataFrame = {
    val binned = df.filter(col(groupCol).isin(groupA, groupB))
      .select(col(groupCol).as("__g"), binCol.as("bin"))
      .groupBy("bin")
      .agg(count(when(col("__g") === groupA, lit(1))).as("a"),
        count(when(col("__g") === groupB, lit(1))).as("b"))
    val w = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    binned
      .withColumn("ca", sum("a").over(w))
      .withColumn("cb", sum("b").over(w))
      .crossJoin(binned.agg(sum("a").as("na"), sum("b").as("nb")))
      .agg(
        round(max(abs(col("ca") * col("nb") - col("cb") * col("na")))
          .cast("double") /
          (max("na").cast("double") * max("nb").cast("double")) * 1000000.0, 0)
          .cast("long").as("ks_e6"),
        max("na").as("n_a"), max("nb").as("n_b"))
  }

  /** DuckDB twin of [[binnedKs]]. */
  def binnedKsSql(table: String, groupCol: String, binSql: String,
      groupA: String, groupB: String): String = {
    def q(s: String) = s.replace("'", "''")
    s"""WITH binned AS (
       |  SELECT $binSql AS bin,
       |    count(*) FILTER ($groupCol = '${q(groupA)}') AS a,
       |    count(*) FILTER ($groupCol = '${q(groupB)}') AS b
       |  FROM $table WHERE $groupCol IN ('${q(groupA)}', '${q(groupB)}')
       |  GROUP BY 1),
       |cum AS (
       |  SELECT
       |    sum(a) OVER (ORDER BY bin
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
       |    sum(b) OVER (ORDER BY bin
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
       |  FROM binned),
       |tot AS (SELECT CAST(sum(a) AS BIGINT) AS na,
       |          CAST(sum(b) AS BIGINT) AS nb FROM binned)
       |SELECT CAST(round(CAST(max(abs(ca * nb - cb * na)) AS DOUBLE)
       |    / (CAST(max(na) AS DOUBLE) * CAST(max(nb) AS DOUBLE))
       |    * 1000000.0) AS BIGINT) AS ks_e6,
       |  max(na) AS n_a, max(nb) AS n_b
       |FROM cum, tot""".stripMargin
  }

  /** Earth-mover (Wasserstein-1) distance between two groups' binned
    * distributions, in BIN-WIDTH units — the drift statistic that scores
    * "how far did mass move", complementing [[binnedKs]] (max gap) and
    * [[binnedChi2]] (occupancy-weighted): a one-bin shift of all mass
    * and a 10-bin shift score identically in KS but 10× apart in EMD.
    *
    * On the integer bin line, EMD = Σ |CDF_a(x) − CDF_b(x)| over ALL x —
    * a CDF gap persists across EMPTY bins, so each occupied bin's
    * integer cross-product gap |ca·nb − cb·na| is weighted by the
    * distance to the NEXT occupied bin (`lead` − bin; the final bin's
    * gap is zero since total CDFs agree). Products are summed as
    * DECIMAL(38,0) (the Σ multiplies the [[binnedKs]] int64 bound by
    * the bin span, so the sum gets the wide-decimal treatment), divided
    * once, rounded 6dp.
    *
    * One row: (emd, n_a, n_b). Corpus cost is the grouped count; the
    * CDF walk is a bin-cardinality window. */
  def binnedEmd(df: DataFrame, groupCol: String, binCol: Column,
      groupA: String, groupB: String): DataFrame = {
    val binned = df.filter(col(groupCol).isin(groupA, groupB))
      .select(col(groupCol).as("__g"), binCol.cast("long").as("bin"))
      .groupBy("bin")
      .agg(count(when(col("__g") === groupA, lit(1))).as("a"),
        count(when(col("__g") === groupB, lit(1))).as("b"))
    val cumW = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val leadW = Window.orderBy("bin")
    binned
      .withColumn("ca", sum("a").over(cumW))
      .withColumn("cb", sum("b").over(cumW))
      .withColumn("gap", coalesce(lead(col("bin"), 1).over(leadW) - col("bin"),
        lit(0L)))
      .crossJoin(binned.agg(sum("a").as("na"), sum("b").as("nb")))
      .agg(
        round(sum(abs(col("ca").cast(DecimalType(38, 0)) *
              col("nb").cast(DecimalType(38, 0)) -
            col("cb").cast(DecimalType(38, 0)) *
              col("na").cast(DecimalType(38, 0))) *
            col("gap").cast(DecimalType(38, 0))).cast("double") /
          (max("na").cast("double") * max("nb").cast("double")), 6).as("emd"),
        max("na").as("n_a"), max("nb").as("n_b"))
  }

  /** DuckDB twin of [[binnedEmd]]. */
  def binnedEmdSql(table: String, groupCol: String, binSql: String,
      groupA: String, groupB: String): String = {
    def q(s: String) = s.replace("'", "''")
    s"""WITH binned AS (
       |  SELECT $binSql AS bin,
       |    count(*) FILTER ($groupCol = '${q(groupA)}') AS a,
       |    count(*) FILTER ($groupCol = '${q(groupB)}') AS b
       |  FROM $table WHERE $groupCol IN ('${q(groupA)}', '${q(groupB)}')
       |  GROUP BY 1),
       |cum AS (
       |  SELECT
       |    sum(a) OVER (ORDER BY bin
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
       |    sum(b) OVER (ORDER BY bin
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
       |    COALESCE(lead(bin, 1) OVER (ORDER BY bin) - bin, 0) AS gap
       |  FROM (SELECT CAST(bin AS BIGINT) AS bin, a, b FROM binned)),
       |tot AS (SELECT CAST(sum(a) AS BIGINT) AS na,
       |          CAST(sum(b) AS BIGINT) AS nb FROM binned)
       |SELECT round(CAST(sum(abs(CAST(ca AS DECIMAL(38,0))
       |        * CAST(nb AS DECIMAL(38,0))
       |      - CAST(cb AS DECIMAL(38,0)) * CAST(na AS DECIMAL(38,0)))
       |      * CAST(gap AS DECIMAL(38,0))) AS DOUBLE)
       |    / (CAST(max(na) AS DOUBLE) * CAST(max(nb) AS DOUBLE)), 6) AS emd,
       |  max(na) AS n_a, max(nb) AS n_b
       |FROM cum, tot""".stripMargin
  }

  /** Gini concentration index of a NON-NEGATIVE bounded-domain integer
    * value column — "how concentrated is the token/byte mass" (0 =
    * perfectly even, →1 = one row holds everything), the corpus-
    * concentration number next to the Zipf fit.
    *
    * G = (2·Σᵢ i·x₍ᵢ₎)/(n·Σx) − (n+1)/n over ascending-sorted values —
    * computed WITHOUT a corpus sort: group by distinct value (the domain
    * is bounded — lengths, quantized scores), cumulative count window
    * over the DISTINCT-VALUE relation, and a tie group of value v at
    * ranks cb+1..cb+cnt contributes 2·Σ ranks·v = v·cnt·(2·cb+cnt+1)
    * exactly — the [[graft.ops.EvalOps.rocAuc]] mid-rank trick pointed
    * at an L-statistic. Products ride DECIMAL(38,0) (v·n² exceeds int64
    * fast); only the final division is floating point, rounded 6dp.
    *
    * The cumulative count is computed in GRID form (no global window):
    * distinct values get a monotone range bucket from the deterministic
    * sketch boundaries ([[graft.ops.LayoutOps.rangeBucketOf]]), the
    * within-bucket window is partitioned by bucket, and bucket offsets
    * are a prefix sum over the ≤`buckets`-row totals relation — the
    * [[graft.ops.PipelineOps.tokenBudgetMix]] two-phase pattern. Equal
    * values share a bucket and the bucketing is monotone, so cb is
    * BIT-IDENTICAL to the single global window (spec-pinned) with no
    * single-task straggler at any distinct-value count; per-bucket load
    * is balanced to the sketch's O(1/√k) sample error.
    *
    * One row: (n, sum_x, gini). Corpus cost is one groupBy(v); the
    * grid adds one sketch pass + one ≤buckets-row aggregate over the
    * (small) distinct relation. */
  def giniIndex(df: DataFrame, valueCol: Column, buckets: Int = 256)
      : DataFrame = {
    // persist the distinct relation: the grid derivation reads it four
    // times (sketch bounds, bucket totals, the cumulative join's two
    // sides) — at corpus scale that was four column-pruned corpus scans;
    // one groupBy(v) now feeds them all, released before returning
    // (the one-row result is materialized eagerly, as [[fdHistogram]])
    val g = df.select(valueCol.cast("long").as("v"))
      .filter(col("v").isNotNull)
      .groupBy("v").agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val out = gridCumCounts(g, buckets).agg(
          sum(col("cnt")).as("n"),
          sum(col("v") * col("cnt")).as("sum_x"),
          sum(col("v").cast(DecimalType(38, 0)) *
            col("cnt").cast(DecimalType(38, 0)) *
            (lit(2L) * col("cb") + col("cnt") + lit(1L))
              .cast(DecimalType(38, 0))).as("r2x"))
        .select(col("n"), col("sum_x"),
          round(col("r2x").cast("double") /
            (col("n").cast("double") * col("sum_x").cast("double")) -
            (col("n") + lit(1L)).cast("double") / col("n").cast("double"), 6)
            .as("gini"))
      materialized(out)
    } finally g.unpersist()
  }

  /** Eagerly materialize a driver-sized result so the caller's plan no
    * longer references a persisted relation this method unpersists on
    * return — the shared persist-lifecycle contract of [[giniIndex]]
    * and [[fdHistogram]] (both return at most a few hundred rows). */
  private def materialized(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** The shared GRID cumulative-count derivation over a distinct-value
    * relation (v, cnt): appends `cb` = Σ cnt over all rows with smaller
    * v — the exact prefix a global `Window.orderBy(v)` would compute,
    * built straggler-free from (a) deterministic sketch range buckets
    * ([[graft.ops.LayoutOps.rangeBucketOf]] — monotone, equal values
    * share a bucket), (b) bucket-partitioned within-bucket windows, and
    * (c) a prefix sum over the ≤`buckets`-row bucket-totals relation.
    * [[giniIndex]] and [[fdHistogram]] both rank through this; the
    * GridWindowSpec plan assertions run against it directly. */
  private[graft] def gridCumCounts(g: DataFrame, buckets: Int): DataFrame = {
    val bounds = LayoutOps.rangeBoundsDf(g, col("v"), col("v"), buckets)
    val gb = g.crossJoin(bounds)
      .withColumn("bkt", LayoutOps.rangeBucketOf("v")).drop("__bounds")
    val wOff = Window.orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = gb.groupBy("bkt").agg(sum(col("cnt")).as("bc"))
      .withColumn("off", coalesce(sum(col("bc")).over(wOff), lit(0L)))
      .select("bkt", "off")
    val wIn = Window.partitionBy("bkt").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    // without it (sf0.1, 256 KB threshold): SortMergeJoin + 1 Exchange
    gb.join(broadcast(offsets), Seq("bkt"))
      .withColumn("cb",
        col("off") + coalesce(sum(col("cnt")).over(wIn), lit(0L)))
  }

  /** DuckDB twin of [[giniIndex]]: `valueSql` must compute the identical
    * integer value. */
  def giniIndexSql(table: String, valueSql: String): String =
    s"""WITH g AS (
       |  SELECT v, CAST(count(*) AS BIGINT) AS cnt
       |  FROM (SELECT CAST($valueSql AS BIGINT) AS v FROM $table)
       |  WHERE v IS NOT NULL GROUP BY 1),
       |cum AS (
       |  SELECT v, cnt,
       |    COALESCE(sum(cnt) OVER (ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
       |  FROM g),
       |s AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
       |  CAST(sum(v * cnt) AS BIGINT) AS sum_x,
       |  sum(CAST(v AS DECIMAL(38,0)) * CAST(cnt AS DECIMAL(38,0))
       |    * CAST(2 * cb + cnt + 1 AS DECIMAL(38,0))) AS r2x
       |  FROM cum)
       |SELECT n, sum_x,
       |  round(CAST(r2x AS DOUBLE) /
       |    (CAST(n AS DOUBLE) * CAST(sum_x AS DOUBLE)) -
       |    CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS gini
       |FROM s""".stripMargin

  /** Functional-dependency check over DECLARED candidate pairs — the
    * data-profiling primitive behind "is doc_id a key", "does source
    * determine lang", schema-inference audits (Metanome-style, but as a
    * declared-candidate CHECK: discovery over all column pairs is the
    * same op mapped over the pair lattice). For each (det, dep): the
    * determinant's group count and how many groups witness MORE than one
    * distinct dependent value (0 ⟺ det → dep holds).
    *
    * All-integer output. Per-pair cost is one groupBy(det) +
    * count_distinct(dep) — deliberately ONE pair per aggregate (fusing
    * pairs shares the scan but trips the multi-distinct Expand; at
    * exhibit pair-counts the extra scans are the cheap side of that
    * trade, the [[profile]] lesson). */
  def fdCheck(df: DataFrame, pairs: Seq[(String, String)]): DataFrame = {
    require(pairs.nonEmpty, "fdCheck needs at least one candidate pair")
    pairs.map { case (det, dep) =>
      df.groupBy(col(det).as("__k"))
        .agg(count_distinct(col(dep)).as("__nd"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("__nd") > 1, 1L).otherwise(0L)).as("violating_groups"))
        .select(lit(det).as("det"), lit(dep).as("dep"),
          col("n_groups"), col("violating_groups"),
          (col("violating_groups") === 0).as("holds"))
    }.reduce(_ unionByName _)
  }

  /** DuckDB twin of [[fdCheck]]. */
  def fdCheckSql(table: String, pairs: Seq[(String, String)]): String =
    pairs.map { case (det, dep) =>
      s"""SELECT '$det' AS det, '$dep' AS dep,
         |  CAST(count(*) AS BIGINT) AS n_groups,
         |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS violating_groups,
         |  sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0 AS holds
         |FROM (SELECT $det AS k, count(DISTINCT $dep) AS nd
         |      FROM $table GROUP BY 1)""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** Pairwise Pearson correlation of numeric columns in ONE scan — the
    * profiling matrix behind "is totalprice just quantity × price",
    * feature-redundancy pruning, and drift root-causing. Long-form
    * (col_a, col_b, n, corr) per unordered pair.
    *
    * Exactness: per-row products are doubles (order-free), all SUMS are
    * DECIMAL(38,6) (associative, order-independent — the [[profile]]
    * mean discipline applied to second moments); the closed form then
    * divides once in a fixed op order and rounds 6dp; zero-variance
    * pairs yield NULL via the nullif guard. Null rows: a pair's sums
    * count only rows where BOTH columns are non-null (pairwise
    * deletion, the standard corr contract).
    *
    * 100 TB shape: ONE aggregate over the scan with 6 decimal slots per
    * pair — no Expand, no sort risk from grouping (global aggregate);
    * C(C−1)/2 pairs of bounded state. */
  def correlation(df0: DataFrame, cols: Seq[String],
      pairwiseNulls: Boolean = true): DataFrame = {
    require(cols.size >= 2, s"need >= 2 columns, got $cols")
    require(cols.distinct == cols, s"duplicate columns in $cols")
    // project EARLY (only the profiled columns cross the spread
    // exchange), then parallelize the ~6·C(C,2)-decimal-slot aggregate
    // when the scan is slot-starved ([[Spread]]; see [[profile]])
    val df = Spread(df0.select(cols.map(col): _*))
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield ((cols(i), i), (cols(j), j))
    def dec(c: Column) = c.cast(DecimalType(38, 6))
    if (pairwiseNulls) {
      // general mode: every pair masks to rows where BOTH are non-null
      // (6 slots × C(C,2), each CASE-guarded) — correct on any input,
      // interpreted-decimal-expensive on wide tables
      val aggs = pairs.zipWithIndex.flatMap { case (((x, _), (y, _)), i) =>
        val both = col(x).isNotNull && col(y).isNotNull
        def m(c: Column) = when(both, c)
        Seq(
          count(when(both, lit(1))).as(s"n_$i"),
          sum(m(dec(col(x)))).as(s"sx_$i"),
          sum(m(dec(col(y)))).as(s"sy_$i"),
          sum(m(dec(col(x) * col(x)))).as(s"sxx_$i"),
          sum(m(dec(col(y) * col(y)))).as(s"syy_$i"),
          sum(m(dec(col(x) * col(y)))).as(s"sxy_$i"))
      }
      val wide = df.agg(aggs.head, aggs.tail: _*)
      val rows = pairs.zipWithIndex.map { case (((x, _), (y, _)), i) =>
        def d(n: String) = col(s"${n}_$i").cast("double")
        val n = d("n")
        val cov = n * d("sxy") - d("sx") * d("sy")
        val vx = n * d("sxx") - d("sx") * d("sx")
        val vy = n * d("syy") - d("sy") * d("sy")
        struct(lit(x).as("col_a"), lit(y).as("col_b"),
          col(s"n_$i").as("n"),
          round(cov / when(sqrt(vx * vy) =!= 0.0, sqrt(vx * vy)), 6).as("corr"))
      }
      wide.select(inline(array(rows: _*)))
    } else {
      // no-nulls fast path (measured 8.2 s → masked vs shared-slot on the
      // 4-column lineitem profile at sf0.1): per-COLUMN sums are shared
      // across every pair (3 slots × C + 1 count + sxy × C(C,2) — no CASE
      // masks), valid ONLY when no profiled column has nulls; a null
      // count mismatch RAISES rather than returning silently-wrong stats
      val colAggs = cols.zipWithIndex.flatMap { case (c, i) =>
        Seq(count(col(c)).as(s"nc_$i"),
          sum(dec(col(c))).as(s"s_$i"),
          sum(dec(col(c) * col(c))).as(s"ss_$i"))
      }
      val pairAggs = pairs.zipWithIndex.map { case (((x, _), (y, _)), i) =>
        sum(dec(col(x) * col(y))).as(s"sxy_$i")
      }
      val all = (count(lit(1)).as("n") +: colAggs) ++ pairAggs
      val wide = df.agg(all.head, all.tail: _*)
      val rows = pairs.zipWithIndex.map { case (((x, xi), (y, yi)), i) =>
        val n = col("n").cast("double")
        def s(p: String, j: Int) = col(s"${p}_$j").cast("double")
        val cov = n * s("sxy", i) - s("s", xi) * s("s", yi)
        val vx = n * s("ss", xi) - s("s", xi) * s("s", xi)
        val vy = n * s("ss", yi) - s("s", yi) * s("s", yi)
        val ok = col(s"nc_$xi") === col("n") && col(s"nc_$yi") === col("n")
        struct(lit(x).as("col_a"), lit(y).as("col_b"),
          col("n").as("n"),
          when(ok,
            round(cov / when(sqrt(vx * vy) =!= 0.0, sqrt(vx * vy)), 6))
            .otherwise(raise_error(lit(
              s"correlation(pairwiseNulls=false): nulls in $x or $y — " +
                "use the pairwise mode")).cast("double")).as("corr"))
      }
      wide.select(inline(array(rows: _*)))
    }
  }

  /** DuckDB twin of [[correlation]]. */
  def correlationSql(table: String, cols: Seq[String]): String = {
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    pairs.map { case (x, y) =>
      s"""SELECT '$x' AS col_a, '$y' AS col_b,
         |  CAST(n AS BIGINT) AS n,
         |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |    / nullif(sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 0), 6) AS corr
         |FROM (SELECT count(*) AS n,
         |    sum(CAST($x AS DECIMAL(38,6))) AS sx,
         |    sum(CAST($y AS DECIMAL(38,6))) AS sy,
         |    sum(CAST($x * $x AS DECIMAL(38,6))) AS sxx,
         |    sum(CAST($y * $y AS DECIMAL(38,6))) AS syy,
         |    sum(CAST($x * $y AS DECIMAL(38,6))) AS sxy
         |  FROM $table WHERE $x IS NOT NULL AND $y IS NOT NULL)"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
  }

  /** Median/MAD volume anomaly detection over a per-bucket count
    * series: a bucket is anomalous when its count deviates from the
    * trailing-`windowLen` LOWER median by more than `k` lower-MADs —
    * the robust version of the z-score alarm (a single spike cannot
    * drag the mean it is judged against). Every statistic is an
    * integer order statistic of the window list (sorted-list element,
    * not interpolated median), so the alarm is bit-identical across
    * engines. Buckets whose trailing window is not yet FULL never
    * alarm — a half-filled warm-up window has a degenerate (often
    * zero) MAD that would flag ordinary jitter.
    *
    * 100 TB shape: the series is BUCKET-cardinality (hours/days); the
    * window list holds `windowLen` longs per row. The corpus-sized
    * work is the one grouped count producing the series. */
  def madAnomalies(series: DataFrame, bucketCol: String, cntCol: String,
      windowLen: Int = 24, k: Long = 3L): DataFrame = {
    require(windowLen >= 2, s"windowLen must be >= 2, got $windowLen")
    require(k >= 1L, s"k must be >= 1, got $k")
    val w = Window.orderBy(bucketCol)
      .rowsBetween(-(windowLen - 1).toLong, Window.currentRow)
    series.select(col(bucketCol).as("bucket"), col(cntCol).cast("long").as("cnt"))
      .withColumn("__lst", sort_array(collect_list("cnt").over(w)))
      .withColumn("med",
        expr("element_at(__lst, CAST((size(__lst) + 1) div 2 AS INT))"))
      .withColumn("mad", expr(
        "element_at(array_sort(transform(__lst, x -> abs(x - med)))," +
          " CAST((size(__lst) + 1) div 2 AS INT))"))
      .withColumn("is_anomaly",
        size(col("__lst")) === windowLen &&
          abs(col("cnt") - col("med")) > lit(k) * col("mad"))
      .select("bucket", "cnt", "med", "mad", "is_anomaly")
  }

  /** DuckDB twin of [[madAnomalies]] over a `series` CTE with
    * (bucket, cnt) columns. */
  def madAnomaliesSql(windowLen: Int = 24, k: Long = 3L): String =
    s"""SELECT bucket, cnt, med, mad,
       |  winfull AND abs(cnt - med) > $k * mad AS is_anomaly
       |FROM (
       |  SELECT bucket, cnt, len(lst) = $windowLen AS winfull,
       |    list_sort(lst)[(len(lst) + 1) // 2] AS med,
       |    list_sort(list_transform(lst,
       |      x -> abs(x - list_sort(lst)[(len(lst) + 1) // 2])))
       |      [(len(lst) + 1) // 2] AS mad
       |  FROM (
       |    SELECT bucket, cnt,
       |      list(cnt) OVER (ORDER BY bucket
       |        ROWS BETWEEN ${windowLen - 1} PRECEDING AND CURRENT ROW)
       |        AS lst
       |    FROM series))""".stripMargin

  /** Auto-binned histogram: Freedman–Diaconis bin-width selection
    * (h = 2·IQR/∛n — robust to outliers where Sturges/√n are not)
    * followed by an exact integer-arithmetic binning. The reference
    * engine leaves bin choice entirely to the caller
    * (`/root/reference/src/dask_histogram/routines.py` takes bins as
    * an argument); this closes the "what bins?" first question every
    * exploratory histogram starts with.
    *
    * Determinism contract: quartiles are EXACT order statistics (the
    * value at rank ceil(n/4)/ceil(3n/4) — rank-of-value is tie-safe),
    * the only float arithmetic is the bin-count formula itself
    * (identical operation order in the SQL twin, cbrt included), and
    * row→bin assignment is pure BIGINT: ((v−mn)·nb) div (mx−mn),
    * clamped — no float boundary can disagree between engines.
    *
    * 100 TB shape (the [[giniIndex]] grid form, pointed at order
    * statistics): ONE corpus aggregate builds the distinct-value
    * relation (v, cnt), persisted; the quartile at global rank r is the
    * value whose cumulative range (cb, cb+cnt] covers r, where cb is
    * the grid-bucketed cumulative count — bucket-partitioned windows
    * plus a ≤`buckets`-row offset prefix sum, BIT-IDENTICAL to a global
    * rank window (the [[graft.ops.LayoutOps.rangeBucketOf]] monotone-
    * bucket property) with no single-task straggler and no row-count
    * cap (counts are BIGINT — the old exact-rank form's 2^31
    * `row_number` ceiling is gone). Binning then runs over the SAME
    * distinct relation (Σcnt per bin), so the corpus is scanned exactly
    * once. The result (≤maxBins rows) is materialized eagerly so the
    * persisted relation can be released before returning. */
  def fdHistogram(df: DataFrame, valueCol: Column, maxBins: Int = 200,
      buckets: Int = 256): DataFrame = {
    require(maxBins >= 1, s"maxBins must be >= 1, got $maxBins")
    val g = df.select(valueCol.cast("long").as("v"))
      .filter(col("v").isNotNull)
      .groupBy("v").agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val s = g.agg(sum("cnt").as("n"), min("v").as("mn"),
        max("v").as("mx")).head()
      require(!s.isNullAt(0), "fdHistogram: empty input")
      val n = s.getLong(0)
      val (mn, mx) = (s.getLong(1), s.getLong(2))
      val (r1, r3) = ((n + 3) / 4, (3 * n + 3) / 4)
      // rank-of-value: global rank r lands on the v with cb < r <= cb+cnt
      def hit(r: Long) = col("cb") < r && col("cb") + col("cnt") >= r
      val qs = gridCumCounts(g, buckets).filter(hit(r1) || hit(r3))
        .agg(min(when(hit(r1), col("v"))).as("q1"),
          min(when(hit(r3), col("v"))).as("q3")).head()
      val (q1, q3) = (qs.getLong(0), qs.getLong(1))
      val nb: Long =
        if (q3 <= q1 || mx == mn) 1L
        else math.min(maxBins.toLong, math.max(1L,
          math.ceil((mx - mn).toDouble /
            (2.0 * (q3 - q1).toDouble / math.cbrt(n.toDouble))).toLong))
      val idx =
        if (mx == mn) lit(0L)
        else expr(s"least(((v - ${mn}L) * ${nb}L) div ${mx - mn}L, ${nb - 1}L)")
      val binned = g.select(idx.as("bin"), col("cnt"))
        .groupBy("bin").agg(sum("cnt").as("n_rows"))
        .select(col("bin"), col("n_rows"), lit(nb).as("n_bins"),
          lit(q1).as("q1"), lit(q3).as("q3"))
      materialized(binned)
    } finally g.unpersist()
  }

  /** DuckDB twin of [[fdHistogram]] — same rank rule, same float
    * operation order in the bin-count formula, same BIGINT binning. */
  def fdHistogramSql(table: String, valueSql: String,
      maxBins: Int = 200): String =
    s"""WITH v AS (
       |  SELECT CAST($valueSql AS BIGINT) AS v FROM $table
       |  WHERE $valueSql IS NOT NULL),
       |s AS (SELECT count(*) AS n, min(v) AS mn, max(v) AS mx FROM v),
       |rk AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v),
       |q AS (
       |  SELECT min(CASE WHEN rn = (s.n + 3) // 4 THEN v END) AS q1,
       |    min(CASE WHEN rn = (3 * s.n + 3) // 4 THEN v END) AS q3
       |  FROM rk, s),
       |m AS (
       |  SELECT s.mn, s.mx, q.q1, q.q3,
       |    CASE WHEN q.q3 <= q.q1 OR s.mx = s.mn THEN 1
       |      ELSE least($maxBins, greatest(1,
       |        CAST(ceil(CAST(s.mx - s.mn AS DOUBLE)
       |          / (2.0 * CAST(q.q3 - q.q1 AS DOUBLE)
       |             / cbrt(CAST(s.n AS DOUBLE)))) AS BIGINT)))
       |    END AS nb
       |  FROM s, q)
       |SELECT CASE WHEN m.mx = m.mn THEN 0
       |    ELSE least(((v.v - m.mn) * m.nb) // (m.mx - m.mn), m.nb - 1)
       |  END AS bin,
       |  count(*) AS n_rows, m.nb AS n_bins, m.q1, m.q3
       |FROM v, m
       |GROUP BY 1, m.nb, m.q1, m.q3""".stripMargin

  /** Key-skew diagnostic: the top `k` hottest keys with their exact
    * counts and corpus share (ppm, integer arithmetic) — the number a
    * join/aggregation planner needs BEFORE shuffling on a key. A key
    * holding >~5% of a 100 TB relation turns one reducer into the
    * job's critical path; this report is what decides between a plain
    * shuffle, [[graft.ops.JoinOps.saltedJoin]], or AQE skew splitting.
    *
    * 100 TB shape: one map-side-combining count per key, then
    * `orderBy(...).limit(k)` — which compiles to
    * TakeOrderedAndProject: a bounded k-row heap per partition, k rows
    * to the driver-side merge, NEVER a full sort of the key domain.
    * The rank window runs on the k survivors only. Share uses BIGINT
    * ppm (cnt·1e6 div total): engine-portable, no float division.
    * Ties rank deterministically (count desc, key asc). */
  def keySkew(df: DataFrame, keyCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val counts = df.groupBy(col(keyCol).cast("string").as("key"))
      .agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum("cnt").as("__total"))
    counts.crossJoin(total)
      .withColumn("share_ppm", expr("(cnt * 1000000L) div __total"))
      .orderBy(col("cnt").desc, col("key").asc)
      .limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col("key").asc)).cast("long"))
      .select("rank", "key", "cnt", "share_ppm")
  }

  /** DuckDB twin of [[keySkew]]. `keySql` must cast/stringify the key
    * the same way the Spark call does. */
  def keySkewSql(table: String, keySql: String, k: Int): String =
    s"""WITH c AS (
       |  SELECT CAST($keySql AS VARCHAR) AS key, count(*) AS cnt
       |  FROM $table GROUP BY 1),
       |t AS (SELECT sum(cnt) AS total FROM c)
       |SELECT row_number() OVER (ORDER BY cnt DESC, key ASC) AS rank,
       |  key, cnt, CAST((cnt * 1000000) // t.total AS BIGINT) AS share_ppm
       |FROM c, t
       |QUALIFY rank <= $k""".stripMargin

  /** DuckDB twin of [[linearFit]] — same exact-integer sums, same
    * cast-then-multiply order, same nullif-zero guards, 6dp. `xSql`
    * must be a BIGINT expression over the table's columns. */
  def linearFitSql(table: String, groupCol: String, xSql: String,
      ySql: String): String =
    s"""WITH s AS (
       |  SELECT $groupCol, count(*) AS n,
       |    sum(__x) AS sx, sum(__y) AS sy,
       |    sum(__x * __x) AS sxx, sum(__y * __y) AS syy,
       |    sum(__x * __y) AS sxy
       |  FROM (SELECT $groupCol, CAST($xSql AS BIGINT) AS __x,
       |          CAST($ySql AS BIGINT) AS __y FROM $table)
       |  GROUP BY $groupCol)
       |SELECT $groupCol, n,
       |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
       |          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |    / nullif(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0), 6) AS slope,
       |  round((CAST(sy AS DOUBLE)
       |      - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
       |            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |         / nullif(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0))
       |        * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS intercept,
       |  round(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
       |          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |       * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
       |          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
       |    / nullif((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |       * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
       |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)), 0), 6) AS r2
       |FROM s""".stripMargin

  // ---- sequential change-point monitoring (CUSUM) --------------------------

  /** One-sided upward CUSUM change-point monitor (Page 1954) over a
    * daily metric relation `daily` = (day, x BIGINT): learn the
    * reference level from the first `refDays` days, then raise a
    * sticky per-day statistic that accumulates sustained upward
    * deviation and alarm when it crosses the threshold — the classic
    * "did ingest volume / error rate shift, and when" monitor, catching
    * small persistent shifts that per-day thresholding misses.
    *
    * mu0 = floor(1000·Σx_ref / n_ref) milli-units (exact integer
    * division); slack = mu0·slackPermille div 1000 (the CUSUM "k",
    * tolerated drift before accumulation); h = mu0·hPermille div 1000.
    * Over monitoring days (after the reference window), with
    * Y_d = 1000·x_d − mu0 − slack, the recursion
    * S_d = max(0, S_{d−1} + Y_d) is computed WITHOUT sequential state
    * via the reflection identity S_d = C_d − min(0, min_{j≤d} C_j)
    * over the cumulative sum C — two windows, no recursion, exactly the
    * form both engines execute. Returns (day, x, cusum_milli, alarm)
    * for monitoring days; alarm = S_d > h. All arithmetic is BIGINT —
    * no float anywhere, bit-stable under any partitioning.
    *
    * 100 TB shape: the caller's daily aggregate is the only corpus
    * pass; every window here runs on the calendar-bounded DAY relation
    * (thousands of rows at any corpus size — the rocAuc quantized-
    * domain pattern). Fewer than `refDays` days of data yields an
    * empty monitoring relation rather than a spurious baseline. */
  def cusumShift(daily: DataFrame, refDays: Int,
      slackPermille: Long = 0L, hPermille: Long = 2000L): DataFrame = {
    require(refDays >= 1, s"refDays must be >= 1, got $refDays")
    require(slackPermille >= 0L, s"slackPermille must be >= 0")
    require(hPermille > 0L, s"hPermille must be > 0")
    val byDay = Window.orderBy(col("day").asc)
    val ranked = daily.select(col("day"), col("x").cast("long").as("x"))
      .withColumn("rn", row_number().over(byDay))
    // integer division on BOTH engines (Spark `div` / DuckDB `//`): a
    // double division + cast would truncate here and round there
    val ref = ranked.filter(col("rn") <= refDays)
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("n_ref"))
      .filter(col("n_ref") === refDays)
      .select(expr("(1000L * sx) div n_ref").as("mu0_milli"))
    val mon = ranked.filter(col("rn") > refDays)
      .crossJoin(ref)
      .withColumn("y", lit(1000L) * col("x") - col("mu0_milli") -
        expr(s"CAST(mu0_milli * $slackPermille AS BIGINT) div 1000L"))
    val cw = Window.orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    mon.withColumn("c", sum(col("y")).over(cw))
      .withColumn("floor_c", least(lit(0L), min(col("c")).over(cw)))
      .select(col("day"), col("x"),
        (col("c") - col("floor_c")).as("cusum_milli"),
        ((col("c") - col("floor_c")) >
          expr(s"CAST(mu0_milli * $hPermille AS BIGINT) div 1000L"))
          .as("alarm"))
  }

  /** Weekday-seasonal [[cusumShift]]: real event volume has a weekly
    * cycle, so a flat reference level false-alarms every weekend (or
    * masks a weekday-sized shift). This variant learns ONE reference
    * level PER WEEKDAY (dow = day mod 7 — epoch-day arithmetic, no
    * calendar library) from the first `refDays` days and accumulates
    * deviations from the day's own weekday baseline; slack and the
    * alarm threshold stay anchored to the global reference mean so the
    * sensitivity contract matches [[cusumShift]]. Weekdays absent from
    * the reference window fall back to the global mean (COALESCE, same
    * both engines — pick refDays as a multiple of 7 to avoid it).
    * Same reflection-identity evaluation, all-BIGINT, same output
    * shape (day, x, cusum_milli, alarm). */
  def cusumShiftSeasonal(daily: DataFrame, refDays: Int,
      slackPermille: Long = 0L, hPermille: Long = 2000L): DataFrame = {
    require(refDays >= 1, s"refDays must be >= 1, got $refDays")
    require(slackPermille >= 0L, s"slackPermille must be >= 0")
    require(hPermille > 0L, s"hPermille must be > 0")
    val byDay = Window.orderBy(col("day").asc)
    val ranked = daily.select(col("day").cast("long").as("day"),
        col("x").cast("long").as("x"))
      .withColumn("rn", row_number().over(byDay))
      .withColumn("dow", pmod(col("day"), lit(7L)))
    val refRows = ranked.filter(col("rn") <= refDays)
    val ref = refRows
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("n_ref"))
      .filter(col("n_ref") === refDays)
      .select(expr("(1000L * sx) div n_ref").as("mu0_milli"))
    val refDow = refRows.groupBy("dow")
      .agg(expr("(1000L * sum(x)) div count(1)").as("mu_dow_milli"))
    val mon = ranked.filter(col("rn") > refDays)
      // without it (sf0.1, 64 B threshold): SortMergeJoin
      .join(broadcast(refDow), Seq("dow"), "left")
      .crossJoin(ref)
      .withColumn("y", lit(1000L) * col("x") -
        coalesce(col("mu_dow_milli"), col("mu0_milli")) -
        expr(s"CAST(mu0_milli * $slackPermille AS BIGINT) div 1000L"))
    val cw = Window.orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    mon.withColumn("c", sum(col("y")).over(cw))
      .withColumn("floor_c", least(lit(0L), min(col("c")).over(cw)))
      .select(col("day"), col("x"),
        (col("c") - col("floor_c")).as("cusum_milli"),
        ((col("c") - col("floor_c")) >
          expr(s"CAST(mu0_milli * $hPermille AS BIGINT) div 1000L"))
          .as("alarm"))
  }

  /** DuckDB twin of [[cusumShiftSeasonal]]. */
  def cusumShiftSeasonalSql(dailyCte: String, refDays: Int,
      slackPermille: Long = 0L, hPermille: Long = 2000L): String = {
    require(refDays >= 1, s"refDays must be >= 1, got $refDays")
    require(slackPermille >= 0L && hPermille > 0L, "invalid permille args")
    s"""WITH daily AS ($dailyCte),
       |ranked AS (
       |  SELECT day, CAST(x AS BIGINT) AS x,
       |    row_number() OVER (ORDER BY day ASC) AS rn,
       |    ((CAST(day AS BIGINT) % 7) + 7) % 7 AS dow
       |  FROM daily),
       |ref AS (
       |  SELECT (1000 * sum(x)) // count(*) AS mu0_milli
       |  FROM ranked WHERE rn <= $refDays
       |  HAVING count(*) = $refDays),
       |refdow AS (
       |  SELECT dow, (1000 * sum(x)) // count(*) AS mu_dow_milli
       |  FROM ranked WHERE rn <= $refDays GROUP BY 1),
       |mon AS (
       |  SELECT r.day, r.x,
       |    1000 * r.x - COALESCE(d.mu_dow_milli, f.mu0_milli)
       |      - CAST(f.mu0_milli * $slackPermille AS BIGINT) // 1000 AS y,
       |    f.mu0_milli
       |  FROM ranked r
       |  LEFT JOIN refdow d USING (dow)
       |  CROSS JOIN ref f WHERE r.rn > $refDays),
       |cum AS (
       |  SELECT day, x, mu0_milli,
       |    sum(y) OVER (ORDER BY day ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
       |  FROM mon),
       |s AS (
       |  SELECT day, x, mu0_milli,
       |    CAST(c - least(0, min(c) OVER (ORDER BY day ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |      AS BIGINT) AS cusum_milli
       |  FROM cum)
       |SELECT day, x, cusum_milli,
       |  cusum_milli > CAST(mu0_milli * $hPermille AS BIGINT) // 1000
       |    AS alarm
       |FROM s""".stripMargin
  }

  /** DuckDB twin of [[cusumShift]]: `dailyCte` must yield (day, x) by
    * the identical expressions. */
  def cusumShiftSql(dailyCte: String, refDays: Int,
      slackPermille: Long = 0L, hPermille: Long = 2000L): String = {
    require(refDays >= 1, s"refDays must be >= 1, got $refDays")
    require(slackPermille >= 0L && hPermille > 0L, "invalid permille args")
    s"""WITH daily AS ($dailyCte),
       |ranked AS (
       |  SELECT day, CAST(x AS BIGINT) AS x,
       |    row_number() OVER (ORDER BY day ASC) AS rn
       |  FROM daily),
       |ref AS (
       |  SELECT (1000 * sum(x)) // count(*) AS mu0_milli
       |  FROM ranked WHERE rn <= $refDays
       |  HAVING count(*) = $refDays),
       |mon AS (
       |  SELECT r.day, r.x,
       |    1000 * r.x - f.mu0_milli
       |      - CAST(f.mu0_milli * $slackPermille AS BIGINT) // 1000 AS y,
       |    f.mu0_milli
       |  FROM ranked r CROSS JOIN ref f WHERE r.rn > $refDays),
       |cum AS (
       |  SELECT day, x, mu0_milli,
       |    sum(y) OVER (ORDER BY day ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
       |  FROM mon),
       |s AS (
       |  SELECT day, x, mu0_milli,
       |    CAST(c - least(0, min(c) OVER (ORDER BY day ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |      AS BIGINT) AS cusum_milli
       |  FROM cum)
       |SELECT day, x, cusum_milli,
       |  cusum_milli > CAST(mu0_milli * $hPermille AS BIGINT) // 1000
       |    AS alarm
       |FROM s""".stripMargin
  }

  /** Robust trend readout over a daily metric relation (day, x BIGINT):
    * the Theil–Sen slope (median of all pairwise slopes — breakdown
    * point 29%, immune to the outlier days that wreck least squares)
    * plus the Mann–Kendall trend test (S = Σ sign(x_j − x_i) over
    * ordered pairs, tie-corrected normal approximation) — the
    * monitoring companion to [[cusumShift]]: CUSUM says "a level shift
    * happened", this says "a monotone drift is underway, this steep,
    * this significant".
    *
    * Returns ONE row (n_days, sen_slope, mk_s, mk_z). Determinism:
    * pair slopes are one double division each; the median picks
    * row-numbered middles (ties can reorder only equal values, so the
    * median VALUE is invariant) and averages the two middles for even
    * counts in fixed order; S and every tie/variance numerator are
    * exact BIGINT, with var(S) = (n(n−1)(2n+5) − Σ_t t(t−1)(2t+5))/18
    * divided and sqrt'd once; z applies the ±1 continuity correction
    * via the same CASE both engines. n_days < 2 yields NULL slope and
    * z with mk_s = 0.
    *
    * 100 TB shape: the caller's daily aggregate is the only corpus
    * pass; the pair self-join is O(days²) on the CALENDAR-BOUNDED day
    * relation (a decade is ~6.7M pairs — evaluation-sized), the same
    * bounded-domain contract as [[cusumShift]]'s windows. */
  def robustTrend(daily: DataFrame): DataFrame = {
    val d = daily.select(col("day").cast("long").as("day"),
      col("x").cast("long").as("x"))
    val pairs = d.as("a").join(d.as("b"), col("a.day") < col("b.day"))
      .select(
        ((col("b.x") - col("a.x")).cast("double") /
          (col("b.day") - col("a.day")).cast("double")).as("slope"),
        signum(col("b.x") - col("a.x")).cast("long").as("sgn"))
    val w = Window.orderBy(col("slope").asc)
    val med = pairs.withColumn("rn", row_number().over(w))
      .crossJoin(pairs.agg(count(lit(1)).as("np")))
      // integer div: Column `/` is double division and would never
      // match the integer row_number
      .filter(col("rn") === expr("(np + 1) div 2") ||
        col("rn") === expr("np div 2 + 1"))
      .agg((sum(col("slope")) / count(lit(1))).as("sen_slope"))
    val sAgg = pairs.agg(coalesce(sum(col("sgn")), lit(0L)).as("mk_s"))
    val nDays = d.agg(count(lit(1)).as("n_days"))
    val ties = d.groupBy("x").agg(count(lit(1)).as("t"))
      .agg(coalesce(sum(expr("t * (t - 1) * (2 * t + 5)")), lit(0L))
        .as("tie_num"))
    nDays.crossJoin(sAgg).crossJoin(ties)
      .crossJoin(med.select("sen_slope"))
      .select(col("n_days"),
        when(col("n_days") < 2, lit(null).cast("double"))
          .otherwise(round(col("sen_slope"), 6)).as("sen_slope"),
        col("mk_s"),
        when(col("n_days") < 2, lit(null).cast("double"))
          // S = 0 short-circuits BEFORE the division: an all-tied
          // series has var(S) = 0 and would produce 0/0 = NaN
          .when(col("mk_s") === 0, lit(0.0))
          .otherwise(round(
            when(col("mk_s") > 0, (col("mk_s") - lit(1)).cast("double"))
              .otherwise((col("mk_s") + lit(1)).cast("double")) /
            sqrt((expr("n_days * (n_days - 1) * (2 * n_days + 5)") -
              col("tie_num")).cast("double") / lit(18.0)), 6)).as("mk_z"))
  }

  /** DuckDB twin of [[robustTrend]]: `dailyCte` must yield (day, x) by
    * the identical expressions. */
  def robustTrendSql(dailyCte: String): String =
    s"""WITH daily AS ($dailyCte),
       |d AS (SELECT CAST(day AS BIGINT) AS day, CAST(x AS BIGINT) AS x
       |  FROM daily),
       |pairs AS (
       |  SELECT CAST(b.x - a.x AS DOUBLE) / CAST(b.day - a.day AS DOUBLE)
       |      AS slope,
       |    CAST(sign(b.x - a.x) AS BIGINT) AS sgn
       |  FROM d a JOIN d b ON a.day < b.day),
       |np AS (SELECT CAST(count(*) AS BIGINT) AS np FROM pairs),
       |med AS (
       |  SELECT sum(slope) / count(*) AS sen_slope
       |  FROM (SELECT slope, row_number() OVER (ORDER BY slope ASC) AS rn
       |        FROM pairs) r CROSS JOIN np
       |  WHERE r.rn = (np.np + 1) // 2 OR r.rn = np.np // 2 + 1),
       |sagg AS (SELECT COALESCE(CAST(sum(sgn) AS BIGINT), 0) AS mk_s
       |  FROM pairs),
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM d),
       |ties AS (
       |  SELECT COALESCE(CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT), 0)
       |    AS tie_num
       |  FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM d GROUP BY x))
       |SELECT nd.n_days,
       |  CASE WHEN nd.n_days < 2 THEN NULL
       |    ELSE round(med.sen_slope, 6) END AS sen_slope,
       |  sagg.mk_s,
       |  CASE WHEN nd.n_days < 2 THEN NULL
       |    WHEN sagg.mk_s = 0 THEN 0.0
       |    ELSE round(
       |      (CASE WHEN sagg.mk_s > 0 THEN CAST(sagg.mk_s - 1 AS DOUBLE)
       |            ELSE CAST(sagg.mk_s + 1 AS DOUBLE) END) /
       |      sqrt(CAST(nd.n_days * (nd.n_days - 1) * (2 * nd.n_days + 5)
       |        - ties.tie_num AS DOUBLE) / 18.0), 6) END AS mk_z
       |FROM nd CROSS JOIN sagg CROSS JOIN ties CROSS JOIN med""".stripMargin

  /** Per-key overdispersion report of daily counts — the Fano factor
    * (index of dispersion) var/mean per key: a Poisson arrival process
    * has dispersion ≈ 1, so values well above 1 expose bursty/bot
    * traffic and values below 1 rate-limited or synthetic feeds — the
    * per-key companion to [[cusumShift]]'s level monitoring.
    *
    * Input (key, day, x BIGINT). Exactness: per-key (n, Σx, Σx²) ride
    * exact integers (squares through DECIMAL(38,0)); mean, the UNBIASED
    * variance and dispersion assemble in one fixed token order each,
    * rounded at 6dp; keys with n < 2 or zero mean yield NULL dispersion
    * via the same CASE. Returns (key, n_days, mean, dispersion).
    *
    * 100 TB shape: the caller's (key, day) aggregate is the corpus
    * pass; this is one map-side-combined groupBy(key) over the
    * key×calendar-bounded relation. */
  def dispersionByKey(daily: DataFrame): DataFrame = {
    def dec(c: Column) = c.cast(DecimalType(38, 0))
    def dbl(c: Column) = c.cast("double")
    daily.select(col("key"), col("x").cast("long").as("x"))
      .groupBy("key")
      .agg(count(lit(1)).as("n_days"), sum(col("x")).as("s"),
        sum(dec(col("x")) * dec(col("x"))).as("q"))
      .select(col("key"), col("n_days"),
        round(dbl(col("s")) / dbl(col("n_days")), 6).as("mean"),
        when(col("n_days") < 2L || col("s") === 0L,
          lit(null).cast("double"))
          .otherwise(round(
            ((dbl(col("q")) - dbl(col("s")) * dbl(col("s")) /
              dbl(col("n_days"))) / (dbl(col("n_days")) - 1.0)) /
            (dbl(col("s")) / dbl(col("n_days"))), 6)).as("dispersion"))
  }

  /** DuckDB twin of [[dispersionByKey]] over a `daily` (key, day, x)
    * CTE. */
  def dispersionByKeySql(dailyCte: String): String =
    s"""WITH daily AS ($dailyCte),
       |agg AS (
       |  SELECT key, CAST(count(*) AS BIGINT) AS n_days,
       |    CAST(sum(x) AS BIGINT) AS s,
       |    sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS q
       |  FROM daily GROUP BY 1)
       |SELECT key, n_days,
       |  round(CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE), 6) AS mean,
       |  CASE WHEN n_days < 2 OR s = 0 THEN NULL
       |    ELSE round(
       |      ((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
       |          / CAST(n_days AS DOUBLE)) / (CAST(n_days AS DOUBLE) - 1.0))
       |      / (CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE)), 6)
       |  END AS dispersion
       |FROM agg""".stripMargin

  /** Autocorrelation function of a daily metric (day, x BIGINT) at lags
    * 1..maxLag — the "does this series have a cycle, and at what
    * period" diagnostic that motivates [[cusumShiftSeasonal]] over
    * [[cusumShift]] (a spike at lag 7 = weekly seasonality). Uses the
    * global-mean ACF estimator: r_k = (P_k − μ(A_k+B_k) + m·μ²) /
    * (Q − n·μ²) with P_k = Σ x_t·x_{t+k}, A/B the lag-pair side sums,
    * m the pair count, μ = S/n.
    *
    * Exactness: every sum (S, Q, P_k, A_k, B_k) is an exact integer
    * (products through DECIMAL(38,0)); μ and the r_k assembly are ONE
    * fixed-token-order double expression per lag, rounded at 6dp. A
    * constant series (zero variance) yields NULL acf via the same CASE
    * both engines. Missing days pair naturally (the lag join only
    * matches days that exist); n_pairs reports coverage per lag.
    *
    * 100 TB shape: the caller's daily aggregate is the only corpus
    * pass; the lag join is day-relation × maxLag (calendar-bounded ×
    * a constant), and the per-lag aggregate is maxLag rows. */
  def autocorrelation(daily: DataFrame, maxLag: Int = 14): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    def dec(c: Column) = c.cast(DecimalType(38, 0))
    val d = daily.select(col("day").cast("long").as("day"),
      col("x").cast("long").as("x"))
    val glob = d.agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
      sum(dec(col("x")) * dec(col("x"))).as("q"))
    val lagged = d.select(col("day"), col("x"),
        explode(expr(s"sequence(1, $maxLag)")).as("lag"))
      .withColumn("day", col("day") + col("lag"))
      .select(col("day"), col("lag"), col("x").as("x_prev"))
    val pairs = d.join(lagged, Seq("day"))
      .groupBy("lag")
      .agg(count(lit(1)).as("n_pairs"),
        sum(dec(col("x_prev")) * dec(col("x"))).as("p"),
        sum(col("x_prev")).as("a"), sum(col("x")).as("b"))
    def dbl(c: Column) = c.cast("double")
    pairs.crossJoin(glob)
      .withColumn("mu", dbl(col("s")) / dbl(col("n")))
      .select(col("lag").cast("int").as("lag"), col("n_pairs"),
        when(dbl(col("q")) - dbl(col("n")) * col("mu") * col("mu") <= 0.0,
          lit(null).cast("double"))
          .otherwise(round(
            (dbl(col("p")) - col("mu") * (dbl(col("a")) + dbl(col("b"))) +
              dbl(col("n_pairs")) * col("mu") * col("mu")) /
            (dbl(col("q")) - dbl(col("n")) * col("mu") * col("mu")), 6))
          .as("acf"))
  }

  /** DuckDB twin of [[autocorrelation]] over a `daily` (day, x) CTE. */
  def autocorrelationSql(dailyCte: String, maxLag: Int = 14): String = {
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    s"""WITH daily AS ($dailyCte),
       |d AS (SELECT CAST(day AS BIGINT) AS day, CAST(x AS BIGINT) AS x
       |  FROM daily),
       |gstats AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(x) AS BIGINT) AS s,
       |  sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS q
       |  FROM d),
       |lagged AS (
       |  SELECT d.day + t.lag AS day, t.lag, d.x AS x_prev
       |  FROM d, (SELECT unnest(range(1, ${maxLag + 1})) AS lag) t),
       |pairs AS (
       |  SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
       |    sum(CAST(x_prev AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
       |      AS p,
       |    CAST(sum(x_prev) AS BIGINT) AS a, CAST(sum(x) AS BIGINT) AS b
       |  FROM d JOIN lagged USING (day) GROUP BY 1)
       |SELECT CAST(lag AS INT) AS lag, n_pairs,
       |  CASE WHEN CAST(q AS DOUBLE)
       |      - CAST(n AS DOUBLE) * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
       |        * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) <= 0.0 THEN NULL
       |    ELSE round(
       |      (CAST(p AS DOUBLE)
       |        - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
       |          * (CAST(a AS DOUBLE) + CAST(b AS DOUBLE))
       |        + CAST(n_pairs AS DOUBLE)
       |          * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
       |          * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))) /
       |      (CAST(q AS DOUBLE)
       |        - CAST(n AS DOUBLE) * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
       |          * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))), 6) END AS acf
       |FROM pairs CROSS JOIN gstats""".stripMargin
  }

  // ---- Benford first-digit audit -------------------------------------------

  /** Benford's-law first-significant-digit audit of a positive numeric
    * column — the classic fabricated-data / unit-mixing screen (Benford
    * 1938; Nigrini's forensic-accounting test): natural multi-scale
    * quantities put digit d first with probability log10(1 + 1/d), and
    * hand-entered, capped, or unit-mixed columns visibly do not.
    *
    * `valueMicro` must be the value scaled to a positive BIGINT by the
    * caller (micro-units — the repo's quantization contract), so the
    * first digit is exact integer arithmetic on both engines (divide by
    * 10 until < 10). Nonpositive values are excluded and reported via
    * n_excluded. Returns one row per digit (1..9): (digit, n, expected
    * = round(N·p_d, 6), chi2_term = round((n − N·p_d)²/(N·p_d), 6)) —
    * the caller sums chi2_term against the 8-dof critical value. Each
    * double expression has fixed token order; counts are exact.
    *
    * 100 TB shape: one scan → a 9-row map-side-combined digit
    * aggregate; the one-row total broadcasts; absent digits are filled
    * from a literal 1..9 relation so the report shape is constant. */
  def benfordAudit(df: DataFrame, valueMicro: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val vals = df.select(valueMicro.cast("long").as("v"))
    // first significant digit = first char of the decimal rendering —
    // exact for positive BIGINT on both engines, and it evaluates the
    // caller's value expression ONCE. The previous 19-branch magnitude
    // CASE got the caller's round()+cast INLINED into every branch by
    // CollapseProject (plus the filter's isnotnull copy), a measured
    // 10x per-row tax at sf0.1 (4.3 s -> 0.4 s on lineitem prices).
    val pos = vals.filter(col("v") > 0L)
      .withColumn("digit",
        expr("CAST(substr(CAST(v AS STRING), 1, 1) AS BIGINT)"))
    val counts = pos.groupBy("digit").agg(count(lit(1)).as("n"))
    val tot = vals.agg(
      coalesce(sum(when(col("v") > 0L, 1L).otherwise(0L)), lit(0L)).as("nn"),
      coalesce(sum(when(col("v") <= 0L || col("v").isNull, 1L)
        .otherwise(0L)), lit(0L)).as("n_excluded"))
    val digits = (1L to 9L).toDF("digit")
    digits.join(counts, Seq("digit"), "left")
      .crossJoin(tot)
      .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"),
        col("n_excluded"),
        round(col("nn").cast("double") *
          log10(lit(1.0) + lit(1.0) / col("digit").cast("double")), 6)
          .as("expected"),
        when(col("nn") === 0L, lit(null).cast("double"))
          .otherwise(round(
            pow(coalesce(col("n"), lit(0L)).cast("double") -
              col("nn").cast("double") * log10(lit(1.0) +
                lit(1.0) / col("digit").cast("double")), 2.0) /
            (col("nn").cast("double") * log10(lit(1.0) +
              lit(1.0) / col("digit").cast("double"))), 6)).as("chi2_term"))
  }

  /** DuckDB twin of [[benfordAudit]]: `valsCte` must yield `v` (the
    * caller-scaled positive BIGINT) by the identical expressions. */
  def benfordAuditSql(valsCte: String): String = {
    s"""WITH vals AS ($valsCte),
       |pos AS (
       |  SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS BIGINT) AS digit
       |  FROM vals WHERE v > 0),
       |counts AS (SELECT digit, CAST(count(*) AS BIGINT) AS n
       |  FROM pos GROUP BY 1),
       |tot AS (SELECT
       |  CAST(COALESCE(sum(CASE WHEN v > 0 THEN 1 ELSE 0 END), 0)
       |    AS BIGINT) AS nn,
       |  CAST(COALESCE(sum(CASE WHEN v <= 0 OR v IS NULL THEN 1 ELSE 0 END),
       |    0) AS BIGINT) AS n_excluded
       |  FROM vals),
       |dd(digit) AS (VALUES (1), (2), (3), (4), (5), (6), (7), (8), (9))
       |SELECT CAST(dd.digit AS BIGINT) AS digit,
       |  COALESCE(c.n, 0) AS n, tot.n_excluded,
       |  round(CAST(tot.nn AS DOUBLE)
       |    * log10(1.0 + 1.0 / CAST(dd.digit AS DOUBLE)), 6) AS expected,
       |  CASE WHEN tot.nn = 0 THEN NULL
       |    ELSE round(
       |      pow(CAST(COALESCE(c.n, 0) AS DOUBLE) - CAST(tot.nn AS DOUBLE)
       |        * log10(1.0 + 1.0 / CAST(dd.digit AS DOUBLE)), 2.0) /
       |      (CAST(tot.nn AS DOUBLE)
       |        * log10(1.0 + 1.0 / CAST(dd.digit AS DOUBLE))), 6)
       |  END AS chi2_term
       |FROM dd LEFT JOIN counts c ON c.digit = dd.digit
       |CROSS JOIN tot""".stripMargin
  }
}
