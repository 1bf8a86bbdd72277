package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Model-quality evaluation and data-governance measurements over corpus
  * relations — the "did the filter work, and is the data safe to ship"
  * layer a curation pipeline runs after scoring/dedup and before export.
  *
  * The reference engine has no evaluation surface (reference scope:
  * /root/reference/src/dask_histogram covers histogram aggregation only);
  * this module extends the pipeline family with three measurements every
  * production run needs: classifier discrimination (ROC-AUC), metadata
  * dependence (mutual information), and re-identification risk
  * (k-anonymity).
  */
object EvalOps {

  // ---- ROC-AUC ----------------------------------------------------------
  /** Exact tie-aware ROC-AUC of a score column against a boolean label —
    * the one-number answer to "does the quality classifier actually
    * separate keep from drop". Computed via the Mann-Whitney rank-sum
    * identity: AUC = (Σ ranks of positives − P(P+1)/2) / (P·N), with tied
    * scores receiving their average rank (the standard mid-rank
    * convention, which makes AUC invariant to tie ordering).
    *
    * Engine-portable exactness: scores are quantized to integer
    * micro-units (the input contract is a 6dp-rounded score, so the
    * quantization is lossless), all rank arithmetic is integral —
    * 2·Σ avgrank(positives) = Σ_groups pos·(2·below + cnt + 1) — and only
    * the final division is floating point, rounded at 6dp.
    *
    * 100 TB shape: one groupBy on the quantized score bounds the ranked
    * relation at 2,000,001 rows REGARDLESS of corpus size (scores live in
    * [-1, 1] at 6dp), so the single-partition rank window is constant-size
    * — the corpus-sized input never passes through a global sort. The
    * rank sums stay in int64 for corpora up to ~2·10^9 positives; beyond
    * that the group relation is unchanged and the two sum aggregates
    * switch to DECIMAL(38,0) (same plan).
    *
    * Returns ONE row: (n_pos, n_neg, n_score_groups, auc). */
  def rocAuc(scored: DataFrame, scoreCol: String = "score",
      labelCol: String = "label"): DataFrame = {
    val g = scored
      .select((round(col(scoreCol) * 1e6) cast "long").as("s"),
        col(labelCol).cast("boolean").as("y"))
      .groupBy("s")
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("y"), 1L).otherwise(0L)).as("pos"))
    // below = rows with strictly smaller score; the window runs over the
    // score-group relation (bounded at 2e6+1 rows by quantization), never
    // over the corpus
    val w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    val ranked = g.select(col("cnt"), col("pos"),
      coalesce(sum(col("cnt")).over(w), lit(0L)).as("below"))
    ranked.agg(
        sum(col("pos")).as("p"),
        sum(col("cnt") - col("pos")).as("n"),
        count(lit(1)).as("n_score_groups"),
        sum(col("pos") * (lit(2L) * col("below") + col("cnt") + lit(1L)))
          .as("r2"))
      .select(col("p").as("n_pos"), col("n").as("n_neg"),
        col("n_score_groups"),
        round((col("r2") - col("p") * (col("p") + lit(1L))).cast("double") /
          (lit(2.0) * col("p").cast("double") * col("n").cast("double")), 6)
          .as("auc"))
  }

  /** DuckDB twin of [[rocAuc]]: `scoredCte` must yield (score, label)
    * with the identical 6dp-rounded score. */
  def rocAucSql(scoredCte: String, scoreExpr: String = "score",
      labelExpr: String = "label"): String =
    s"""WITH scored AS ($scoredCte),
       |g AS (
       |  SELECT CAST(round($scoreExpr * 1e6) AS BIGINT) AS s,
       |    CAST(count(*) AS BIGINT) AS cnt,
       |    CAST(sum(CASE WHEN $labelExpr THEN 1 ELSE 0 END) AS BIGINT) AS pos
       |  FROM scored GROUP BY 1),
       |ranked AS (
       |  SELECT cnt, pos,
       |    COALESCE(sum(cnt) OVER (ORDER BY s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
       |  FROM g),
       |agg AS (
       |  SELECT CAST(sum(pos) AS BIGINT) AS p,
       |    CAST(sum(cnt - pos) AS BIGINT) AS n,
       |    CAST(count(*) AS BIGINT) AS n_score_groups,
       |    CAST(sum(pos * (2 * below + cnt + 1)) AS BIGINT) AS r2
       |  FROM ranked)
       |SELECT p AS n_pos, n AS n_neg, n_score_groups,
       |  round(CAST(r2 - p * (p + 1) AS DOUBLE) /
       |    (2.0 * CAST(p AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS auc
       |FROM agg""".stripMargin

  // ---- mutual information -----------------------------------------------
  /** Exact mutual-information decomposition between two categorical
    * columns — "does `source` leak `lang`" and every other
    * metadata-dependence question, as the per-cell table
    * (x, y, c_xy, c_x, c_y, n, pmi, mi_term) with
    * pmi = ln(n·c_xy / (c_x·c_y)) and mi_term = pmi·c_xy/n (the cell's
    * contribution to I(X;Y); Σ mi_term = MI).
    *
    * Exactness: counts are exact integers; the marginals re-aggregate the
    * CELL relation (x-cardinality × y-cardinality, never corpus-sized),
    * so raw rows are scanned once; each ln factor is cast to double
    * individually before multiplying (int64-overflow guard, the
    * [[TextOps.positionalPmi]] discipline); pmi rounds at 6dp and mi_term
    * is derived from the ROUNDED pmi (both engines multiply the identical
    * double), rounded at 9dp.
    *
    * 100 TB shape: one scan + one map-side-combined groupBy on (x, y);
    * marginals and the total are re-aggregates of the cell relation; the
    * total rides a one-row broadcast. */
  def mutualInfo(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val cells = df.groupBy(col(xCol).as("x"), col(yCol).as("y"))
      .agg(count(lit(1)).as("c_xy"))
    val mx = cells.groupBy("x").agg(sum(col("c_xy")).as("c_x"))
    val my = cells.groupBy("y").agg(sum(col("c_xy")).as("c_y"))
    val tot = cells.agg(sum(col("c_xy")).as("n"))
    val pmi = round(log((col("n").cast("double") * col("c_xy").cast("double")) /
      (col("c_x").cast("double") * col("c_y").cast("double"))), 6)
    cells.join(mx, Seq("x")).join(my, Seq("y"))
      .crossJoin(tot)
      .select(col("x"), col("y"), col("c_xy"), col("c_x"), col("c_y"),
        col("n"), pmi.as("pmi"),
        round(pmi * col("c_xy").cast("double") / col("n").cast("double"), 9)
          .as("mi_term"))
  }

  /** DuckDB twin of [[mutualInfo]]. */
  def mutualInfoSql(table: String, xCol: String, yCol: String): String =
    s"""WITH cells AS (
       |  SELECT $xCol AS x, $yCol AS y, CAST(count(*) AS BIGINT) AS c_xy
       |  FROM $table GROUP BY 1, 2),
       |mx AS (SELECT x, CAST(sum(c_xy) AS BIGINT) AS c_x FROM cells GROUP BY 1),
       |my AS (SELECT y, CAST(sum(c_xy) AS BIGINT) AS c_y FROM cells GROUP BY 1),
       |tot AS (SELECT CAST(sum(c_xy) AS BIGINT) AS n FROM cells)
       |SELECT x, y, c_xy, c_x, c_y, n,
       |  round(ln((CAST(n AS DOUBLE) * CAST(c_xy AS DOUBLE)) /
       |    (CAST(c_x AS DOUBLE) * CAST(c_y AS DOUBLE))), 6) AS pmi,
       |  round(round(ln((CAST(n AS DOUBLE) * CAST(c_xy AS DOUBLE)) /
       |    (CAST(c_x AS DOUBLE) * CAST(c_y AS DOUBLE))), 6)
       |    * CAST(c_xy AS DOUBLE) / CAST(n AS DOUBLE), 9) AS mi_term
       |FROM cells JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot""".stripMargin

  // ---- calibration (reliability diagram) ----------------------------------
  /** Reliability table for a scoring model against a binary label: the
    * score range [lo, hi) cut into `nBins` equal bins, each reporting
    * its row count, positive count and empirical positive rate — the
    * relation a reliability diagram plots and a threshold choice reads.
    * A monotone pos_rate column is what "the score is calibrated for
    * ranking" looks like; AUC ([[rocAuc]]) summarizes it to one number,
    * this keeps the shape.
    *
    * Exactness: the bin index is floor arithmetic on the raw score
    * (identical doubles → identical bins on both engines, clamped into
    * range); counts are exact; pos_rate divides exact integers once,
    * rounded 6dp. One map-side-combined groupBy(bin); empty bins are
    * absent rows (the oracle agrees).
    *
    * 100 TB shape: one corpus scan → an nBins-row relation. */
  def calibrationBins(scored: DataFrame, score: Column, label: Column,
      lo: Double, hi: Double, nBins: Int = 10): DataFrame = {
    require(nBins >= 2, s"nBins must be >= 2, got $nBins")
    require(lo < hi, s"need lo < hi, got [$lo, $hi)")
    val bin = greatest(lit(0L), least(lit(nBins - 1L),
      floor((score - lit(lo)) / lit(hi - lo) * lit(nBins)).cast("long")))
    scored.select(bin.as("bin"), label.cast("boolean").as("y"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(when(col("y"), 1L).otherwise(0L)).as("n_pos"))
      .select(col("bin").cast("int").as("bin"), col("n"), col("n_pos"),
        round(col("n_pos").cast("double") / col("n").cast("double"), 6)
          .as("pos_rate"))
  }

  /** DuckDB twin of [[calibrationBins]]: `scoredCte` yields
    * (score, label) by identical expressions. */
  def calibrationBinsSql(scoredCte: String, lo: Double, hi: Double,
      nBins: Int = 10): String =
    s"""WITH scored AS ($scoredCte),
       |binned AS (
       |  SELECT greatest(0, least(${nBins - 1},
       |      CAST(floor((score - ($lo)) / (${hi - lo}) * $nBins) AS BIGINT)))
       |    AS bin, label AS y
       |  FROM scored)
       |SELECT CAST(bin AS INT) AS bin, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |  round(CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE) /
       |    CAST(count(*) AS DOUBLE), 6) AS pos_rate
       |FROM binned GROUP BY bin""".stripMargin

  // ---- inter-rule agreement (Cohen's kappa) -------------------------------
  /** Chance-corrected agreement between two binary labelers over the
    * same rows (Cohen 1960) — "does the cheap classifier agree with the
    * expensive rule suite beyond what their base rates force":
    * κ = (p_o − p_e) / (1 − p_e) with p_o the observed agreement and
    * p_e = p_a·p_b + (1−p_a)(1−p_b) the chance agreement.
    *
    * Exactness: the four cell counts come from ONE map-side-combined
    * aggregate of conditional sums; every probability divides exact
    * integers once, and both engines combine the identical doubles in
    * identical order; κ rounds at 6dp. Degenerate case (p_e = 1: both
    * labelers constant) reports κ = 0 with agreement 1 — the standard
    * convention, stated rather than NaN.
    *
    * 100 TB shape: one corpus scan → a one-row result. Nothing else. */
  def cohenKappa(df: DataFrame, a: Column, b: Column): DataFrame = {
    val cells = df.select(a.cast("boolean").as("a"), b.cast("boolean").as("b"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("a") && col("b"), 1L).otherwise(0L)).as("n11"),
        sum(when(col("a") && !col("b"), 1L).otherwise(0L)).as("n10"),
        sum(when(!col("a") && col("b"), 1L).otherwise(0L)).as("n01"),
        sum(when(!col("a") && !col("b"), 1L).otherwise(0L)).as("n00"))
    def r(x: Column) = x.cast("double") / col("n").cast("double")
    cells.select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
        r(col("n11") + col("n00")).as("po"),
        (r(col("n11") + col("n10")) * r(col("n11") + col("n01")) +
          r(col("n01") + col("n00")) * r(col("n10") + col("n00"))).as("pe"))
      .select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
        round(col("po"), 6).as("p_observed"),
        round(col("pe"), 6).as("p_chance"),
        when(col("pe") === 1.0, 0.0)
          .otherwise(round((col("po") - col("pe")) / (lit(1.0) - col("pe")), 6))
          .as("kappa"))
  }

  /** DuckDB twin of [[cohenKappa]]: `rowsCte` yields boolean columns
    * (a, b) derived by identical expressions. */
  def cohenKappaSql(rowsCte: String): String =
    s"""WITH rows_ AS ($rowsCte),
       |cells AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n11,
       |    CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n10,
       |    CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n01,
       |    CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n00
       |  FROM rows_),
       |probs AS (
       |  SELECT n, n11, n10, n01, n00,
       |    CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE) AS po,
       |    (CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE)) *
       |      (CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE)) +
       |    (CAST(n01 + n00 AS DOUBLE) / CAST(n AS DOUBLE)) *
       |      (CAST(n10 + n00 AS DOUBLE) / CAST(n AS DOUBLE)) AS pe
       |  FROM cells)
       |SELECT n, n11, n10, n01, n00,
       |  round(po, 6) AS p_observed, round(pe, 6) AS p_chance,
       |  CASE WHEN pe = 1.0 THEN 0.0
       |       ELSE round((po - pe) / (1.0 - pe), 6) END AS kappa
       |FROM probs""".stripMargin

  // ---- metric decomposition (mix vs rate, Simpson detector) --------------
  /** Decompose the change in an overall binary rate between two periods
    * into per-segment MIX and RATE effects — the first question on any
    * moved metric: did segments get better/worse, or did the traffic mix
    * shift toward different segments? (Kitagawa's decomposition; the
    * standard A/B "why did the topline move" breakdown.) Per segment s
    * with share w_p = n_ps / N_p and rate r_p = k_ps / n_ps:
    *
    *   mix_s  = (w2 − w1) · r1        (share shift at old rate)
    *   rate_s = w1 · (r2 − r1)        (rate shift at old share)
    *   inter_s = (w2 − w1)(r2 − r1)   (the cross term)
    *
    * and Σ_s (mix + rate + inter) = R2 − R1 exactly in real arithmetic.
    * `direction_flip` marks Simpson-paradox segments: the segment rate
    * moved strictly opposite to the overall rate.
    *
    * Exactness: all counts exact integers from ONE map-side-combined
    * groupBy(segment) with conditional sums (no period×segment pivot
    * shuffle); every ratio divides cast-to-double integers once; effect
    * products multiply identical doubles in identical order on both
    * engines, rounded at 9dp. A segment absent from a period contributes
    * w = 0, r = 0 (the convention the SQL twin replays).
    *
    * 100 TB shape: one corpus scan → one segment-cardinality aggregate;
    * period totals re-aggregate the segment relation and ride a one-row
    * broadcast. Nothing else moves. */
  def metricDecomposition(df: DataFrame, period: Column, segment: Column,
      success: Column): DataFrame = {
    val seg = df
      .select(period.cast("int").as("p"), segment.as("segment"),
        success.cast("long").as("y"))
      .groupBy("segment")
      .agg(sum(when(col("p") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("p") === 1, col("y")).otherwise(0L)).as("k1"),
        sum(when(col("p") === 2, 1L).otherwise(0L)).as("n2"),
        sum(when(col("p") === 2, col("y")).otherwise(0L)).as("k2"))
    val tot = seg.agg(sum("n1").as("t1"), sum("k1").as("s1"),
      sum("n2").as("t2"), sum("k2").as("s2"))
    def ratio(k: Column, n: Column): Column =
      when(n === 0L, 0.0).otherwise(k.cast("double") / n.cast("double"))
    seg.crossJoin(tot)
      .select(col("segment"), col("n1"), col("n2"),
        ratio(col("k1"), col("n1")).as("r1"),
        ratio(col("k2"), col("n2")).as("r2"),
        ratio(col("n1"), col("t1")).as("w1"),
        ratio(col("n2"), col("t2")).as("w2"),
        ratio(col("s1"), col("t1")).as("bigr1"),
        ratio(col("s2"), col("t2")).as("bigr2"))
      .select(col("segment"), col("n1"), col("n2"),
        round(col("r1"), 6).as("r1"), round(col("r2"), 6).as("r2"),
        round((col("w2") - col("w1")) * col("r1"), 9).as("mix_effect"),
        round(col("w1") * (col("r2") - col("r1")), 9).as("rate_effect"),
        round((col("w2") - col("w1")) * (col("r2") - col("r1")), 9)
          .as("interaction"),
        (((col("r2") - col("r1")) > 0.0 && (col("bigr2") - col("bigr1")) < 0.0)
          || ((col("r2") - col("r1")) < 0.0
            && (col("bigr2") - col("bigr1")) > 0.0)).as("direction_flip"))
  }

  /** DuckDB twin of [[metricDecomposition]]: `rowsCte` must yield
    * (period, segment, success) with period ∈ {1, 2} and success ∈ {0, 1},
    * derived by the identical expressions. */
  def metricDecompositionSql(rowsCte: String): String =
    s"""WITH rows_ AS ($rowsCte),
       |seg AS (
       |  SELECT segment,
       |    CAST(sum(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |    CAST(sum(CASE WHEN period = 1 THEN success ELSE 0 END) AS BIGINT) AS k1,
       |    CAST(sum(CASE WHEN period = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
       |    CAST(sum(CASE WHEN period = 2 THEN success ELSE 0 END) AS BIGINT) AS k2
       |  FROM rows_ GROUP BY segment),
       |tot AS (
       |  SELECT CAST(sum(n1) AS BIGINT) AS t1, CAST(sum(k1) AS BIGINT) AS s1,
       |    CAST(sum(n2) AS BIGINT) AS t2, CAST(sum(k2) AS BIGINT) AS s2
       |  FROM seg),
       |rat AS (
       |  SELECT segment, n1, n2,
       |    CASE WHEN n1 = 0 THEN 0.0 ELSE CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE) END AS r1,
       |    CASE WHEN n2 = 0 THEN 0.0 ELSE CAST(k2 AS DOUBLE) / CAST(n2 AS DOUBLE) END AS r2,
       |    CASE WHEN t1 = 0 THEN 0.0 ELSE CAST(n1 AS DOUBLE) / CAST(t1 AS DOUBLE) END AS w1,
       |    CASE WHEN t2 = 0 THEN 0.0 ELSE CAST(n2 AS DOUBLE) / CAST(t2 AS DOUBLE) END AS w2,
       |    CASE WHEN t1 = 0 THEN 0.0 ELSE CAST(s1 AS DOUBLE) / CAST(t1 AS DOUBLE) END AS bigr1,
       |    CASE WHEN t2 = 0 THEN 0.0 ELSE CAST(s2 AS DOUBLE) / CAST(t2 AS DOUBLE) END AS bigr2
       |  FROM seg CROSS JOIN tot)
       |SELECT segment, n1, n2, round(r1, 6) AS r1, round(r2, 6) AS r2,
       |  round((w2 - w1) * r1, 9) AS mix_effect,
       |  round(w1 * (r2 - r1), 9) AS rate_effect,
       |  round((w2 - w1) * (r2 - r1), 9) AS interaction,
       |  (((r2 - r1) > 0.0 AND (bigr2 - bigr1) < 0.0) OR
       |   ((r2 - r1) < 0.0 AND (bigr2 - bigr1) > 0.0)) AS direction_flip
       |FROM rat""".stripMargin

  // ---- association rules (market basket) ----------------------------------
  /** Pairwise association rules over (basket, item) co-occurrence:
    * support, directional confidence, and lift for every unordered item
    * pair seen in at least `minSupport` baskets — the Agrawal–Srikant
    * market-basket statistic (here exact, pairs-only: higher-order
    * itemsets are the same op over the pair relation).
    *
    * All counts exact integers; confidences and lift divide once and
    * round 6dp (lift factors cast to double individually — the int64
    * product guard).
    *
    * 100 TB shape: the pair generation joins the distinct (basket, item)
    * relation to itself ON THE BASKET KEY — volume Σ per-basket size²,
    * bounded by basket width, never by item popularity (a hub ITEM never
    * concentrates a join key; baskets are the keys). Map-side-combined
    * counts; minSupport prunes before the stats joins; the basket total
    * rides a one-row broadcast. */
  def associationRules(baskets: DataFrame, basketCol: String,
      itemCol: String, minSupport: Long = 2L): DataFrame = {
    require(minSupport >= 1, s"minSupport >= 1, got $minSupport")
    val items = baskets.select(col(basketCol).as("o"), col(itemCol).as("p"))
      .distinct()
    val nB = items.agg(count_distinct(col("o")).as("n_baskets"))
    val sup = items.groupBy("p").agg(count(lit(1)).as("sup"))
    val pairs = items.join(items.select(col("o"), col("p").as("p2")), Seq("o"))
      .filter(col("p") < col("p2"))
      .groupBy(col("p").as("item_a"), col("p2").as("item_b"))
      .agg(count(lit(1)).as("sup_ab"))
      .filter(col("sup_ab") >= minSupport)
    pairs
      .join(sup.select(col("p").as("item_a"), col("sup").as("sup_a")),
        Seq("item_a"))
      .join(sup.select(col("p").as("item_b"), col("sup").as("sup_b")),
        Seq("item_b"))
      .crossJoin(nB)
      .select(col("item_a"), col("item_b"), col("sup_ab"), col("sup_a"),
        col("sup_b"),
        round(col("sup_ab").cast("double") / col("sup_a").cast("double"), 6)
          .as("conf_a_b"),
        round(col("sup_ab").cast("double") / col("sup_b").cast("double"), 6)
          .as("conf_b_a"),
        round((col("n_baskets").cast("double") * col("sup_ab").cast("double")) /
          (col("sup_a").cast("double") * col("sup_b").cast("double")), 6)
          .as("lift"))
  }

  /** DuckDB twin of [[associationRules]]: `basketsCte` must yield
    * (o, p). */
  def associationRulesSql(basketsCte: String, minSupport: Long = 2L): String =
    s"""WITH items AS (SELECT DISTINCT o, p FROM ($basketsCte)),
       |nb AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_baskets
       |       FROM items),
       |sup AS (SELECT p, CAST(count(*) AS BIGINT) AS sup
       |        FROM items GROUP BY 1),
       |pairs AS (
       |  SELECT a.p AS item_a, b.p AS item_b,
       |    CAST(count(*) AS BIGINT) AS sup_ab
       |  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
       |  GROUP BY 1, 2
       |  HAVING count(*) >= $minSupport)
       |SELECT item_a, item_b, sup_ab, sa.sup AS sup_a, sb.sup AS sup_b,
       |  round(CAST(sup_ab AS DOUBLE) / CAST(sa.sup AS DOUBLE), 6)
       |    AS conf_a_b,
       |  round(CAST(sup_ab AS DOUBLE) / CAST(sb.sup AS DOUBLE), 6)
       |    AS conf_b_a,
       |  round((CAST(n_baskets AS DOUBLE) * CAST(sup_ab AS DOUBLE)) /
       |    (CAST(sa.sup AS DOUBLE) * CAST(sb.sup AS DOUBLE)), 6) AS lift
       |FROM pairs
       |JOIN sup sa ON item_a = sa.p
       |JOIN sup sb ON item_b = sb.p
       |CROSS JOIN nb""".stripMargin

  // ---- k-anonymity -------------------------------------------------------
  /** k-anonymity risk report over a quasi-identifier grouping — "how many
    * records are re-identifiable from their metadata alone". A record is
    * k-anonymous iff its quasi-identifier combination is shared by at
    * least k records; the report gives, for each requested k, how many
    * groups and rows fall BELOW the threshold, plus the global minimum
    * group size (the dataset's k-anonymity level).
    *
    * All-integer output → exact on any engine. 100 TB shape: one
    * map-side-combined groupBy on the quasi-identifier tuple (the only
    * corpus-sized pass), then per-k aggregates over the GROUP relation
    * via a literal-k cross join — group count is bounded by the
    * quasi-identifier domain, not the corpus. */
  def kAnonymity(df: DataFrame, qidCols: Seq[String],
      ks: Seq[Int] = Seq(2, 5, 10, 20)): DataFrame = {
    require(qidCols.nonEmpty, "kAnonymity needs at least one quasi-identifier")
    require(ks.nonEmpty && ks.forall(_ >= 2), s"thresholds must be >= 2, got $ks")
    val g = df.groupBy(qidCols.map(col): _*).agg(count(lit(1)).as("sz"))
    val kRel = explode(array(ks.map(k => lit(k)): _*)).as("k")
    g.select(col("sz"), kRel)
      .groupBy("k")
      .agg(count(lit(1)).as("n_groups"),
        sum(col("sz")).as("n_rows"),
        sum(when(col("sz") < col("k"), 1L).otherwise(0L)).as("groups_below"),
        sum(when(col("sz") < col("k"), col("sz")).otherwise(0L)).as("rows_below"),
        min(col("sz")).as("min_group"))
      .select(col("k").cast("int").as("k"), col("n_groups"), col("n_rows"),
        col("groups_below"), col("rows_below"), col("min_group"))
  }

  /** Distinct l-diversity risk report (Machanavajjhala et al., ICDE
    * 2006) — k-anonymity's necessary companion: a group can be large
    * (k-anonymous) yet expose everyone in it because all its rows share
    * ONE sensitive value. A group is l-diverse iff its rows carry at
    * least l DISTINCT sensitive values; for each requested l the report
    * counts the groups and rows below, plus the dataset's global
    * diversity level (min distinct sensitive values over groups).
    *
    * All-integer output → exact on any engine. 100 TB shape: one
    * map-side-combined groupBy on (quasi-identifier, sensitive) — the
    * only corpus-sized pass — then group- and l-relation aggregates,
    * both bounded by the attribute domains, not the corpus. */
  def lDiversity(df: DataFrame, qidCols: Seq[String], sensitiveCol: String,
      ls: Seq[Int] = Seq(2, 3, 5)): DataFrame = {
    require(qidCols.nonEmpty, "lDiversity needs at least one quasi-identifier")
    require(ls.nonEmpty && ls.forall(_ >= 2), s"thresholds must be >= 2, got $ls")
    val cells = df.groupBy((qidCols :+ sensitiveCol).map(col): _*)
      .agg(count(lit(1)).as("c"))
    val g = cells.groupBy(qidCols.map(col): _*)
      .agg(sum(col("c")).as("sz"), count(lit(1)).as("div"))
    val lRel = explode(array(ls.map(l => lit(l)): _*)).as("l")
    g.select(col("sz"), col("div"), lRel)
      .groupBy("l")
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("div") < col("l"), 1L).otherwise(0L)).as("groups_below"),
        sum(when(col("div") < col("l"), col("sz")).otherwise(0L)).as("rows_below"),
        min(col("div")).as("min_diversity"))
      .select(col("l").cast("int").as("l"), col("n_groups"),
        col("groups_below"), col("rows_below"), col("min_diversity"))
  }

  /** DuckDB twin of [[lDiversity]]. */
  def lDiversitySql(table: String, qidExprs: Seq[String],
      sensitiveExpr: String, ls: Seq[Int] = Seq(2, 3, 5)): String = {
    require(ls.nonEmpty && ls.forall(_ >= 2), s"thresholds must be >= 2, got $ls")
    val qs = qidExprs.zipWithIndex.map { case (e, i) => s"$e AS q$i" }
      .mkString(", ")
    val qn = qidExprs.indices.map(i => s"q$i").mkString(", ")
    val lVals = ls.map(l => s"($l)").mkString(", ")
    s"""WITH cells AS (
       |  SELECT $qn, s, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT $qs, $sensitiveExpr AS s FROM $table)
       |  GROUP BY ${(1 to qidExprs.size + 1).mkString(", ")}),
       |g AS (
       |  SELECT $qn, CAST(sum(c) AS BIGINT) AS sz,
       |    CAST(count(*) AS BIGINT) AS div
       |  FROM cells GROUP BY ${(1 to qidExprs.size).mkString(", ")}),
       |ll(l) AS (VALUES $lVals)
       |SELECT CAST(l AS INT) AS l,
       |  CAST(count(*) AS BIGINT) AS n_groups,
       |  CAST(sum(CASE WHEN div < l THEN 1 ELSE 0 END) AS BIGINT)
       |    AS groups_below,
       |  CAST(sum(CASE WHEN div < l THEN sz ELSE 0 END) AS BIGINT)
       |    AS rows_below,
       |  CAST(min(div) AS BIGINT) AS min_diversity
       |FROM g CROSS JOIN ll
       |GROUP BY l""".stripMargin
  }

  /** t-closeness risk report (Li et al., ICDE 2007) — the tier above
    * l-diversity: a group can be diverse yet still leak because its
    * sensitive-value DISTRIBUTION differs sharply from the global one
    * (e.g. 90% of one diagnosis in a group vs 5% globally). For
    * categorical sensitive attributes with uniform ground distance the
    * earth-mover distance reduces to total variation
    * TV(g) = ½ Σ_s |c_gs/n_g − c_s/n|; the report gives, per requested
    * threshold t (in permille), the groups and rows whose TV exceeds
    * it, plus the dataset's worst group (max TV).
    *
    * Exactness: each |·| term rides DECIMAL(38,0) cross-products
    * (c_gs·n and c_s·n_g — exact to ~10^18·10^18, the correlation-op
    * discipline), and sensitive values ABSENT from a group enter via
    * the algebraic complement n_g·(n − Σ_present c_s) instead of
    * materialized zero cells; the single division per group rounds to
    * a 1e6-scaled BIGINT (tv_e6), so every comparison and the output
    * are integers.
    *
    * 100 TB shape: identical pass structure to [[lDiversity]] — one
    * (qid, sensitive) groupBy is the corpus pass; the TV assembly joins
    * cell/group/global relations all bounded by attribute domains; the
    * global total rides a one-row broadcast. */
  def tCloseness(df: DataFrame, qidCols: Seq[String], sensitiveCol: String,
      tsPermille: Seq[Int] = Seq(100, 200, 500)): DataFrame = {
    require(qidCols.nonEmpty, "tCloseness needs at least one quasi-identifier")
    require(tsPermille.nonEmpty && tsPermille.forall(t => t > 0 && t < 1000),
      s"thresholds must be in (0, 1000) permille, got $tsPermille")
    def dec(c: Column) = c.cast(DecimalType(38, 0))
    val cells = df.groupBy((qidCols :+ sensitiveCol).map(col): _*)
      .agg(count(lit(1)).as("c_gs"))
      .withColumnRenamed(sensitiveCol, "s")
    val g = cells.groupBy(qidCols.map(col): _*).agg(sum(col("c_gs")).as("n_g"))
    val glob = cells.groupBy("s").agg(sum(col("c_gs")).as("c_s"))
    val tot = cells.agg(sum(col("c_gs")).as("n"))
    val tv = cells
      .join(glob, Seq("s"))
      .join(g, qidCols)
      .crossJoin(tot)
      .groupBy(qidCols.map(col): _*)
      .agg(max(col("n_g")).as("n_g"), max(col("n")).as("n"),
        sum(abs(dec(col("c_gs")) * dec(col("n")) -
          dec(col("c_s")) * dec(col("n_g")))).as("num_present"),
        sum(col("c_s")).as("sum_cs"))
      .select(col("n_g"),
        expr("CAST(round(1000000.0 * CAST(num_present + " +
          "CAST(n_g AS DECIMAL(38,0)) * (CAST(n AS DECIMAL(38,0)) - " +
          "CAST(sum_cs AS DECIMAL(38,0))) AS DOUBLE) / " +
          "(2.0 * CAST(n_g AS DOUBLE) * CAST(n AS DOUBLE))) AS BIGINT)")
          .as("tv_e6"))
    val tRel = explode(array(tsPermille.map(t => lit(t)): _*)).as("t_permille")
    tv.select(col("n_g"), col("tv_e6"), tRel)
      .groupBy("t_permille")
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("tv_e6") > col("t_permille") * 1000L, 1L).otherwise(0L))
          .as("groups_above"),
        sum(when(col("tv_e6") > col("t_permille") * 1000L, col("n_g"))
          .otherwise(0L)).as("rows_above"),
        max(col("tv_e6")).as("max_tv_e6"))
      .select(col("t_permille").cast("int").as("t_permille"), col("n_groups"),
        col("groups_above"), col("rows_above"), col("max_tv_e6"))
  }

  /** DuckDB twin of [[tCloseness]]. */
  def tClosenessSql(table: String, qidExprs: Seq[String],
      sensitiveExpr: String, tsPermille: Seq[Int] = Seq(100, 200, 500))
      : String = {
    require(tsPermille.nonEmpty && tsPermille.forall(t => t > 0 && t < 1000),
      s"thresholds must be in (0, 1000) permille, got $tsPermille")
    val qs = qidExprs.zipWithIndex.map { case (e, i) => s"$e AS q$i" }
      .mkString(", ")
    val qn = qidExprs.indices.map(i => s"q$i").mkString(", ")
    val tVals = tsPermille.map(t => s"($t)").mkString(", ")
    s"""WITH cells AS (
       |  SELECT $qn, s, CAST(count(*) AS BIGINT) AS c_gs
       |  FROM (SELECT $qs, $sensitiveExpr AS s FROM $table)
       |  GROUP BY ${(1 to qidExprs.size + 1).mkString(", ")}),
       |g AS (SELECT $qn, CAST(sum(c_gs) AS BIGINT) AS n_g
       |  FROM cells GROUP BY ${(1 to qidExprs.size).mkString(", ")}),
       |gdist AS (SELECT s, CAST(sum(c_gs) AS BIGINT) AS c_s
       |  FROM cells GROUP BY 1),
       |tot AS (SELECT CAST(sum(c_gs) AS BIGINT) AS n FROM cells),
       |tv AS (
       |  SELECT ${qidExprs.indices.map(i => s"cells.q$i").mkString(", ")},
       |    max(g.n_g) AS n_g, max(tot.n) AS n,
       |    sum(abs(CAST(c_gs AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0))
       |      - CAST(c_s AS DECIMAL(38,0)) * CAST(n_g AS DECIMAL(38,0))))
       |      AS num_present,
       |    CAST(sum(c_s) AS BIGINT) AS sum_cs
       |  FROM cells JOIN gdist USING (s)
       |  JOIN g USING ($qn) CROSS JOIN tot
       |  GROUP BY ${(1 to qidExprs.size).mkString(", ")}),
       |scored AS (
       |  SELECT n_g,
       |    CAST(round(1000000.0 * CAST(num_present
       |      + CAST(n_g AS DECIMAL(38,0)) * (CAST(n AS DECIMAL(38,0))
       |        - CAST(sum_cs AS DECIMAL(38,0))) AS DOUBLE) /
       |      (2.0 * CAST(n_g AS DOUBLE) * CAST(n AS DOUBLE))) AS BIGINT)
       |      AS tv_e6
       |  FROM tv),
       |tt(t_permille) AS (VALUES $tVals)
       |SELECT CAST(t_permille AS INT) AS t_permille,
       |  CAST(count(*) AS BIGINT) AS n_groups,
       |  CAST(sum(CASE WHEN tv_e6 > t_permille * 1000 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS groups_above,
       |  CAST(sum(CASE WHEN tv_e6 > t_permille * 1000 THEN n_g ELSE 0 END)
       |    AS BIGINT) AS rows_above,
       |  CAST(max(tv_e6) AS BIGINT) AS max_tv_e6
       |FROM scored CROSS JOIN tt
       |GROUP BY 1""".stripMargin
  }

  // ---- 2-D Pareto skyline -------------------------------------------------
  /** 2-D skyline (Pareto front, maximize both): rows not STRICTLY
    * dominated by any other row (dominator ≥ in both coordinates, > in at
    * least one — so exact duplicates never dominate each other and all
    * survive together). The classic "best under two competing criteria"
    * selector (Börzsönyi et al., ICDE'01) Spark has no operator for —
    * here as the sort-sweep decomposition:
    *
    *  1. per distinct x keep only max-y rows (same-x, lower-y rows are
    *     dominated at their own x) — one grouped aggregate;
    *  2. a distinct-x candidate survives iff its y exceeds the running
    *     max y over all STRICTLY larger x — one lag-style window over
    *     the DISTINCT-X relation (bounded by x-cardinality, not corpus);
    *  3. join survivors back to emit every tied row.
    *
    * All comparisons exact (no float arithmetic is introduced), so any
    * engine agrees row-for-row; the oracle is the quadratic NOT-EXISTS
    * dominance query — a hash match certifies the sweep. Null
    * coordinates are excluded (dominance is undefined on them).
    *
    * 100 TB shape: corpus-sized work is one groupBy(x); the sweep window
    * runs over distinct x values. A quantized score axis (the
    * [[rocAuc]] trick) bounds that at the quantization cardinality. */
  def skyline2d(df: DataFrame, xCol: String, yCol: String,
      idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = df.select(col(idCol).as("id"), col(xCol).as("x"),
        col(yCol).as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
    val bestPerX = rows.groupBy("x").agg(max(col("y")).as("my"))
    val sweep = Window.orderBy(col("x").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val front = bestPerX
      .withColumn("pm", max(col("my")).over(sweep))
      .filter(col("pm").isNull || col("my") > col("pm"))
      .select(col("x").as("fx"), col("my"))
    rows.join(front, col("x") === col("fx") && col("y") === col("my"))
      .select(col("id"), col("x"), col("y"))
  }

  /** DuckDB twin of [[skyline2d]] — deliberately the QUADRATIC
    * NOT-EXISTS dominance definition, so a hash match certifies the
    * sort-sweep decomposition lost and invented nothing. */
  def skyline2dSql(rowsCte: String): String =
    s"""WITH r AS (SELECT * FROM ($rowsCte)
       |  WHERE x IS NOT NULL AND y IS NOT NULL)
       |SELECT id, x, y FROM r a
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM r b
       |  WHERE b.x >= a.x AND b.y >= a.y
       |    AND (b.x > a.x OR b.y > a.y))""".stripMargin

  /** DuckDB twin of [[kAnonymity]]: `qidExprs` must compute the identical
    * quasi-identifier tuple. */
  def kAnonymitySql(table: String, qidExprs: Seq[String],
      ks: Seq[Int] = Seq(2, 5, 10, 20)): String = {
    val qs = qidExprs.zipWithIndex.map { case (e, i) => s"$e AS q$i" }
      .mkString(", ")
    val kVals = ks.map(k => s"($k)").mkString(", ")
    s"""WITH g AS (
       |  SELECT ${qidExprs.indices.map(i => s"q$i").mkString(", ")},
       |    CAST(count(*) AS BIGINT) AS sz
       |  FROM (SELECT $qs FROM $table)
       |  GROUP BY ${qidExprs.indices.map(_ + 1).mkString(", ")}),
       |kk(k) AS (VALUES $kVals)
       |SELECT CAST(k AS INT) AS k,
       |  CAST(count(*) AS BIGINT) AS n_groups,
       |  CAST(sum(sz) AS BIGINT) AS n_rows,
       |  CAST(sum(CASE WHEN sz < k THEN 1 ELSE 0 END) AS BIGINT) AS groups_below,
       |  CAST(sum(CASE WHEN sz < k THEN sz ELSE 0 END) AS BIGINT) AS rows_below,
       |  CAST(min(sz) AS BIGINT) AS min_group
       |FROM g CROSS JOIN kk
       |GROUP BY k""".stripMargin
  }

  // ---- Welch two-sample t-test (A/B experiment readout) -------------------
  /** Welch two-sample t-test on a per-unit metric under deterministic
    * hash-bucket variant assignment — the standard online-experiment
    * readout ("did treatment move the metric, and by how much"), computed
    * without ever materializing the unit population on the driver.
    *
    * `rows` must provide (unit BIGINT, m BIGINT): one row per event with
    * the unit key (user) and an INTEGER metric contribution (e.g. cents,
    * micro-units — the caller quantizes, so per-unit sums are exact on
    * any engine regardless of summation order). Units are assigned
    * treatment iff their [[PipelineOps.idBucket]] thousandth-bucket is
    * below `treatMilli` — stable across runs, engines, and population
    * growth, and independent of the split/resample hash multipliers used
    * elsewhere so the same unit can be in an experiment AND a dataset
    * split without correlation.
    *
    * Exactness contract: per-unit sums and the per-variant (n, Σm, Σm²)
    * all ride integers (Σm² through DECIMAL(38,0) — exact for |m| up to
    * ~10^9 per unit and ~10^18 units); the t statistic is assembled from
    * those six numbers in ONE fixed floating-point expression order that
    * the SQL twin replicates verbatim, then rounded at 6dp. Degenerate
    * inputs (a variant with < 2 units, or zero pooled variance) yield
    * NULL t/df via the same CASE in both engines rather than an
    * engine-specific inf/NaN.
    *
    * Returns ONE row: (n_treat, n_control, mean_treat, mean_control,
    * lift, t_stat, df) — Welch–Satterthwaite degrees of freedom, means in
    * the caller's metric units.
    *
    * 100 TB shape: one unit-keyed map-side-combined groupBy (the only
    * corpus-sized pass — same shuffle class as sessionization), then a
    * 2-row variant aggregate and one-row math. Nothing driver-side, no
    * window, no join. */
  def welchTTest(rows: DataFrame, treatMilli: Int = 500): DataFrame = {
    require(0 < treatMilli && treatMilli < 1000,
      s"treatMilli must be in (0, 1000), got $treatMilli")
    val perUnit = rows
      .groupBy(col("unit"))
      .agg(sum(col("m")).as("mu"))
      .select(
        (PipelineOps.idBucket(col("unit"), WelchMult) < treatMilli)
          .as("treat"),
        col("mu"))
    val variant = perUnit.groupBy(col("treat"))
      .agg(count(lit(1)).as("n"),
        sum(col("mu").cast("decimal(38,0)")).as("s1"),
        sum(col("mu").cast("decimal(19,0)") * col("mu").cast("decimal(19,0)"))
          .as("s2"))
    // one-row pivot: 2-row input, broadcast-free conditional aggregate
    val flat = variant.agg(
      sum(when(col("treat"), col("n")).otherwise(0L)).cast("long").as("nt"),
      sum(when(!col("treat"), col("n")).otherwise(0L)).cast("long").as("nc"),
      sum(when(col("treat"), col("s1")).otherwise(lit(0))).cast("double").as("s1t"),
      sum(when(!col("treat"), col("s1")).otherwise(lit(0))).cast("double").as("s1c"),
      sum(when(col("treat"), col("s2")).otherwise(lit(0))).cast("double").as("s2t"),
      sum(when(!col("treat"), col("s2")).otherwise(lit(0))).cast("double").as("s2c"))
    def dbl(c: Column) = c.cast("double")
    val mt = col("s1t") / dbl(col("nt"))
    val mc = col("s1c") / dbl(col("nc"))
    val vt = (col("s2t") - col("s1t") * col("s1t") / dbl(col("nt"))) /
      (dbl(col("nt")) - 1.0)
    val vc = (col("s2c") - col("s1c") * col("s1c") / dbl(col("nc"))) /
      (dbl(col("nc")) - 1.0)
    val vnt = vt / dbl(col("nt"))
    val vnc = vc / dbl(col("nc"))
    val se2 = vnt + vnc
    val degenerate = col("nt") < 2L || col("nc") < 2L
    flat.select(
      col("nt").as("n_treat"), col("nc").as("n_control"),
      when(col("nt") === 0L, lit(null).cast("double"))
        .otherwise(round(mt, 6)).as("mean_treat"),
      when(col("nc") === 0L, lit(null).cast("double"))
        .otherwise(round(mc, 6)).as("mean_control"),
      when(col("nt") === 0L || col("nc") === 0L, lit(null).cast("double"))
        .otherwise(round(mt - mc, 6)).as("lift"),
      when(degenerate || se2 <= 0.0, lit(null).cast("double"))
        .otherwise(round((mt - mc) / sqrt(se2), 6)).as("t_stat"),
      when(degenerate || se2 <= 0.0, lit(null).cast("double"))
        .otherwise(round(se2 * se2 /
          (vnt * vnt / (dbl(col("nt")) - 1.0) +
            vnc * vnc / (dbl(col("nc")) - 1.0)), 6)).as("df"))
  }

  /** Hash multiplier reserved for experiment assignment — distinct from
    * the split (3266489917) and resample (2246822519) multipliers so
    * variant membership is uncorrelated with either. 2654435761 =
    * floor(2^32/φ), Knuth's multiplicative constant. */
  private[ops] val WelchMult = 2654435761L

  // ---- Poisson bootstrap confidence interval -------------------------------
  /** One-pass percentile-bootstrap CI for a per-unit mean — the Poisson
    * bootstrap (each unit enters replica b with a Poisson(1) multiplicity
    * instead of being resampled-with-replacement, so ALL replicas compute
    * in one pass with no unit-population materialization — the only
    * bootstrap that works when the units don't fit anywhere).
    *
    * Determinism: the Poisson(1) draw is a QUANTIZED inverse CDF on a
    * per-mille hash of (unit, replica) — thresholds 368/736/920/981/996/
    * 999 out of 1000, whose expected multiplicity is EXACTLY 1
    * (1·368 + 2·184 + 3·61 + 4·15 + 5·3 + 6·1 = 1000), so replica means
    * are unbiased and bit-identical on any engine. Replica means are
    * ratio-of-sums (Σw·m through DECIMAL(38,0) / Σw), one double
    * division each; the CI picks exact type-1 order statistics among the
    * B replica means (k = ⌈q·B⌉ by integer arithmetic) and rounds at 6dp.
    *
    * Returns ONE row: (n_units, reps, mean, ci_lo, ci_hi) — mean is the
    * full-sample mean, [ci_lo, ci_hi] the (1 − alphaMilli/1000)
    * percentile interval.
    *
    * 100 TB shape: the unit-keyed groupBy is the only corpus-sized pass;
    * the replica explode multiplies the PER-UNIT relation by B but
    * map-side combines into a B-row relation before the shuffle (B rows
    * per task, not B·units); the order-statistic window runs on B rows.
    * The hash mix `(h(unit) + b·611953) mod p mod 1000` is the same
    * engine-portable pseudo-randomness contract as
    * [[PipelineOps.idBucket]]. */
  def poissonBootstrapCi(rows: DataFrame, reps: Int = 200,
      alphaMilli: Int = 100): DataFrame = {
    require(reps >= 10, s"reps must be >= 10, got $reps")
    require(0 < alphaMilli && alphaMilli < 1000,
      s"alphaMilli must be in (0, 1000), got $alphaMilli")
    def dec(c: Column) = c.cast(DecimalType(38, 0))
    val perUnit = rows.groupBy(col("unit")).agg(sum(col("m")).as("mu"))
    val weighted = perUnit
      .select(col("unit"), col("mu"),
        explode(expr(s"sequence(0, ${reps - 1})")).as("b"))
      .withColumn("u1000", expr(
        s"((pmod(unit, 1000000007L) * $BootstrapMult % 1000000007L" +
          " + b * 611953L) % 1000000007L) % 1000L"))
      .withColumn("w",
        when(col("u1000") < 368, 0L).when(col("u1000") < 736, 1L)
          .when(col("u1000") < 920, 2L).when(col("u1000") < 981, 3L)
          .when(col("u1000") < 996, 4L).when(col("u1000") < 999, 5L)
          .otherwise(6L))
    val repMeans = weighted.groupBy("b")
      .agg((sum(dec(col("w")) * dec(col("mu"))).cast("double") /
        sum(col("w")).cast("double")).as("rm"))
    val rw = Window.orderBy(col("rm").asc)
    val kLo = math.max(1, (alphaMilli * reps + 1999) / 2000)
    val kHi = math.max(1, ((2000 - alphaMilli) * reps + 1999) / 2000)
    val ci = repMeans.withColumn("rn", row_number().over(rw))
      .agg(min(when(col("rn") === kLo, col("rm"))).as("lo"),
        min(when(col("rn") === kHi, col("rm"))).as("hi"))
    val base = perUnit.agg(count(lit(1)).as("n_units"),
      sum(col("mu")).as("sm"))
    base.crossJoin(ci)
      .select(col("n_units"), lit(reps).as("reps"),
        round(col("sm").cast("double") / col("n_units").cast("double"), 6)
          .as("mean"),
        round(col("lo"), 6).as("ci_lo"), round(col("hi"), 6).as("ci_hi"))
  }

  /** Hash multiplier reserved for bootstrap replica draws — distinct
    * from split/resample/experiment/conformal multipliers. 1104729673 is
    * an arbitrary public odd constant (second SHA-224 IV word). */
  private val BootstrapMult = 1104729673L

  /** DuckDB twin of [[poissonBootstrapCi]]: `rowsCte` must yield
    * (unit, m) by the identical expressions. */
  def poissonBootstrapCiSql(rowsCte: String, reps: Int = 200,
      alphaMilli: Int = 100): String = {
    require(reps >= 10, s"reps must be >= 10, got $reps")
    require(0 < alphaMilli && alphaMilli < 1000,
      s"alphaMilli must be in (0, 1000), got $alphaMilli")
    val kLo = math.max(1, (alphaMilli * reps + 1999) / 2000)
    val kHi = math.max(1, ((2000 - alphaMilli) * reps + 1999) / 2000)
    s"""WITH rows_ AS ($rowsCte),
       |pu AS (SELECT unit, CAST(sum(m) AS BIGINT) AS mu
       |  FROM rows_ GROUP BY 1),
       |wt AS (
       |  SELECT b, mu,
       |    CASE WHEN u1000 < 368 THEN 0 WHEN u1000 < 736 THEN 1
       |         WHEN u1000 < 920 THEN 2 WHEN u1000 < 981 THEN 3
       |         WHEN u1000 < 996 THEN 4 WHEN u1000 < 999 THEN 5
       |         ELSE 6 END AS w
       |  FROM (
       |    SELECT mu, b,
       |      ((((unit % 1000000007 + 1000000007) % 1000000007)
       |        * $BootstrapMult % 1000000007
       |        + b * 611953) % 1000000007) % 1000 AS u1000
       |    FROM pu CROSS JOIN (
       |      SELECT unnest(range(0, $reps)) AS b) bb)),
       |rm AS (
       |  SELECT b,
       |    CAST(sum(CAST(w AS DECIMAL(38,0)) * CAST(mu AS DECIMAL(38,0)))
       |      AS DOUBLE) / CAST(sum(w) AS DOUBLE) AS rm
       |  FROM wt GROUP BY 1),
       |ci AS (
       |  SELECT min(CASE WHEN rn = $kLo THEN rm END) AS lo,
       |    min(CASE WHEN rn = $kHi THEN rm END) AS hi
       |  FROM (SELECT rm, row_number() OVER (ORDER BY rm ASC) AS rn
       |        FROM rm)),
       |base AS (SELECT CAST(count(*) AS BIGINT) AS n_units,
       |  CAST(sum(mu) AS BIGINT) AS sm FROM pu)
       |SELECT base.n_units, $reps AS reps,
       |  round(CAST(base.sm AS DOUBLE) / CAST(base.n_units AS DOUBLE), 6)
       |    AS mean,
       |  round(ci.lo, 6) AS ci_lo, round(ci.hi, 6) AS ci_hi
       |FROM base CROSS JOIN ci""".stripMargin
  }

  // ---- winsorized robust arm means ----------------------------------------
  /** Winsorized per-arm means — the robust A/B point estimate: clamp
    * each arm's per-unit metric at its own [pLow, pHigh] order
    * statistics before averaging, so one whale user cannot buy the
    * experiment (the standard practice for revenue-shaped metrics whose
    * raw mean the [[welchTTest]] reads). Assignment is the identical
    * bucket rule / reserved multiplier as [[welchTTest]], so this is a
    * second readout of the SAME arms.
    *
    * Order statistics are EXACT type-1 quantiles: k = ⌈p·n⌉ computed as
    * (pMilli·n + 999) div 1000 (clamped to ≥ 1), and the k-th smallest
    * per-unit metric is selected by a cumulative-count window over the
    * arm's DISTINCT-METRIC relation. The winsorized sum decomposes to
    * lo·n_below + Σ_{lo≤v≤hi} v·cnt + hi·n_above — every term an exact
    * DECIMAL(38,0) product — and the single per-arm division rounds at
    * 6dp. Returns one row per arm: (arm, n, lo, hi, wmean).
    *
    * 100 TB shape: the unit-keyed groupBy is the only corpus-sized pass
    * (shared shuffle class with [[welchTTest]]); the quantile windows
    * run on the per-arm distinct-metric relation, bounded by the
    * caller's integer quantization (the rocAuc pattern), and the 2-row
    * lo/hi relation joins back by arm. */
  def winsorizedMeans(rows: DataFrame, pLowMilli: Int = 10,
      pHighMilli: Int = 990, treatMilli: Int = 500): DataFrame = {
    require(0 < treatMilli && treatMilli < 1000,
      s"treatMilli must be in (0, 1000), got $treatMilli")
    require(0 < pLowMilli && pLowMilli < pHighMilli && pHighMilli < 1000,
      s"need 0 < pLowMilli < pHighMilli < 1000, got ($pLowMilli, $pHighMilli)")
    def dec(c: Column) = c.cast(DecimalType(38, 0))
    val perUnit = rows.groupBy(col("unit"))
      .agg(sum(col("m")).as("mu"))
      .select(
        (PipelineOps.idBucket(col("unit"), WelchMult) < treatMilli)
          .as("treat"),
        col("mu"))
    val vals = perUnit.groupBy("treat", "mu").agg(count(lit(1)).as("cnt"))
    val cw = Window.partitionBy("treat").orderBy(col("mu").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = vals.withColumn("cum", sum(col("cnt")).over(cw))
    val armN = vals.groupBy("treat").agg(sum(col("cnt")).as("n"))
    val ks = armN
      .withColumn("k_lo",
        greatest(lit(1L), expr(s"($pLowMilli * n + 999) div 1000")))
      .withColumn("k_hi",
        greatest(lit(1L), expr(s"($pHighMilli * n + 999) div 1000")))
    val bounds = cum.join(ks, Seq("treat"))
      .groupBy("treat")
      .agg(max(col("n")).as("n"),
        min(when(col("cum") >= col("k_lo"), col("mu"))).as("lo"),
        min(when(col("cum") >= col("k_hi"), col("mu"))).as("hi"))
    vals.join(bounds, Seq("treat"))
      .groupBy("treat")
      .agg(max(col("n")).as("n"), max(col("lo")).as("lo"),
        max(col("hi")).as("hi"),
        sum(when(col("mu") < col("lo"), dec(col("lo")) * dec(col("cnt")))
          .when(col("mu") > col("hi"), dec(col("hi")) * dec(col("cnt")))
          .otherwise(dec(col("mu")) * dec(col("cnt")))).as("wsum"))
      .select(
        when(col("treat"), lit("treat")).otherwise(lit("control")).as("arm"),
        col("n"), col("lo"), col("hi"),
        round(col("wsum").cast("double") / col("n").cast("double"), 6)
          .as("wmean"))
  }

  /** Difference-in-differences readout (panel form): the causal
    * estimate when treatment rolls out at a known time and both arms
    * have a pre-period — DiD = (ȳ_post,t − ȳ_pre,t) − (ȳ_post,c −
    * ȳ_pre,c), which cancels any level difference between arms that
    * predates the rollout. With per-unit panels this reduces EXACTLY to
    * the [[welchTTest]] on the per-unit post-minus-pre delta
    * (m′_u = Σ_post m − Σ_pre m), so the statistic inherits the Welch
    * machinery's integer-exact sums, fixed-order t/df assembly, and the
    * identical reserved-multiplier arm assignment.
    *
    * `rows` must provide (unit BIGINT, m BIGINT, post BOOLEAN): the
    * caller decides the rollout boundary. Returns the [[welchTTest]]
    * row where mean_treat/mean_control are the ARMS' MEAN DELTAS and
    * `lift` is the DiD estimate.
    *
    * 100 TB shape: identical to [[welchTTest]] — the sign flip happens
    * in the scan projection, adding nothing to the shuffle. */
  def didTTest(rows: DataFrame, treatMilli: Int = 500): DataFrame =
    welchTTest(
      rows.select(col("unit"),
        when(col("post"), col("m")).otherwise(-col("m")).as("m")),
      treatMilli)

  /** DuckDB twin of [[didTTest]]: `rowsCte` must yield (unit, m, post)
    * by the identical expressions. */
  def didTTestSql(rowsCte: String, treatMilli: Int = 500): String =
    welchTTestSql(
      s"""SELECT unit, CASE WHEN post THEN m ELSE -m END AS m
         |FROM ($rowsCte)""".stripMargin,
      treatMilli)

  /** Quantile treatment effects — the distributional A/B readout: the
    * mean ([[welchTTest]]) can hide a lift concentrated in one tail, so
    * this reports, per requested quantile p, each arm's EXACT type-1
    * per-unit-metric quantile (k = ⌈p·n⌉, the [[winsorizedMeans]]
    * order-statistic machinery) and their difference. Assignment is the
    * identical reserved-multiplier bucket rule, so this reads the SAME
    * arms as the mean/CUPED/winsorized readouts.
    *
    * All-integer output (quantiles are metric values): nothing to
    * round, bit-stable on any engine. Returns one row per p:
    * (p_milli, q_treat, q_control, qte).
    *
    * 100 TB shape: identical to [[winsorizedMeans]] — the unit-keyed
    * groupBy is the shared corpus pass; one cumulative window per arm
    * over the quantization-bounded distinct-metric relation serves ALL
    * requested quantiles at once. */
  def quantileTreatmentEffects(rows: DataFrame,
      psMilli: Seq[Int] = Seq(100, 250, 500, 750, 900),
      treatMilli: Int = 500): DataFrame = {
    require(0 < treatMilli && treatMilli < 1000,
      s"treatMilli must be in (0, 1000), got $treatMilli")
    require(psMilli.nonEmpty && psMilli.forall(p => p > 0 && p < 1000),
      s"quantiles must be in (0, 1000) permille, got $psMilli")
    val perUnit = rows.groupBy(col("unit"))
      .agg(sum(col("m")).as("mu"))
      .select(
        (PipelineOps.idBucket(col("unit"), WelchMult) < treatMilli)
          .as("treat"),
        col("mu"))
    val vals = perUnit.groupBy("treat", "mu").agg(count(lit(1)).as("cnt"))
    val cw = Window.partitionBy("treat").orderBy(col("mu").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = vals.withColumn("cum", sum(col("cnt")).over(cw))
    val armN = vals.groupBy("treat").agg(sum(col("cnt")).as("n"))
    val pRel = explode(array(psMilli.map(p => lit(p)): _*)).as("p_milli")
    val qs = cum.join(armN, Seq("treat"))
      .select(col("treat"), col("mu"), col("cum"), col("n"), pRel)
      .filter(col("cum") >= expr("greatest(1L, (p_milli * n + 999) div 1000)"))
      .groupBy("p_milli", "treat").agg(min(col("mu")).as("q"))
    qs.groupBy("p_milli")
      .agg(max(when(col("treat"), col("q"))).as("q_treat"),
        max(when(!col("treat"), col("q"))).as("q_control"))
      .select(col("p_milli").cast("int").as("p_milli"),
        col("q_treat"), col("q_control"),
        (col("q_treat") - col("q_control")).as("qte"))
  }

  /** DuckDB twin of [[quantileTreatmentEffects]]: `rowsCte` must yield
    * (unit, m) by the identical expressions. */
  def quantileTreatmentEffectsSql(rowsCte: String,
      psMilli: Seq[Int] = Seq(100, 250, 500, 750, 900),
      treatMilli: Int = 500): String = {
    require(0 < treatMilli && treatMilli < 1000,
      s"treatMilli must be in (0, 1000), got $treatMilli")
    require(psMilli.nonEmpty && psMilli.forall(p => p > 0 && p < 1000),
      s"quantiles must be in (0, 1000) permille, got $psMilli")
    val bucket = PipelineOps.idBucketSql("unit", WelchMult)
    val pVals = psMilli.map(p => s"($p)").mkString(", ")
    s"""WITH rows_ AS ($rowsCte),
       |pu AS (
       |  SELECT ($bucket) < $treatMilli AS treat,
       |    CAST(sum(m) AS BIGINT) AS mu
       |  FROM rows_ GROUP BY unit),
       |vals AS (SELECT treat, mu, CAST(count(*) AS BIGINT) AS cnt
       |  FROM pu GROUP BY 1, 2),
       |cum AS (
       |  SELECT treat, mu,
       |    sum(cnt) OVER (PARTITION BY treat ORDER BY mu ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM vals),
       |an AS (SELECT treat, CAST(sum(cnt) AS BIGINT) AS n
       |  FROM vals GROUP BY 1),
       |pp(p_milli) AS (VALUES $pVals),
       |qs AS (
       |  SELECT p_milli, treat, min(mu) AS q
       |  FROM cum JOIN an USING (treat) CROSS JOIN pp
       |  WHERE cum >= greatest(1, (p_milli * n + 999) // 1000)
       |  GROUP BY 1, 2)
       |SELECT CAST(p_milli AS INT) AS p_milli,
       |  max(CASE WHEN treat THEN q END) AS q_treat,
       |  max(CASE WHEN NOT treat THEN q END) AS q_control,
       |  max(CASE WHEN treat THEN q END)
       |    - max(CASE WHEN NOT treat THEN q END) AS qte
       |FROM qs GROUP BY 1""".stripMargin
  }

  /** DuckDB twin of [[winsorizedMeans]]: `rowsCte` must yield (unit, m)
    * by the identical expressions. */
  def winsorizedMeansSql(rowsCte: String, pLowMilli: Int = 10,
      pHighMilli: Int = 990, treatMilli: Int = 500): String = {
    require(0 < treatMilli && treatMilli < 1000,
      s"treatMilli must be in (0, 1000), got $treatMilli")
    require(0 < pLowMilli && pLowMilli < pHighMilli && pHighMilli < 1000,
      s"need 0 < pLowMilli < pHighMilli < 1000, got ($pLowMilli, $pHighMilli)")
    val bucket = PipelineOps.idBucketSql("unit", WelchMult)
    s"""WITH rows_ AS ($rowsCte),
       |pu AS (
       |  SELECT ($bucket) < $treatMilli AS treat,
       |    CAST(sum(m) AS BIGINT) AS mu
       |  FROM rows_ GROUP BY unit),
       |vals AS (
       |  SELECT treat, mu, CAST(count(*) AS BIGINT) AS cnt
       |  FROM pu GROUP BY 1, 2),
       |cum AS (
       |  SELECT treat, mu, cnt,
       |    sum(cnt) OVER (PARTITION BY treat ORDER BY mu ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM vals),
       |ks AS (
       |  SELECT treat, CAST(sum(cnt) AS BIGINT) AS n,
       |    greatest(1, ($pLowMilli * sum(cnt) + 999) // 1000) AS k_lo,
       |    greatest(1, ($pHighMilli * sum(cnt) + 999) // 1000) AS k_hi
       |  FROM vals GROUP BY 1),
       |bounds AS (
       |  SELECT cum.treat, max(ks.n) AS n,
       |    min(CASE WHEN cum.cum >= ks.k_lo THEN cum.mu END) AS lo,
       |    min(CASE WHEN cum.cum >= ks.k_hi THEN cum.mu END) AS hi
       |  FROM cum JOIN ks USING (treat) GROUP BY 1)
       |SELECT CASE WHEN v.treat THEN 'treat' ELSE 'control' END AS arm,
       |  max(b.n) AS n, max(b.lo) AS lo, max(b.hi) AS hi,
       |  round(CAST(sum(
       |    CASE WHEN v.mu < b.lo
       |           THEN CAST(b.lo AS DECIMAL(38,0)) * CAST(v.cnt AS DECIMAL(38,0))
       |         WHEN v.mu > b.hi
       |           THEN CAST(b.hi AS DECIMAL(38,0)) * CAST(v.cnt AS DECIMAL(38,0))
       |         ELSE CAST(v.mu AS DECIMAL(38,0)) * CAST(v.cnt AS DECIMAL(38,0))
       |    END) AS DOUBLE) / CAST(max(b.n) AS DOUBLE), 6) AS wmean
       |FROM vals v JOIN bounds b USING (treat)
       |GROUP BY 1""".stripMargin
  }

  // ---- CUPED variance-reduced A/B readout ---------------------------------
  /** CUPED-adjusted Welch t-test (Deng et al., WSDM'13): the
    * [[welchTTest]] readout after regressing out a pre-experiment
    * covariate — the standard variance-reduction move that lets the same
    * traffic detect a smaller lift. `rows` must provide
    * (unit BIGINT, m BIGINT, x BIGINT): the post-period metric
    * contribution and the PRE-period covariate contribution per event,
    * both caller-quantized to integers. Assignment is the identical
    * bucket rule as [[welchTTest]] (same reserved multiplier), so the two
    * readouts describe the same experiment arms.
    *
    * Adjusted metric y_u = m_u − θ(x_u − x̄) with θ = cov(m, x)/var(x)
    * over ALL units pooled (the covariate predates assignment, so pooling
    * is unbiased and both engines see one global θ). The arm statistics
    * of y decompose algebraically onto exact integer aggregates —
    * per arm (n, Σm, Σx, Σm², Σx², Σmx), all through DECIMAL(38,0) —
    * so no per-unit double is ever summed: Σy = Σm − θ(Σx − n·x̄) and
    * Σy² = Σm² − 2θ(Σmx − x̄Σm) + θ²(Σx² − 2x̄Σx + n·x̄²). The one-row
    * t/df assembly then matches [[welchTTest]] token-for-token.
    *
    * Zero covariate variance (nothing to regress out) yields θ = 0 via
    * the same CASE in both engines — the readout degrades to the plain
    * Welch test rather than dividing by zero. Degenerate arms → NULL
    * t/df as in [[welchTTest]].
    *
    * Returns ONE row: (n_treat, n_control, mean_treat, mean_control,
    * lift, t_stat, df, theta) — adjusted means; `lift` is invariant to
    * covariate shifts (Σ of the adjustment over both arms is 0 only in
    * expectation, so arm means move, but a constant added to every x
    * cancels exactly — spec-pinned).
    *
    * 100 TB shape: identical to [[welchTTest]] — one unit-keyed
    * map-side-combined groupBy, then a 2-row arm aggregate, a one-row
    * pooled aggregate, and one-row math joined by a literal-true cross
    * of two one-row relations. */
  def cupedTTest(rows: DataFrame, treatMilli: Int = 500): DataFrame = {
    require(0 < treatMilli && treatMilli < 1000,
      s"treatMilli must be in (0, 1000), got $treatMilli")
    val perUnit = rows
      .groupBy(col("unit"))
      .agg(sum(col("m")).as("mu"), sum(col("x")).as("xu"))
      .select(
        (PipelineOps.idBucket(col("unit"), WelchMult) < treatMilli)
          .as("treat"),
        col("mu"), col("xu"))
    def d19(c: Column) = c.cast("decimal(19,0)")
    val arm = perUnit.groupBy(col("treat"))
      .agg(count(lit(1)).as("n"),
        sum(col("mu").cast("decimal(38,0)")).as("s1m"),
        sum(col("xu").cast("decimal(38,0)")).as("s1x"),
        sum(d19(col("mu")) * d19(col("mu"))).as("s2m"),
        sum(d19(col("xu")) * d19(col("xu"))).as("s2x"),
        sum(d19(col("mu")) * d19(col("xu"))).as("s11"))
    val flat = arm.agg(
      sum(when(col("treat"), col("n")).otherwise(0L)).cast("long").as("nt"),
      sum(when(!col("treat"), col("n")).otherwise(0L)).cast("long").as("nc"),
      sum(when(col("treat"), col("s1m")).otherwise(lit(0))).cast("double").as("s1mt"),
      sum(when(!col("treat"), col("s1m")).otherwise(lit(0))).cast("double").as("s1mc"),
      sum(when(col("treat"), col("s1x")).otherwise(lit(0))).cast("double").as("s1xt"),
      sum(when(!col("treat"), col("s1x")).otherwise(lit(0))).cast("double").as("s1xc"),
      sum(when(col("treat"), col("s2m")).otherwise(lit(0))).cast("double").as("s2mt"),
      sum(when(!col("treat"), col("s2m")).otherwise(lit(0))).cast("double").as("s2mc"),
      sum(when(col("treat"), col("s2x")).otherwise(lit(0))).cast("double").as("s2xt"),
      sum(when(!col("treat"), col("s2x")).otherwise(lit(0))).cast("double").as("s2xc"),
      sum(when(col("treat"), col("s11")).otherwise(lit(0))).cast("double").as("s11t"),
      sum(when(!col("treat"), col("s11")).otherwise(lit(0))).cast("double").as("s11c"))
    def dbl(c: Column) = c.cast("double")
    val nN = dbl(col("nt")) + dbl(col("nc"))
    val sm = col("s1mt") + col("s1mc")
    val sx = col("s1xt") + col("s1xc")
    val sxx = col("s2xt") + col("s2xc")
    val smx = col("s11t") + col("s11c")
    val xbar = sx / nN
    val varxN = sxx - sx * sx / nN // N·var(x) (uncorrected) — sign only
    val theta = when(varxN <= 0.0, 0.0)
      .otherwise((smx - sm * sx / nN) / varxN)
    val withTheta = flat.select(col("*"), xbar.as("xbar"), theta.as("theta"))
    def armStats(n: Column, s1m: Column, s1x: Column, s2m: Column,
        s2x: Column, s11: Column): (Column, Column) = {
      val th = col("theta"); val xb = col("xbar")
      val sy = s1m - th * (s1x - dbl(n) * xb)
      val syy = s2m - lit(2.0) * th * (s11 - xb * s1m) +
        th * th * (s2x - lit(2.0) * xb * s1x + dbl(n) * xb * xb)
      val mean = sy / dbl(n)
      val vr = (syy - sy * sy / dbl(n)) / (dbl(n) - 1.0)
      (mean, vr)
    }
    val (mt, vt) = armStats(col("nt"), col("s1mt"), col("s1xt"),
      col("s2mt"), col("s2xt"), col("s11t"))
    val (mc, vc) = armStats(col("nc"), col("s1mc"), col("s1xc"),
      col("s2mc"), col("s2xc"), col("s11c"))
    val vnt = vt / dbl(col("nt"))
    val vnc = vc / dbl(col("nc"))
    val se2 = vnt + vnc
    val degenerate = col("nt") < 2L || col("nc") < 2L
    withTheta.select(
      col("nt").as("n_treat"), col("nc").as("n_control"),
      when(col("nt") === 0L, lit(null).cast("double"))
        .otherwise(round(mt, 6)).as("mean_treat"),
      when(col("nc") === 0L, lit(null).cast("double"))
        .otherwise(round(mc, 6)).as("mean_control"),
      when(col("nt") === 0L || col("nc") === 0L, lit(null).cast("double"))
        .otherwise(round(mt - mc, 6)).as("lift"),
      when(degenerate || se2 <= 0.0, lit(null).cast("double"))
        .otherwise(round((mt - mc) / sqrt(se2), 6)).as("t_stat"),
      when(degenerate || se2 <= 0.0, lit(null).cast("double"))
        .otherwise(round(se2 * se2 /
          (vnt * vnt / (dbl(col("nt")) - 1.0) +
            vnc * vnc / (dbl(col("nc")) - 1.0)), 6)).as("df"),
      round(col("theta"), 6).as("theta"))
  }

  // ---- split conformal calibration ---------------------------------------
  /** Split conformal calibration (Vovk et al.; Papadopoulos et al. 2002)
    * of a score threshold with a distribution-free coverage guarantee —
    * "pick the cutoff such that a fresh exchangeable example lands at or
    * below it with probability ≥ 1−α", the modern way to turn ANY
    * quality scorer into a filter with a stated guarantee instead of an
    * eyeballed threshold.
    *
    * `scored` must provide (unit BIGINT, score DOUBLE) with the score
    * already 6dp-rounded (every scorer in this repo emits that), so the
    * micro-unit quantization s = round(score·10⁶) is lossless and the
    * order statistic is exact integer arithmetic. Units hash-split into
    * calibration (bucket < `calibMilli`) and test via a reserved
    * multiplier (distinct from split/resample/experiment hashes).
    * q̂ = the k-th smallest calibration score with
    * k = ⌈(n_cal+1)(1−α)⌉ (exact: ((n_cal+1)·(1000−alphaMilli)+999)
    * div 1000); the empirical coverage P(s ≤ q̂) is then measured on the
    * held-out test split. k > n_cal (too few calibration points for the
    * requested α) yields NULL q̂ and coverage 1.0 — the q̂ = +∞
    * convention — via the same CASE both engines.
    *
    * Returns ONE row: (n_calib, n_test, k, qhat, coverage).
    *
    * 100 TB shape: one unit-level pass splits and quantizes on the scan;
    * the order statistic runs on the DISTINCT-SCORE relation (≤ 2·10⁶+1
    * rows by 6dp quantization — the [[rocAuc]] bounded-window pattern);
    * n_cal, k and q̂ ride one-row broadcasts into the test-side count. */
  def conformalThreshold(scored: DataFrame, alphaMilli: Int = 100,
      calibMilli: Int = 500): DataFrame = {
    require(0 < alphaMilli && alphaMilli < 1000,
      s"alphaMilli must be in (0, 1000), got $alphaMilli")
    require(0 < calibMilli && calibMilli < 1000,
      s"calibMilli must be in (0, 1000), got $calibMilli")
    val rows = scored.select(
      (PipelineOps.idBucket(col("unit"), ConformalMult) < calibMilli)
        .as("calib"),
      (round(col("score") * 1e6, 0)).cast("long").as("s"))
    val calG = rows.filter(col("calib")).groupBy("s")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy("s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nCal = calG.agg(sum(col("cnt")).as("n_calib"))
    val ranked = calG.select(col("s"), sum(col("cnt")).over(w).as("cum"))
      .crossJoin(nCal)
      .withColumn("k",
        expr(s"((n_calib + 1) * ${1000 - alphaMilli}L + 999) div 1000L"))
    val qhat = ranked.filter(col("cum") >= col("k"))
      .agg(min(col("s")).as("qhat_micro"))
    val meta = ranked.agg(max(col("n_calib")).as("n_calib"),
      max(col("k")).as("k"))
    val test = rows.filter(!col("calib"))
      .crossJoin(qhat)
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("qhat_micro").isNull || col("s") <= col("qhat_micro"),
          1L).otherwise(0L)).as("n_covered"),
        max(col("qhat_micro")).as("qhat_micro"))
    test.crossJoin(meta)
      .select(col("n_calib"), col("n_test"), col("k"),
        when(col("qhat_micro").isNull, lit(null).cast("double"))
          .otherwise(round(col("qhat_micro").cast("double") / 1e6, 6))
          .as("qhat"),
        when(col("n_test") === 0L, lit(null).cast("double"))
          .otherwise(round(col("n_covered").cast("double") /
            col("n_test").cast("double"), 6)).as("coverage"))
  }

  /** Hash multiplier reserved for conformal calibration splits —
    * distinct from the dataset-split (3266489917), resample (2246822519)
    * and experiment (2654435761) multipliers. 1779033703 = the first
    * SHA-256 IV word, an arbitrary public odd constant. */
  private val ConformalMult = 1779033703L

  /** DuckDB twin of [[conformalThreshold]]: `scoredCte` must yield
    * (unit, score) by the identical expressions. */
  def conformalThresholdSql(scoredCte: String, alphaMilli: Int = 100,
      calibMilli: Int = 500): String = {
    require(0 < alphaMilli && alphaMilli < 1000,
      s"alphaMilli must be in (0, 1000), got $alphaMilli")
    require(0 < calibMilli && calibMilli < 1000,
      s"calibMilli must be in (0, 1000), got $calibMilli")
    val bucket = PipelineOps.idBucketSql("unit", ConformalMult)
    s"""WITH scored AS ($scoredCte),
       |rows_ AS (
       |  SELECT ($bucket) < $calibMilli AS calib,
       |    CAST(round(score * 1e6) AS BIGINT) AS s
       |  FROM scored),
       |calg AS (
       |  SELECT s, CAST(count(*) AS BIGINT) AS cnt
       |  FROM rows_ WHERE calib GROUP BY 1),
       |ncal AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_calib FROM calg),
       |ranked AS (
       |  SELECT s, sum(cnt) OVER (ORDER BY s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    n_calib,
       |    ((n_calib + 1) * ${1000 - alphaMilli} + 999) // 1000 AS k
       |  FROM calg CROSS JOIN ncal),
       |qh AS (SELECT min(s) AS qhat_micro FROM ranked WHERE cum >= k),
       |meta AS (SELECT max(n_calib) AS n_calib, max(k) AS k FROM ranked),
       |test AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_test,
       |    CAST(sum(CASE WHEN qhat_micro IS NULL OR s <= qhat_micro
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
       |    max(qhat_micro) AS qhat_micro
       |  FROM rows_ CROSS JOIN qh WHERE NOT calib)
       |SELECT CAST(n_calib AS BIGINT) AS n_calib, n_test,
       |  CAST(k AS BIGINT) AS k,
       |  CASE WHEN qhat_micro IS NULL THEN NULL
       |    ELSE round(CAST(qhat_micro AS DOUBLE) / 1e6, 6) END AS qhat,
       |  CASE WHEN n_test = 0 THEN NULL
       |    ELSE round(CAST(n_covered AS DOUBLE) / CAST(n_test AS DOUBLE), 6)
       |  END AS coverage
       |FROM test CROSS JOIN meta""".stripMargin
  }

  // ---- sample-ratio-mismatch guard ---------------------------------------
  /** Sample-ratio-mismatch check: a one-degree-of-freedom chi-square of
    * the REALIZED arm sizes against the configured assignment ratio —
    * the standard validity gate run before any experiment readout is
    * believed (an SRM means units are leaking between arms or being
    * dropped asymmetrically, which silently biases every downstream
    * statistic). Uses the identical bucket rule as [[welchTTest]] /
    * [[cupedTTest]], so it certifies exactly the split those readouts
    * consumed.
    *
    * χ² = (n_t − Np)²/(Np) + (n_c − Nq)²/(Nq) with p = treatMilli/1000;
    * unit counts are exact integers, the statistic is four double ops in
    * fixed order, rounded 6dp. `srm_flag` fires at 3.841 — the 5%
    * critical value of χ²₁ (Pearson) — computed by the same comparison
    * in both engines (no p-value: Spark exposes no erfc and a flag is
    * what a pipeline gates on).
    *
    * Returns ONE row: (n_treat, n_control, expected_milli, chi2,
    * srm_flag).
    *
    * 100 TB shape: the [[welchTTest]] unit-keyed pass minus the metric —
    * one map-side-combined distinct-unit aggregate, then one-row math. */
  def srmCheck(rows: DataFrame, treatMilli: Int = 500): DataFrame = {
    require(0 < treatMilli && treatMilli < 1000,
      s"treatMilli must be in (0, 1000), got $treatMilli")
    val perUnit = rows.groupBy(col("unit")).agg(count(lit(1)).as("__e"))
      .select((PipelineOps.idBucket(col("unit"), WelchMult) < treatMilli)
        .as("treat"))
    val flat = perUnit.agg(
      sum(when(col("treat"), 1L).otherwise(0L)).cast("long").as("nt"),
      sum(when(!col("treat"), 1L).otherwise(0L)).cast("long").as("nc"))
    def dbl(c: Column) = c.cast("double")
    val nN = dbl(col("nt")) + dbl(col("nc"))
    val p = lit(treatMilli / 1000.0)
    val q = lit((1000 - treatMilli) / 1000.0)
    val et = nN * p
    val ec = nN * q
    val chi2 = (dbl(col("nt")) - et) * (dbl(col("nt")) - et) / et +
      (dbl(col("nc")) - ec) * (dbl(col("nc")) - ec) / ec
    flat.select(col("nt").as("n_treat"), col("nc").as("n_control"),
      lit(treatMilli).cast("int").as("expected_milli"),
      when(nN === 0.0, lit(null).cast("double"))
        .otherwise(round(chi2, 6)).as("chi2"),
      when(nN === 0.0, lit(null).cast("boolean"))
        .otherwise(chi2 > 3.841).as("srm_flag"))
  }

  /** DuckDB twin of [[srmCheck]]: `rowsCte` must yield (unit) by the
    * identical expression. */
  def srmCheckSql(rowsCte: String, treatMilli: Int = 500): String = {
    require(0 < treatMilli && treatMilli < 1000,
      s"treatMilli must be in (0, 1000), got $treatMilli")
    val bucket = PipelineOps.idBucketSql("unit", WelchMult)
    val p = treatMilli / 1000.0
    val q = (1000 - treatMilli) / 1000.0
    s"""WITH rows_ AS ($rowsCte),
       |pu AS (
       |  SELECT ($bucket) < $treatMilli AS treat
       |  FROM rows_ GROUP BY unit),
       |flat AS (
       |  SELECT
       |    CAST(sum(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT) AS nt,
       |    CAST(sum(CASE WHEN NOT treat THEN 1 ELSE 0 END) AS BIGINT) AS nc
       |  FROM pu),
       |st AS (
       |  SELECT nt, nc,
       |    (CAST(nt AS DOUBLE) - (CAST(nt AS DOUBLE) + CAST(nc AS DOUBLE)) * $p)
       |      * (CAST(nt AS DOUBLE) - (CAST(nt AS DOUBLE) + CAST(nc AS DOUBLE)) * $p)
       |      / ((CAST(nt AS DOUBLE) + CAST(nc AS DOUBLE)) * $p)
       |    + (CAST(nc AS DOUBLE) - (CAST(nt AS DOUBLE) + CAST(nc AS DOUBLE)) * $q)
       |      * (CAST(nc AS DOUBLE) - (CAST(nt AS DOUBLE) + CAST(nc AS DOUBLE)) * $q)
       |      / ((CAST(nt AS DOUBLE) + CAST(nc AS DOUBLE)) * $q) AS chi2
       |  FROM flat)
       |SELECT nt AS n_treat, nc AS n_control,
       |  CAST($treatMilli AS INT) AS expected_milli,
       |  CASE WHEN nt + nc = 0 THEN NULL ELSE round(chi2, 6) END AS chi2,
       |  CASE WHEN nt + nc = 0 THEN NULL ELSE chi2 > 3.841 END AS srm_flag
       |FROM st""".stripMargin
  }

  /** DuckDB twin of [[cupedTTest]]: `rowsCte` must yield (unit, m, x) by
    * the identical expressions; θ, the Σy/Σy² decomposition, and the
    * Welch assembly replicate the Scala op's double order verbatim. */
  def cupedTTestSql(rowsCte: String, treatMilli: Int = 500): String = {
    require(0 < treatMilli && treatMilli < 1000,
      s"treatMilli must be in (0, 1000), got $treatMilli")
    val bucket = PipelineOps.idBucketSql("unit", WelchMult)
    s"""WITH rows_ AS ($rowsCte),
       |pu AS (
       |  SELECT ($bucket) < $treatMilli AS treat,
       |    CAST(sum(m) AS BIGINT) AS mu, CAST(sum(x) AS BIGINT) AS xu
       |  FROM rows_ GROUP BY unit),
       |flat AS (
       |  SELECT
       |    CAST(sum(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT) AS nt,
       |    CAST(sum(CASE WHEN NOT treat THEN 1 ELSE 0 END) AS BIGINT) AS nc,
       |    CAST(sum(CASE WHEN treat THEN mu ELSE 0 END) AS DOUBLE) AS s1mt,
       |    CAST(sum(CASE WHEN NOT treat THEN mu ELSE 0 END) AS DOUBLE) AS s1mc,
       |    CAST(sum(CASE WHEN treat THEN xu ELSE 0 END) AS DOUBLE) AS s1xt,
       |    CAST(sum(CASE WHEN NOT treat THEN xu ELSE 0 END) AS DOUBLE) AS s1xc,
       |    CAST(sum(CASE WHEN treat THEN CAST(mu AS HUGEINT) * mu ELSE 0 END)
       |      AS DOUBLE) AS s2mt,
       |    CAST(sum(CASE WHEN NOT treat THEN CAST(mu AS HUGEINT) * mu ELSE 0 END)
       |      AS DOUBLE) AS s2mc,
       |    CAST(sum(CASE WHEN treat THEN CAST(xu AS HUGEINT) * xu ELSE 0 END)
       |      AS DOUBLE) AS s2xt,
       |    CAST(sum(CASE WHEN NOT treat THEN CAST(xu AS HUGEINT) * xu ELSE 0 END)
       |      AS DOUBLE) AS s2xc,
       |    CAST(sum(CASE WHEN treat THEN CAST(mu AS HUGEINT) * xu ELSE 0 END)
       |      AS DOUBLE) AS s11t,
       |    CAST(sum(CASE WHEN NOT treat THEN CAST(mu AS HUGEINT) * xu ELSE 0 END)
       |      AS DOUBLE) AS s11c
       |  FROM pu),
       |th AS (
       |  SELECT *,
       |    (s1xt + s1xc) / (CAST(nt AS DOUBLE) + CAST(nc AS DOUBLE)) AS xbar,
       |    CASE WHEN ((s2xt + s2xc) - (s1xt + s1xc) * (s1xt + s1xc)
       |        / (CAST(nt AS DOUBLE) + CAST(nc AS DOUBLE))) <= 0.0 THEN 0.0
       |      ELSE ((s11t + s11c) - (s1mt + s1mc) * (s1xt + s1xc)
       |          / (CAST(nt AS DOUBLE) + CAST(nc AS DOUBLE)))
       |        / ((s2xt + s2xc) - (s1xt + s1xc) * (s1xt + s1xc)
       |          / (CAST(nt AS DOUBLE) + CAST(nc AS DOUBLE)))
       |    END AS theta
       |  FROM flat),
       |ar AS (
       |  SELECT nt, nc, theta,
       |    (s1mt - theta * (s1xt - CAST(nt AS DOUBLE) * xbar))
       |      / CAST(nt AS DOUBLE) AS mt,
       |    (s1mc - theta * (s1xc - CAST(nc AS DOUBLE) * xbar))
       |      / CAST(nc AS DOUBLE) AS mc,
       |    ((s2mt - 2.0 * theta * (s11t - xbar * s1mt)
       |        + theta * theta * (s2xt - 2.0 * xbar * s1xt
       |          + CAST(nt AS DOUBLE) * xbar * xbar))
       |      - (s1mt - theta * (s1xt - CAST(nt AS DOUBLE) * xbar))
       |        * (s1mt - theta * (s1xt - CAST(nt AS DOUBLE) * xbar))
       |        / CAST(nt AS DOUBLE))
       |      / (CAST(nt AS DOUBLE) - 1.0) / CAST(nt AS DOUBLE) AS vnt,
       |    ((s2mc - 2.0 * theta * (s11c - xbar * s1mc)
       |        + theta * theta * (s2xc - 2.0 * xbar * s1xc
       |          + CAST(nc AS DOUBLE) * xbar * xbar))
       |      - (s1mc - theta * (s1xc - CAST(nc AS DOUBLE) * xbar))
       |        * (s1mc - theta * (s1xc - CAST(nc AS DOUBLE) * xbar))
       |        / CAST(nc AS DOUBLE))
       |      / (CAST(nc AS DOUBLE) - 1.0) / CAST(nc AS DOUBLE) AS vnc
       |  FROM th)
       |SELECT nt AS n_treat, nc AS n_control,
       |  CASE WHEN nt = 0 THEN NULL ELSE round(mt, 6) END AS mean_treat,
       |  CASE WHEN nc = 0 THEN NULL ELSE round(mc, 6) END AS mean_control,
       |  CASE WHEN nt = 0 OR nc = 0 THEN NULL
       |    ELSE round(mt - mc, 6) END AS lift,
       |  CASE WHEN nt < 2 OR nc < 2 OR (vnt + vnc) <= 0.0 THEN NULL
       |    ELSE round((mt - mc) / sqrt(vnt + vnc), 6) END AS t_stat,
       |  CASE WHEN nt < 2 OR nc < 2 OR (vnt + vnc) <= 0.0 THEN NULL
       |    ELSE round((vnt + vnc) * (vnt + vnc) /
       |      (vnt * vnt / (CAST(nt AS DOUBLE) - 1.0) +
       |       vnc * vnc / (CAST(nc AS DOUBLE) - 1.0)), 6) END AS df,
       |  round(theta, 6) AS theta
       |FROM ar""".stripMargin
  }

  /** DuckDB twin of [[welchTTest]]: `rowsCte` must yield (unit, m) by the
    * identical expressions; the stats expression order matches the Scala
    * op token-for-token so 6dp rounding agrees. */
  def welchTTestSql(rowsCte: String, treatMilli: Int = 500): String = {
    require(0 < treatMilli && treatMilli < 1000,
      s"treatMilli must be in (0, 1000), got $treatMilli")
    val bucket = PipelineOps.idBucketSql("unit", WelchMult)
    s"""WITH rows_ AS ($rowsCte),
       |pu AS (
       |  SELECT ($bucket) < $treatMilli AS treat,
       |    CAST(sum(m) AS BIGINT) AS mu
       |  FROM rows_ GROUP BY unit),
       |flat AS (
       |  SELECT
       |    CAST(sum(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT) AS nt,
       |    CAST(sum(CASE WHEN NOT treat THEN 1 ELSE 0 END) AS BIGINT) AS nc,
       |    CAST(sum(CASE WHEN treat THEN mu ELSE 0 END) AS DOUBLE) AS s1t,
       |    CAST(sum(CASE WHEN NOT treat THEN mu ELSE 0 END) AS DOUBLE) AS s1c,
       |    CAST(sum(CASE WHEN treat THEN CAST(mu AS HUGEINT) * mu ELSE 0 END)
       |      AS DOUBLE) AS s2t,
       |    CAST(sum(CASE WHEN NOT treat THEN CAST(mu AS HUGEINT) * mu ELSE 0 END)
       |      AS DOUBLE) AS s2c
       |  FROM pu),
       |st AS (
       |  SELECT nt, nc,
       |    s1t / CAST(nt AS DOUBLE) AS mt, s1c / CAST(nc AS DOUBLE) AS mc,
       |    (s2t - s1t * s1t / CAST(nt AS DOUBLE)) / (CAST(nt AS DOUBLE) - 1.0)
       |      / CAST(nt AS DOUBLE) AS vnt,
       |    (s2c - s1c * s1c / CAST(nc AS DOUBLE)) / (CAST(nc AS DOUBLE) - 1.0)
       |      / CAST(nc AS DOUBLE) AS vnc
       |  FROM flat)
       |SELECT nt AS n_treat, nc AS n_control,
       |  CASE WHEN nt = 0 THEN NULL ELSE round(mt, 6) END AS mean_treat,
       |  CASE WHEN nc = 0 THEN NULL ELSE round(mc, 6) END AS mean_control,
       |  CASE WHEN nt = 0 OR nc = 0 THEN NULL
       |    ELSE round(mt - mc, 6) END AS lift,
       |  CASE WHEN nt < 2 OR nc < 2 OR (vnt + vnc) <= 0.0 THEN NULL
       |    ELSE round((mt - mc) / sqrt(vnt + vnc), 6) END AS t_stat,
       |  CASE WHEN nt < 2 OR nc < 2 OR (vnt + vnc) <= 0.0 THEN NULL
       |    ELSE round((vnt + vnc) * (vnt + vnc) /
       |      (vnt * vnt / (CAST(nt AS DOUBLE) - 1.0) +
       |       vnc * vnc / (CAST(nc AS DOUBLE) - 1.0)), 6) END AS df
       |FROM st""".stripMargin
  }
}
