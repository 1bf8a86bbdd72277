package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-sequence analytics over user event streams: ordered funnels and
  * cohort retention — the standard product-analytics operators, built as
  * per-stage aggregates so nothing user-row-sized ever sorts globally.
  */
object FunnelOps {

  /** Ordered funnel: per stage k, the number of users who performed
    * stage-k's event type strictly AFTER their stage-(k-1) completion
    * time (first qualifying occurrence each). Stage 0 is each user's
    * earliest occurrence of the first type.
    *
    * Scale shape: ONE linear plan. Stage 0 is a type-filtered scan
    * (predicate pushed to parquet) → groupBy(user) min-aggregate; each
    * later stage left-joins the type-k candidate events onto the running
    * (user, t0..t(k-1)) relation and takes the conditional min
    * `min(ts WHERE ts > t(k-1))` (null = stage not reached, and a null
    * t(k-1) propagates so un-reached prefixes stay null). All S stage
    * counts come from ONE final aggregate over that single relation —
    * `count(tk)` skips nulls — exploded back to one row per stage.
    *
    * Why this shape: the obvious union-of-per-stage-counts embeds stage
    * k's full prefix chain in every later branch, so the events source is
    * scanned O(S²) times per action (measured: 6 scans for 3 stages).
    * The column-carrying chain scans each stage's slice exactly once,
    * keeps every shuffle at user-cardinality (never event volume), and
    * needs no persist/localCheckpoint lifecycle. There is still no
    * per-user sort window, so one hyperactive user costs nothing special.
    *
    * Returns (stage_idx, stage, n_users) — one row per stage. */
  def funnelCounts(events: DataFrame, stages: Seq[String],
      userCol: String = "user_id", tsCol: String = "ts_us",
      typeCol: String = "event_type"): DataFrame = {
    val cur = funnelStageTimes(events, stages, userCol, tsCol, typeCol)
    val counts = cur.agg(
      count(col("__t0")).as("__c0"),
      (1 until stages.size).map(k => count(col(s"__t$k")).as(s"__c$k")): _*)
    val rows = stages.zipWithIndex.map { case (s, i) =>
      struct(lit(i).as("stage_idx"), lit(s).as("stage"),
        col(s"__c$i").as("n_users"))
    }
    counts.select(explode(array(rows: _*)).as("__r")).select(col("__r.*"))
  }

  /** The per-user stage-time relation [[funnelCounts]] aggregates:
    * (user, __t0 .. __t(S-1)), where __tk is the user's first qualifying
    * stage-k completion time (null = never reached; nulls propagate down
    * the chain). Public so conversion analytics and gap histograms feed
    * off the SAME single-plan chain — e.g. fill a log-axis
    * [[graft.hist.Hist]] with `col("__t2") - col("__t1")` and run the
    * interpolated quantiles view — with zero extra event scans. */
  def funnelStageTimes(events: DataFrame, stages: Seq[String],
      userCol: String = "user_id", tsCol: String = "ts_us",
      typeCol: String = "event_type"): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    var cur = events.filter(col(typeCol) === stages.head)
      .groupBy(col(userCol)).agg(min(col(tsCol)).as("__t0"))
    stages.zipWithIndex.drop(1).foreach { case (s, k) =>
      val cand = events.filter(col(typeCol) === s)
        .select(col(userCol), col(tsCol).as("__ts"))
      // carry earlier stage times through (constant per user group) and
      // add this stage's conditional first-occurrence time
      val carried = (0 until k).map(i => max(col(s"__t$i")).as(s"__t$i"))
      val tk = min(when(col("__ts") > col(s"__t${k - 1}"), col("__ts")))
        .as(s"__t$k")
      cur = cur.join(cand, Seq(userCol), "left")
        .groupBy(col(userCol))
        .agg(carried.head, (carried.tail :+ tk): _*)
    }
    cur
  }

  /** Funnel conversion analytics on the [[funnelStageTimes]] relation —
    * per stage: reached-user count, conversion rate vs the previous
    * stage and vs stage 0, and the time-to-convert (t_k − t_(k−1)) gap
    * summary (min/max exact microseconds, mean at 6 dp). ONE aggregate
    * over the single-plan chain: no extra event scans, every shuffle at
    * user cardinality. Rates and means are round(·, 6) of exact-integer
    * ratios, so they hash-match the DuckDB twin. Stage 0 has no
    * predecessor: conv_vs_prev and gaps are null there.
    *
    * Returns (stage_idx, stage, n_users, conv_vs_prev, conv_vs_first,
    * min_gap_us, max_gap_us, mean_gap_us). */
  def funnelConversion(events: DataFrame, stages: Seq[String],
      userCol: String = "user_id", tsCol: String = "ts_us",
      typeCol: String = "event_type"): DataFrame = {
    val cur = funnelStageTimes(events, stages, userCol, tsCol, typeCol)
    val gapAggs = (1 until stages.size).flatMap { k =>
      val g = col(s"__t$k") - col(s"__t${k - 1}") // null unless stage reached
      // sum in Decimal(38,0): Σ of us-gaps over 10⁹ users can pass 2⁶³,
      // where Spark's long sum wraps silently but the DuckDB twin's
      // HUGEINT does not — the decimal sum keeps both engines exact
      Seq(min(g).as(s"__gmin$k"), max(g).as(s"__gmax$k"),
        sum(g.cast("decimal(38,0)")).as(s"__gsum$k"))
    }
    val aggs = (count(col("__t0")).as("__c0") +:
      (1 until stages.size).map(k => count(col(s"__t$k")).as(s"__c$k"))) ++
      gapAggs
    val summary = cur.agg(aggs.head, aggs.tail: _*)
    val rows = stages.zipWithIndex.map { case (s, i) =>
      val ck = col(s"__c$i")
      val convPrev =
        if (i == 0) lit(null).cast("double")
        else when(col(s"__c${i - 1}") > 0,
          round(ck.cast("double") / col(s"__c${i - 1}"), 6))
      val convFirst = when(col("__c0") > 0,
        round(ck.cast("double") / col("__c0"), 6))
      val (gmin, gmax, gmean) =
        if (i == 0) (lit(null).cast("long"), lit(null).cast("long"),
          lit(null).cast("double"))
        else (col(s"__gmin$i"), col(s"__gmax$i"),
          when(ck > 0, round(col(s"__gsum$i").cast("double") / ck, 6)))
      struct(lit(i).as("stage_idx"), lit(s).as("stage"), ck.as("n_users"),
        convPrev.as("conv_vs_prev"), convFirst.as("conv_vs_first"),
        gmin.as("min_gap_us"), gmax.as("max_gap_us"),
        gmean.as("mean_gap_us"))
    }
    summary.select(explode(array(rows: _*)).as("__r")).select(col("__r.*"))
  }

  /** Shared CTE chain for the funnel-analytics oracles: the events
    * projection `e`, per-stage first-completion times s0..s(S-1), and
    * per-stage gap relations g1..g(S-1) (gap CTE g_k joins stage k's
    * first-completion times back to stage k−1's — identical values to
    * the engine's column-carried chain because both take the same
    * conditional first occurrence per user). Returns the WITH-list body,
    * no trailing comma; callers append their own SELECT (or further
    * CTEs after a comma). Stage names are caller-supplied — single
    * quotes are escaped. */
  def funnelStageCtes(rawStages: Seq[String]): String = {
    val stages = rawStages.map(_.replace("'", "''"))
    val ctes = stages.zipWithIndex.map { case (s, i) =>
      if (i == 0)
        s"""s0 AS (
           |  SELECT user_id, min(ts_us) AS t FROM e
           |  WHERE event_type = '$s' GROUP BY 1)""".stripMargin
      else
        s"""s$i AS (
           |  SELECT e.user_id, min(e.ts_us) AS t
           |  FROM e JOIN s${i - 1} p
           |    ON e.user_id = p.user_id AND e.ts_us > p.t
           |  WHERE e.event_type = '$s' GROUP BY 1),
           |g$i AS (
           |  SELECT s$i.user_id, s$i.t - p.t AS g
           |  FROM s$i JOIN s${i - 1} p USING (user_id))""".stripMargin
    }.mkString(",\n")
    s"""e AS (
       |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
       |    event_type
       |  FROM events),
       |$ctes""".stripMargin
  }

  /** DuckDB twin of [[funnelConversion]] over the events table, on the
    * [[funnelStageCtes]] chain. */
  def funnelConversionSql(rawStages: Seq[String]): String = {
    val stages = rawStages.map(_.replace("'", "''"))
    val sel = stages.zipWithIndex.map { case (s, i) =>
      val n = s"(SELECT count(*) FROM s$i)"
      val convPrev =
        if (i == 0) "CAST(NULL AS DOUBLE)"
        else s"CASE WHEN (SELECT count(*) FROM s${i - 1}) > 0 THEN " +
          s"round(CAST($n AS DOUBLE) / (SELECT count(*) FROM s${i - 1}), 6) END"
      val convFirst = s"CASE WHEN (SELECT count(*) FROM s0) > 0 THEN " +
        s"round(CAST($n AS DOUBLE) / (SELECT count(*) FROM s0), 6) END"
      val (gmin, gmax, gmean) =
        if (i == 0) ("CAST(NULL AS BIGINT)", "CAST(NULL AS BIGINT)",
          "CAST(NULL AS DOUBLE)")
        else (s"(SELECT CAST(min(g) AS BIGINT) FROM g$i)",
          s"(SELECT CAST(max(g) AS BIGINT) FROM g$i)",
          s"(SELECT CASE WHEN count(*) > 0 THEN " +
            s"round(CAST(sum(g) AS DOUBLE) / count(*), 6) END FROM g$i)")
      s"SELECT $i AS stage_idx, '$s' AS stage, " +
        s"CAST($n AS BIGINT) AS n_users, $convPrev AS conv_vs_prev, " +
        s"$convFirst AS conv_vs_first, $gmin AS min_gap_us, " +
        s"$gmax AS max_gap_us, $gmean AS mean_gap_us"
    }.mkString("\nUNION ALL\n")
    s"""WITH ${funnelStageCtes(rawStages)}
       |$sel""".stripMargin
  }

  /** DuckDB twin of [[funnelCounts]] over the events table. Stage names
    * are caller-supplied — single quotes are escaped so a name like
    * "add'l" cannot break (or change the meaning of) the emitted SQL. */
  def funnelCountsSql(rawStages: Seq[String]): String = {
    val stages = rawStages.map(_.replace("'", "''"))
    val ctes = stages.zipWithIndex.map { case (s, i) =>
      if (i == 0)
        s"""s0 AS (
           |  SELECT user_id, min(ts_us) AS t FROM e
           |  WHERE event_type = '$s' GROUP BY 1)""".stripMargin
      else
        s"""s$i AS (
           |  SELECT e.user_id, min(e.ts_us) AS t
           |  FROM e JOIN s${i - 1} p
           |    ON e.user_id = p.user_id AND e.ts_us > p.t
           |  WHERE e.event_type = '$s' GROUP BY 1)"""
    }.mkString(",\n")
    val sel = stages.zipWithIndex.map { case (s, i) =>
      s"SELECT $i AS stage_idx, '$s' AS stage, " +
        s"CAST((SELECT count(*) FROM s$i) AS BIGINT) AS n_users"
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
       |    event_type
       |  FROM events),
       |$ctes
       |$sel""".stripMargin
  }

  /** Cohort retention: cohort = the time bucket of a user's first
    * activity; cell (cohort, offset) counts distinct users from that
    * cohort active `offset` buckets later. Integer bucket arithmetic —
    * deterministic and engine-portable.
    *
    * Scale: first-activity and per-bucket-activity are both
    * user-cardinality aggregates of the event scan; the retention join
    * moves (user, bucket) pairs only. */
  /** First-order Markov transition matrix over per-user event streams:
    * for each ordered (event_type → next event_type) adjacency in a
    * user's timeline, the count and the conditional probability
    * `p = c(a→b) / c(a→·)` — the path-analysis view product/behavior
    * pipelines compute next to funnels ("after signup, where do users
    * actually go"), and the event-sequence analog of the bigram LM.
    *
    * Ordering is (ts, event_id) so simultaneous events break ties
    * deterministically on both engines. `p` rounds at 9dp (single
    * division of exact integers — the engine-portable ratio class).
    *
    * 100 TB shape: ONE shuffle on user_id, per-user sort bounded by
    * that user's own stream (a hyperactive user costs their own log n,
    * never a global sort); adjacent pairs come from a `lead` window —
    * no self-join; the transition relation is event-type² at most,
    * broadcast-sized, and the row-count aggregate re-reduces the same
    * pair relation. */
  def eventTransitions(events: DataFrame, minCount: Long = 1L): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val pairs = events
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
    val counts = pairs.groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"))
    val fromTotals = counts.groupBy("from_type").agg(sum(col("n")).as("n_from"))
    counts.join(fromTotals, Seq("from_type"))
      .filter(col("n") >= minCount)
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / col("n_from").cast("double"), 9)
          .as("p"))
  }

  /** DuckDB twin of [[eventTransitions]]: identical (ts, event_id)
    * ordering, identical single-division rounding. */
  def eventTransitionsSql(minCount: Long = 1L): String =
    s"""WITH pairs AS (
       |  SELECT event_type AS from_type,
       |    lead(event_type) OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS to_type
       |  FROM events),
       |c AS (
       |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
       |  FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2),
       |ft AS (
       |  SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from FROM c GROUP BY 1)
       |SELECT from_type, to_type, n,
       |  round(CAST(n AS DOUBLE) / CAST(n_from AS DOUBLE), 9) AS p
       |FROM c JOIN ft USING (from_type)
       |WHERE n >= $minCount""".stripMargin

  /** Markov entropy rate of the event-type sequence — "how predictable
    * is user behavior": H(next | prev) = −Σ_{a,b} p(a,b)·log₂ p(b|a)
    * over the [[eventTransitions]] pair relation, plus the marginal
    * entropy H(next) and their difference (the information the previous
    * event carries). A falling entropy rate on a release day means
    * behavior collapsed into fewer paths — the behavioral drift signal
    * count-based monitors miss.
    *
    * Determinism: every count is exact; each entropy TERM is
    * integer-scaled to round(1e9·(n/N)·log2(...)) and summed as BIGINT
    * (the RBO/DCG discipline), so the type²-bounded summation order
    * never matters; the final values are one division each at 6dp.
    * Returns ONE row: (n_pairs, h_cond, h_marginal, info_gain). */
  def entropyRate(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val pairs = events
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
    val counts = pairs.groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"))
    val fromTotals = counts.groupBy("from_type").agg(sum(col("n")).as("n_from"))
    val toTotals = counts.groupBy("to_type").agg(sum(col("n")).as("n_to"))
    val total = counts.agg(sum(col("n")).as("nn"))
    val cond = counts.join(fromTotals, Seq("from_type"))
      .crossJoin(total)
      .agg(sum(expr(
        "CAST(round(1000000000.0 * (CAST(n AS DOUBLE) / CAST(nn AS DOUBLE))" +
          " * log2(CAST(n_from AS DOUBLE) / CAST(n AS DOUBLE))) AS BIGINT)"))
        .as("hc_e9"), max(col("nn")).as("nn"))
    val marg = toTotals.crossJoin(total)
      .agg(sum(expr(
        "CAST(round(1000000000.0 * (CAST(n_to AS DOUBLE) / CAST(nn AS DOUBLE))" +
          " * log2(CAST(nn AS DOUBLE) / CAST(n_to AS DOUBLE))) AS BIGINT)"))
        .as("hm_e9"))
    cond.crossJoin(marg)
      .select(col("nn").as("n_pairs"),
        round(col("hc_e9").cast("double") / 1e9, 6).as("h_cond"),
        round(col("hm_e9").cast("double") / 1e9, 6).as("h_marginal"),
        round((col("hm_e9") - col("hc_e9")).cast("double") / 1e9, 6)
          .as("info_gain"))
  }

  /** DuckDB twin of [[entropyRate]]. */
  def entropyRateSql(): String =
    s"""WITH pairs AS (
       |  SELECT event_type AS from_type,
       |    lead(event_type) OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS to_type
       |  FROM events),
       |c AS (
       |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
       |  FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2),
       |ft AS (
       |  SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from FROM c GROUP BY 1),
       |tt AS (
       |  SELECT to_type, CAST(sum(n) AS BIGINT) AS n_to FROM c GROUP BY 1),
       |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM c),
       |hc AS (
       |  SELECT CAST(sum(CAST(round(1000000000.0
       |      * (CAST(n AS DOUBLE) / CAST(nn AS DOUBLE))
       |      * log2(CAST(n_from AS DOUBLE) / CAST(n AS DOUBLE)))
       |    AS BIGINT)) AS BIGINT) AS hc_e9, max(nn) AS nn
       |  FROM c JOIN ft USING (from_type) CROSS JOIN tot),
       |hm AS (
       |  SELECT CAST(sum(CAST(round(1000000000.0
       |      * (CAST(n_to AS DOUBLE) / CAST(nn AS DOUBLE))
       |      * log2(CAST(nn AS DOUBLE) / CAST(n_to AS DOUBLE)))
       |    AS BIGINT)) AS BIGINT) AS hm_e9
       |  FROM tt CROSS JOIN tot)
       |SELECT hc.nn AS n_pairs,
       |  round(CAST(hc.hc_e9 AS DOUBLE) / 1e9, 6) AS h_cond,
       |  round(CAST(hm.hm_e9 AS DOUBLE) / 1e9, 6) AS h_marginal,
       |  round(CAST(hm.hm_e9 - hc.hc_e9 AS DOUBLE) / 1e9, 6) AS info_gain
       |FROM hc CROSS JOIN hm""".stripMargin

  def retentionCohorts(events: DataFrame, bucketUs: Long, maxOffset: Int,
      userCol: String = "user_id", tsCol: String = "ts_us"): DataFrame = {
    require(bucketUs > 0, "bucketUs must be positive")
    require(maxOffset >= 0, "maxOffset must be >= 0")
    // integer floor-div (Spark `div` == DuckDB `//` for the non-negative
    // epoch range), not `/`-then-cast which truncates toward zero
    val b = expr(s"`$tsCol` div ${bucketUs}L")
    val first = events.groupBy(col(userCol)).agg(min(b).as("cohort"))
    val activity = events.select(col(userCol), b.as("__b")).distinct()
    activity.join(first, Seq(userCol))
      .withColumn("offset", col("__b") - col("cohort"))
      .filter(col("offset") >= 0 && col("offset") <= maxOffset)
      .groupBy("cohort", "offset")
      .agg(countDistinct(col(userCol)).as("n_users"))
  }

  /** DuckDB twin of [[retentionCohorts]] over the events table. */
  def retentionCohortsSql(bucketUs: Long, maxOffset: Int): String =
    s"""WITH e AS (
       |  SELECT user_id,
       |    CAST(epoch_us(CAST(ts AS TIMESTAMP)) // $bucketUs AS BIGINT) AS b
       |  FROM events),
       |f AS (SELECT user_id, min(b) AS cohort FROM e GROUP BY 1),
       |a AS (SELECT DISTINCT user_id, b FROM e)
       |SELECT f.cohort, a.b - f.cohort AS "offset",
       |  CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
       |FROM a JOIN f ON a.user_id = f.user_id
       |WHERE a.b - f.cohort BETWEEN 0 AND $maxOffset
       |GROUP BY 1, 2""".stripMargin

  // ---- Kaplan-Meier survival (churn) curve --------------------------------
  /** Kaplan-Meier product-limit estimate of user lifetime (Kaplan &
    * Meier 1958) with right-censoring at the observation horizon — the
    * standard churn curve: "what fraction of users survive past t days",
    * unbiased by users who simply haven't had time to churn yet (the
    * mistake a naive lifetime histogram makes).
    *
    * A user's lifetime runs first→last event; the user CHURNED (event
    * observed) iff their last event precedes the corpus's observation
    * end by more than `gapUs` (they went quiet and stayed quiet),
    * otherwise they are CENSORED with lifetime first→observation-end
    * (still alive; their lifetime is only known to exceed that).
    * Lifetimes quantize to whole days so the curve relation is bounded
    * by the calendar span, never the user count.
    *
    * At each distinct day t: `d` churn events, `c` censorings,
    * `n_risk` = users with lifetime ≥ t (N minus the prior cumulative
    * exits), and S(t) = Π_{s ≤ t}(1 − d_s/n_s). The product is computed
    * as exp(Σ ln(1 − d/n)) over the day-ordered window — a DETERMINISTIC
    * summation order both engines share (the perplexity-oracle
    * discipline); a day where d = n_risk sends S to exactly 0 via an
    * explicit zero-factor flag in both engines rather than ln(0), where
    * Spark (NULL) and DuckDB (−inf) disagree.
    *
    * Returns (t_day, n_risk, d, c, survival) ordered by day.
    *
    * 100 TB shape: one user-keyed map-side-combined aggregate (the
    * corpus-sized pass), the observation end as a one-row broadcast,
    * then all windows run on the DAY-level relation — bounded by the
    * calendar span (thousands of rows at any corpus size), the
    * single-partition-window-over-quantized-domain pattern of
    * [[EvalOps.rocAuc]]. */
  private val KmDayUs = 86400000000L

  /** (user, churned, t_day) lifetime relation shared by [[kmSurvival]]
    * and [[logRankTest]] — quiet-gap churn rule, day quantization. */
  private def userLives(events: DataFrame, gapUs: Long,
      userCol: String, tsCol: String): DataFrame = {
    val u = events.groupBy(col(userCol))
      .agg(min(col(tsCol)).as("f"), max(col(tsCol)).as("l"))
    val end = events.agg(max(col(tsCol)).as("obs_end"))
    u.crossJoin(end)
      .select(col(userCol).as("__u"),
        (col("l") <= col("obs_end") - gapUs).as("churned"),
        when(col("l") <= col("obs_end") - gapUs,
          expr(s"(l - f) div ${KmDayUs}L"))
          .otherwise(expr(s"(obs_end - f) div ${KmDayUs}L")).as("t_day"))
  }

  def kmSurvival(events: DataFrame, gapUs: Long,
      userCol: String = "user_id", tsCol: String = "ts_us"): DataFrame = {
    require(gapUs > 0, s"gapUs must be positive, got $gapUs")
    val lives = userLives(events, gapUs, userCol, tsCol)
    val byDay = lives.groupBy("t_day")
      .agg(sum(when(col("churned"), 1L).otherwise(0L)).as("d"),
        sum(when(!col("churned"), 1L).otherwise(0L)).as("c"))
    val w = Window.orderBy("t_day")
    val prior = Window.orderBy("t_day")
      .rowsBetween(Window.unboundedPreceding, -1)
    val total = byDay.agg(sum(col("d") + col("c")).as("n_total"))
    def dbl(x: Column) = x.cast("double")
    byDay.crossJoin(total)
      .withColumn("n_risk",
        col("n_total") - coalesce(sum(col("d") + col("c")).over(prior), lit(0L)))
      .withColumn("__f", lit(1.0) - dbl(col("d")) / dbl(col("n_risk")))
      .withColumn("__zeros",
        sum(when(col("__f") <= 0.0, 1L).otherwise(0L)).over(w))
      .withColumn("__lnsum",
        sum(when(col("__f") > 0.0, log(col("__f"))).otherwise(0.0)).over(w))
      .select(col("t_day"), col("n_risk"), col("d"), col("c"),
        when(col("__zeros") > 0L, 0.0)
          .otherwise(round(exp(col("__lnsum")), 6)).as("survival"))
  }

  /** Nelson–Aalen cumulative hazard of user churn — [[kmSurvival]]'s
    * estimator-theory companion (Nelson 1972, Aalen 1978): instead of
    * the product-limit survival it reports H(t) = Σ_{t' ≤ t} d/n_risk,
    * whose slope IS the hazard rate — the readout that shows WHEN churn
    * risk concentrates (a constant-hazard product line looks featureless
    * on S(t) but is a straight line on H(t)). Same quiet-gap lifetimes,
    * same right-censoring, same calendar-bounded day relation; the
    * cumulative double sum runs in DAY-ASCENDING window order (the KM
    * ln-sum discipline — float summation order is part of the
    * contract), rounded at 6dp. Also emits the Breslow survival
    * exp(−H) for direct comparison against the KM curve. */
  def naCumHazard(events: DataFrame, gapUs: Long,
      userCol: String = "user_id", tsCol: String = "ts_us"): DataFrame = {
    require(gapUs > 0, s"gapUs must be positive, got $gapUs")
    val lives = userLives(events, gapUs, userCol, tsCol)
    val byDay = lives.groupBy("t_day")
      .agg(sum(when(col("churned"), 1L).otherwise(0L)).as("d"),
        sum(when(!col("churned"), 1L).otherwise(0L)).as("c"))
    val w = Window.orderBy("t_day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prior = Window.orderBy("t_day")
      .rowsBetween(Window.unboundedPreceding, -1)
    val total = byDay.agg(sum(col("d") + col("c")).as("n_total"))
    def dbl(x: Column) = x.cast("double")
    byDay.crossJoin(total)
      .withColumn("n_risk",
        col("n_total") - coalesce(sum(col("d") + col("c")).over(prior), lit(0L)))
      .withColumn("__h", sum(dbl(col("d")) / dbl(col("n_risk"))).over(w))
      .select(col("t_day"), col("n_risk"), col("d"), col("c"),
        round(col("__h"), 6).as("cum_hazard"),
        round(exp(-col("__h")), 6).as("breslow_survival"))
  }

  /** DuckDB twin of [[naCumHazard]]. */
  def naCumHazardSql(gapUs: Long): String = {
    require(gapUs > 0, s"gapUs must be positive, got $gapUs")
    val dayUs = 86400000000L
    s"""WITH u AS (
       |  SELECT user_id,
       |    min(epoch_us(CAST(ts AS TIMESTAMP))) AS f,
       |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS l
       |  FROM events GROUP BY 1),
       |oe AS (SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) AS obs_end
       |  FROM events),
       |lives AS (
       |  SELECT l <= obs_end - $gapUs AS churned,
       |    CASE WHEN l <= obs_end - $gapUs THEN (l - f) // $dayUs
       |      ELSE (obs_end - f) // $dayUs END AS t_day
       |  FROM u CROSS JOIN oe),
       |byday AS (
       |  SELECT t_day,
       |    CAST(sum(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT) AS d,
       |    CAST(sum(CASE WHEN NOT churned THEN 1 ELSE 0 END) AS BIGINT) AS c
       |  FROM lives GROUP BY 1),
       |tot AS (SELECT CAST(sum(d + c) AS BIGINT) AS n_total FROM byday),
       |risk AS (
       |  SELECT t_day, d, c,
       |    n_total - COALESCE(sum(d + c) OVER (ORDER BY t_day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
       |  FROM byday CROSS JOIN tot),
       |cum AS (
       |  SELECT t_day, n_risk, d, c,
       |    sum(CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE))
       |      OVER (ORDER BY t_day
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS h
       |  FROM risk)
       |SELECT t_day, CAST(n_risk AS BIGINT) AS n_risk, d, c,
       |  round(h, 6) AS cum_hazard,
       |  round(exp(-h), 6) AS breslow_survival
       |FROM cum""".stripMargin
  }

  /** DuckDB twin of [[kmSurvival]] over the events table (day
    * quantization, censoring rule, zero-factor flag and ln-sum order all
    * replicated). */
  def kmSurvivalSql(gapUs: Long): String = {
    require(gapUs > 0, s"gapUs must be positive, got $gapUs")
    val dayUs = 86400000000L
    s"""WITH u AS (
       |  SELECT user_id,
       |    min(epoch_us(CAST(ts AS TIMESTAMP))) AS f,
       |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS l
       |  FROM events GROUP BY 1),
       |oe AS (SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) AS obs_end
       |  FROM events),
       |lives AS (
       |  SELECT l <= obs_end - $gapUs AS churned,
       |    CASE WHEN l <= obs_end - $gapUs THEN (l - f) // $dayUs
       |      ELSE (obs_end - f) // $dayUs END AS t_day
       |  FROM u CROSS JOIN oe),
       |byday AS (
       |  SELECT t_day,
       |    CAST(sum(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT) AS d,
       |    CAST(sum(CASE WHEN NOT churned THEN 1 ELSE 0 END) AS BIGINT) AS c
       |  FROM lives GROUP BY 1),
       |tot AS (SELECT CAST(sum(d + c) AS BIGINT) AS n_total FROM byday),
       |risk AS (
       |  SELECT t_day, d, c,
       |    n_total - COALESCE(sum(d + c) OVER (ORDER BY t_day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
       |  FROM byday CROSS JOIN tot),
       |fct AS (
       |  SELECT t_day, n_risk, d, c,
       |    1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS f
       |  FROM risk),
       |cum AS (
       |  SELECT t_day, n_risk, d, c,
       |    sum(CASE WHEN f <= 0.0 THEN 1 ELSE 0 END) OVER (ORDER BY t_day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS zeros,
       |    sum(CASE WHEN f > 0.0 THEN ln(f) ELSE 0.0 END) OVER (ORDER BY t_day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lnsum
       |  FROM fct)
       |SELECT t_day, CAST(n_risk AS BIGINT) AS n_risk, d, c,
       |  CASE WHEN zeros > 0 THEN 0.0 ELSE round(exp(lnsum), 6) END AS survival
       |FROM cum""".stripMargin
  }

  /** Log-rank test (Mantel-Cox) between the censored churn curves of the
    * two experiment arms — "did treatment change user LIFETIME", the
    * survival-analysis counterpart of [[graft.ops.EvalOps.welchTTest]]
    * and the correct reading when the metric is time-to-churn (a mean
    * lifetime comparison is biased by censoring; the log-rank statistic
    * is not). Arms use the identical reserved hash bucket as the A/B
    * readouts, lifetimes the identical quiet-gap rule as [[kmSurvival]].
    *
    * At each day t with d = d₁+d₂ churn events: expected treatment
    * churn E₁ = d·n₁/n and hypergeometric variance
    * V = d·(n₁/n)·(n₂/n)·(n−d)/(n−1) (0 when n = 1). The statistic
    * χ² = (O₁−E₁)²/V is chi-square with 1 dof under the null. O and the
    * risk sets are exact integers; E and V accumulate as doubles in
    * DAY-ASCENDING order on both engines (cumulative window, not a free
    * aggregate — float summation order is part of the contract), rounded
    * 6dp. V = 0 (no events, or a single at-risk user throughout) yields
    * NULL χ²/flag via the same CASE both engines.
    *
    * Returns ONE row: (n_treat, n_control, observed_treat,
    * expected_treat, chi2, lr_flag) — flag at 3.841 (5% χ²₁), the
    * [[graft.ops.EvalOps.srmCheck]] convention.
    *
    * 100 TB shape: the [[kmSurvival]] shape — one user-keyed corpus
    * pass, then day-relation windows (calendar-bounded) and a LIMIT-1
    * read of the final cumulative row. */
  def logRankTest(events: DataFrame, gapUs: Long, treatMilli: Int = 500,
      userCol: String = "user_id", tsCol: String = "ts_us"): DataFrame = {
    require(gapUs > 0, s"gapUs must be positive, got $gapUs")
    require(0 < treatMilli && treatMilli < 1000,
      s"treatMilli must be in (0, 1000), got $treatMilli")
    val lives = userLives(events, gapUs, userCol, tsCol)
      .select((graft.ops.PipelineOps.idBucket(col("__u"), EvalOps.WelchMult)
          < treatMilli).as("treat"),
        col("churned"), col("t_day"))
    val byDay = lives.groupBy("t_day").agg(
      sum(when(col("treat") && col("churned"), 1L).otherwise(0L)).as("d1"),
      sum(when(col("treat") && !col("churned"), 1L).otherwise(0L)).as("c1"),
      sum(when(!col("treat") && col("churned"), 1L).otherwise(0L)).as("d2"),
      sum(when(!col("treat") && !col("churned"), 1L).otherwise(0L)).as("c2"))
    val tot = byDay.agg(sum(col("d1") + col("c1")).as("nt1"),
      sum(col("d2") + col("c2")).as("nt2"))
    val prior = Window.orderBy("t_day")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = Window.orderBy("t_day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def dbl(x: Column) = x.cast("double")
    val risk = byDay.crossJoin(tot)
      .withColumn("n1",
        col("nt1") - coalesce(sum(col("d1") + col("c1")).over(prior), lit(0L)))
      .withColumn("n2",
        col("nt2") - coalesce(sum(col("d2") + col("c2")).over(prior), lit(0L)))
      .withColumn("d", col("d1") + col("d2"))
      .withColumn("n", col("n1") + col("n2"))
    val e1 = when(col("d") > 0L, dbl(col("d")) * dbl(col("n1")) / dbl(col("n")))
      .otherwise(0.0)
    val v = when(col("d") > 0L && col("n") > 1L,
        dbl(col("d")) * dbl(col("n1")) / dbl(col("n")) * dbl(col("n2")) /
          dbl(col("n")) * (dbl(col("n")) - dbl(col("d"))) /
          (dbl(col("n")) - 1.0))
      .otherwise(0.0)
    risk
      .withColumn("o1c", sum(col("d1")).over(cum))
      .withColumn("e1c", sum(e1).over(cum))
      .withColumn("vc", sum(v).over(cum))
      .orderBy(col("t_day").desc).limit(1)
      .select(col("nt1").as("n_treat"), col("nt2").as("n_control"),
        col("o1c").as("observed_treat"),
        round(col("e1c"), 6).as("expected_treat"),
        when(col("vc") <= 0.0, lit(null).cast("double"))
          .otherwise(round((dbl(col("o1c")) - col("e1c")) *
            (dbl(col("o1c")) - col("e1c")) / col("vc"), 6)).as("chi2"),
        when(col("vc") <= 0.0, lit(null).cast("boolean"))
          .otherwise((dbl(col("o1c")) - col("e1c")) *
            (dbl(col("o1c")) - col("e1c")) / col("vc") > 3.841).as("lr_flag"))
  }

  /** DuckDB twin of [[logRankTest]] over the events table. */
  def logRankTestSql(gapUs: Long, treatMilli: Int = 500): String = {
    require(gapUs > 0, s"gapUs must be positive, got $gapUs")
    require(0 < treatMilli && treatMilli < 1000,
      s"treatMilli must be in (0, 1000), got $treatMilli")
    val bucket = graft.ops.PipelineOps.idBucketSql("user_id",
      EvalOps.WelchMult)
    s"""WITH u AS (
       |  SELECT user_id,
       |    min(epoch_us(CAST(ts AS TIMESTAMP))) AS f,
       |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS l
       |  FROM events GROUP BY 1),
       |oe AS (SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) AS obs_end
       |  FROM events),
       |lives AS (
       |  SELECT ($bucket) < $treatMilli AS treat,
       |    l <= obs_end - $gapUs AS churned,
       |    CASE WHEN l <= obs_end - $gapUs THEN (l - f) // $KmDayUs
       |      ELSE (obs_end - f) // $KmDayUs END AS t_day
       |  FROM u CROSS JOIN oe),
       |byday AS (
       |  SELECT t_day,
       |    CAST(sum(CASE WHEN treat AND churned THEN 1 ELSE 0 END) AS BIGINT) AS d1,
       |    CAST(sum(CASE WHEN treat AND NOT churned THEN 1 ELSE 0 END) AS BIGINT) AS c1,
       |    CAST(sum(CASE WHEN NOT treat AND churned THEN 1 ELSE 0 END) AS BIGINT) AS d2,
       |    CAST(sum(CASE WHEN NOT treat AND NOT churned THEN 1 ELSE 0 END) AS BIGINT) AS c2
       |  FROM lives GROUP BY 1),
       |tot AS (SELECT CAST(sum(d1 + c1) AS BIGINT) AS nt1,
       |  CAST(sum(d2 + c2) AS BIGINT) AS nt2 FROM byday),
       |risk AS (
       |  SELECT t_day, d1, d2, nt1, nt2,
       |    nt1 - COALESCE(sum(d1 + c1) OVER (ORDER BY t_day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n1,
       |    nt2 - COALESCE(sum(d2 + c2) OVER (ORDER BY t_day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n2
       |  FROM byday CROSS JOIN tot),
       |terms AS (
       |  SELECT t_day, d1, nt1, nt2,
       |    CASE WHEN d1 + d2 > 0
       |      THEN CAST(d1 + d2 AS DOUBLE) * CAST(n1 AS DOUBLE)
       |        / CAST(n1 + n2 AS DOUBLE)
       |      ELSE 0.0 END AS e1,
       |    CASE WHEN d1 + d2 > 0 AND n1 + n2 > 1
       |      THEN CAST(d1 + d2 AS DOUBLE) * CAST(n1 AS DOUBLE)
       |        / CAST(n1 + n2 AS DOUBLE) * CAST(n2 AS DOUBLE)
       |        / CAST(n1 + n2 AS DOUBLE)
       |        * (CAST(n1 + n2 AS DOUBLE) - CAST(d1 + d2 AS DOUBLE))
       |        / (CAST(n1 + n2 AS DOUBLE) - 1.0)
       |      ELSE 0.0 END AS v
       |  FROM risk),
       |cum AS (
       |  SELECT nt1, nt2,
       |    sum(d1) OVER (ORDER BY t_day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS o1c,
       |    sum(e1) OVER (ORDER BY t_day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS e1c,
       |    sum(v) OVER (ORDER BY t_day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vc
       |  FROM terms ORDER BY t_day DESC LIMIT 1)
       |SELECT nt1 AS n_treat, nt2 AS n_control,
       |  CAST(o1c AS BIGINT) AS observed_treat,
       |  round(e1c, 6) AS expected_treat,
       |  CASE WHEN vc <= 0.0 THEN NULL
       |    ELSE round((CAST(o1c AS DOUBLE) - e1c)
       |      * (CAST(o1c AS DOUBLE) - e1c) / vc, 6) END AS chi2,
       |  CASE WHEN vc <= 0.0 THEN NULL
       |    ELSE (CAST(o1c AS DOUBLE) - e1c)
       |      * (CAST(o1c AS DOUBLE) - e1c) / vc > 3.841 END AS lr_flag
       |FROM cum""".stripMargin
  }

  /** Per-key time-series regularization: resample an irregular event
    * stream onto a fixed grid (bucket width `stepUs` microseconds) and
    * forward-fill each key's last observed value across empty buckets —
    * the gap-fill every downstream window/feature computation assumes
    * (regular grids are what make lag features, rolling means and
    * drift windows well-defined). Grid spans each key's OWN
    * [min, max] bucket — no global calendar materialization.
    *
    * Within-bucket reduction takes the LAST observation by
    * (`tsUsCol`, `tieCol`) — a total order, so the value per bucket is
    * unique and the whole op is oracle-checkable (values forward-fill
    * unchanged: no arithmetic, exact compare).
    *
    * 100 TB shape: one groupBy(key) span aggregate (two longs per
    * key), one `sequence` explode producing only each key's own grid
    * rows, one key-partitioned window for the fill — no global sort,
    * no calendar cross join, skew bounded by the noisiest key's span.
    * The fill state in a streaming re-expression is the same last
    * value (`attributionJoin`-style stream parity is a natural
    * extension; batch is the oracle face). */
  def resampleFfill(events: DataFrame, keyCol: String, tsUsCol: String,
      valueCol: String, tieCol: String, stepUs: Long): DataFrame = {
    require(stepUs > 0, s"stepUs must be positive, got $stepUs")
    val bucketed = events.select(col(keyCol),
      expr(s"$tsUsCol div ${stepUs}L").as("bucket"),
      col(valueCol).as("__v"), col(tsUsCol).as("__ts"), col(tieCol).as("__tie"))
    val obs = bucketed.withColumn("__rn", row_number().over(
        Window.partitionBy(keyCol, "bucket")
          .orderBy(col("__ts").desc, col("__tie").desc)))
      .filter(col("__rn") === 1).select(col(keyCol), col("bucket"), col("__v"))
    val grid = bucketed.groupBy(keyCol)
      .agg(min("bucket").as("b0"), max("bucket").as("b1"))
      .select(col(keyCol), explode(expr("sequence(b0, b1)")).as("bucket"))
    grid.join(obs, Seq(keyCol, "bucket"), "left")
      .withColumn("value", last(col("__v"), ignoreNulls = true).over(
        Window.partitionBy(keyCol).orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col(keyCol), col("bucket"), col("value"))
  }

  /** Top user journeys: each user's first `pathLen` events (by the
    * (ts, tie) total order) joined into a path string, counted, top-k
    * by frequency — the Sankey/journey report product analytics runs
    * beyond pairwise [[events_transitions Markov transitions]]: "what
    * do users actually DO first", as whole sequences.
    *
    * Determinism: the per-user ordering is a total order (struct sort
    * on (ts, tie, type)); path strings are exact; top-k ties break by
    * path ascending.
    *
    * 100 TB shape: one groupBy(user) building a bounded prefix (the
    * collected list is each user's events, sliced to `pathLen` — a
    * hyperactive user costs list memory but never a window sort of the
    * whole relation), one path-cardinality count, and a bounded top-k
    * (TakeOrderedAndProject). */
  def topPaths(events: DataFrame, pathLen: Int, k: Int,
      userCol: String = "user_id", tsCol: String = "ts_us",
      tieCol: String = "event_id", typeCol: String = "event_type")
      : DataFrame = {
    require(pathLen >= 1, s"pathLen must be >= 1, got $pathLen")
    require(k >= 1, s"k must be >= 1, got $k")
    val paths = events
      .select(col(userCol).as("__u"), struct(col(tsCol).as("ts"),
        col(tieCol).as("tie"), col(typeCol).as("t")).as("__e"))
      .groupBy("__u")
      .agg(expr(s"concat_ws('>', transform(slice(sort_array(" +
        s"collect_list(__e)), 1, $pathLen), x -> x.t))").as("path"))
    paths.groupBy("path").agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path").asc)
      .limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n_users").desc, col("path").asc)).cast("long"))
      .select("rank", "path", "n_users")
  }

  /** DuckDB twin of [[topPaths]] over events. */
  def topPathsSql(pathLen: Int, k: Int): String =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
       |    event_id, event_type
       |  FROM events),
       |p AS (
       |  SELECT user_id,
       |    array_to_string(list(event_type
       |      ORDER BY ts_us, event_id)[1:$pathLen], '>') AS path
       |  FROM e GROUP BY 1),
       |c AS (SELECT path, count(*) AS n_users FROM p GROUP BY 1)
       |SELECT row_number() OVER (ORDER BY n_users DESC, path ASC) AS rank,
       |  path, n_users
       |FROM c
       |QUALIFY rank <= $k""".stripMargin

  /** Cumulative distinct keys per time bucket — "total unique users to
    * date", the growth metric a naive implementation computes with a
    * running COUNT(DISTINCT) over an ever-growing window (quadratic
    * state). The first-seen reduction makes it linear: a key
    * contributes to the cumulative count exactly at its FIRST bucket,
    * so cumulative-distinct = prefix sum of first-seen counts.
    *
    * 100 TB shape: one groupBy(key) min-aggregate (map-side combining,
    * one row per key), one bucket-cardinality aggregate, and a prefix
    * sum over BUCKET-cardinality rows (days/hours — thousands, not the
    * key domain). The only full-key pass is the first aggregate.
    * Buckets with no new keys are absent from the output (join a
    * calendar grid downstream if gap rows are needed —
    * [[resampleFfill]] is that operator). */
  def cumulativeDistinct(events: DataFrame, keyCol: String,
      bucketCol: Column): DataFrame = {
    val first = events.select(col(keyCol).as("__k"), bucketCol.as("bucket"))
      .groupBy("__k").agg(min("bucket").as("b0"))
    first.groupBy(col("b0").as("bucket"))
      .agg(count(lit(1)).as("new_keys"))
      .withColumn("cum_keys", sum("new_keys").over(
        Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** DuckDB twin of [[cumulativeDistinct]] over events at day
    * granularity. */
  def cumulativeDistinctSql(bucketUs: Long): String =
    s"""WITH f AS (
       |  SELECT user_id,
       |    min(epoch_us(CAST(ts AS TIMESTAMP)) // $bucketUs) AS b0
       |  FROM events GROUP BY 1),
       |n AS (SELECT b0 AS bucket, count(*) AS new_keys FROM f GROUP BY 1)
       |SELECT bucket, new_keys,
       |  CAST(sum(new_keys) OVER (ORDER BY bucket
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS cum_keys
       |FROM n""".stripMargin

  /** Rolling features over a REGULAR per-key grid (the
    * [[resampleFfill]] output): previous-bucket lag and a trailing
    * `windowLen`-bucket mean — the standard lag/rolling feature pair
    * every forecasting and drift model starts from, well-defined only
    * BECAUSE the grid is regular (on raw irregular events, "lag 1"
    * conflates time gaps with observation gaps).
    *
    * Exactness: the mean is computed over 1e6-scaled integers
    * (round(value·1e6) as BIGINT — one double op, identical in both
    * engines), summed exactly, divided once and rounded to 6dp; the
    * lag copies the value unchanged. No float accumulation order can
    * diverge.
    *
    * 100 TB shape: two frames over ONE key-partitioned sort — Catalyst
    * computes both in a single Window exchange; state per key is the
    * windowLen-row frame. */
  def rollingFeatures(grid: DataFrame, keyCol: String, bucketCol: String,
      valueCol: String, windowLen: Int): DataFrame = {
    require(windowLen >= 1, s"windowLen must be >= 1, got $windowLen")
    val w = Window.partitionBy(keyCol).orderBy(bucketCol)
    val trail = w.rowsBetween(-(windowLen - 1).toLong, Window.currentRow)
    val v6 = expr(s"CAST(round($valueCol * 1000000.0) AS BIGINT)")
    grid.withColumn("lag1", lag(col(valueCol), 1).over(w))
      .withColumn("__s", sum(v6).over(trail))
      .withColumn("__n", count(lit(1)).over(trail))
      .withColumn("roll_mean", round(
        col("__s").cast("double") / (col("__n").cast("double") * 1000000.0),
        6))
      .select(col(keyCol), col(bucketCol), col(valueCol),
        col("lag1"), col("roll_mean"))
  }

  /** DuckDB twin of [[rollingFeatures]] over a `grid` CTE with
    * (user_id, bucket, value) columns. */
  def rollingFeaturesSql(windowLen: Int): String =
    s"""SELECT user_id, bucket, value,
       |  lag(value) OVER w AS lag1,
       |  round(CAST(sum(CAST(round(value * 1000000.0) AS BIGINT))
       |      OVER (PARTITION BY user_id ORDER BY bucket
       |            ROWS BETWEEN ${windowLen - 1} PRECEDING AND CURRENT ROW)
       |    AS DOUBLE)
       |   / (CAST(count(*) OVER (PARTITION BY user_id ORDER BY bucket
       |            ROWS BETWEEN ${windowLen - 1} PRECEDING AND CURRENT ROW)
       |      AS DOUBLE) * 1000000.0), 6) AS roll_mean
       |FROM grid
       |WINDOW w AS (PARTITION BY user_id ORDER BY bucket)""".stripMargin

  /** DuckDB twin of [[resampleFfill]] over purchase events: same bucket
    * arithmetic, same (ts, event_id) last-observation tie-break, same
    * ignore-nulls running fill. */
  def resampleFfillSql(eventType: String, stepUs: Long): String =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
       |    value, event_id
       |  FROM events WHERE event_type = '$eventType'),
       |b AS (
       |  SELECT user_id, ts_us // $stepUs AS bucket, value,
       |    row_number() OVER (PARTITION BY user_id, ts_us // $stepUs
       |      ORDER BY ts_us DESC, event_id DESC) AS rn
       |  FROM e),
       |obs AS (SELECT user_id, bucket, value FROM b WHERE rn = 1),
       |span AS (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
       |         FROM b GROUP BY 1),
       |grid AS (SELECT user_id, unnest(range(b0, b1 + 1)) AS bucket
       |         FROM span),
       |f AS (SELECT g.user_id, g.bucket, obs.value
       |      FROM grid g LEFT JOIN obs USING (user_id, bucket))
       |SELECT user_id, bucket,
       |  last_value(value IGNORE NULLS) OVER (PARTITION BY user_id
       |    ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING
       |    AND CURRENT ROW) AS value
       |FROM f""".stripMargin

  // ---- multi-touch attribution credit ------------------------------------
  private[graft] def lcmTo(n: Int): Long = {
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    (1L to n.toLong).foldLeft(1L)((l, k) => l / gcd(l, k) * k)
  }

  /** Multi-touch attribution over the (impression, conversion) PAIR
    * relation ([[graft.streaming.StreamingHist.attributionJoin]]'s
    * output): per channel, total FIRST-touch, LAST-touch, LINEAR and
    * POSITION-BASED (U-shaped, 40/20/40) credit — the four standard
    * models every marketing/event pipeline reports side by side.
    *
    * Contract: each conversion credits at most `maxTouches` of its MOST
    * RECENT impressions (ties broken by impression id — deterministic),
    * the standard lookback cap and the same bounded-contract move as
    * [[GraphOps.linkPrediction]]'s hub cap: a bot user with 10⁶ views
    * before one purchase would otherwise dominate the window sort AND
    * dilute linear credit to noise. The oracle replays the cap.
    *
    * Exactness: linear credit 1/k is lcm-scaled to an EXACT integer
    * L/k (L = lcm(1..maxTouches), the [[TextOps]] GloVe-discount
    * discipline), summed in DECIMAL(38,0) (no int64 ceiling at corpus
    * scale), divided by L once per channel and rounded 6dp — identical
    * single double op on both engines. First/last flags are integer
    * window ranks.
    *
    * 100 TB shape: one conversion-keyed window (per-conversion bounded
    * sort), one channel aggregate. Pairs are the join's output — this
    * op adds no corpus pass. */
  def attributionCredit(pairs: DataFrame, convCol: String, impCol: String,
      impTsCol: String, channel: Column, maxTouches: Int = 20): DataFrame = {
    require(maxTouches >= 1 && maxTouches <= 25,
      s"maxTouches in [1, 25] (lcm(1..25) is the long-safe ceiling), " +
        s"got $maxTouches")
    val L = lcmTo(maxTouches)
    val wDesc = Window.partitionBy(convCol)
      .orderBy(col(impTsCol).desc, col(impCol).desc)
    val kept = pairs.withColumn("__rn_d", row_number().over(wDesc))
      .filter(col("__rn_d") <= maxTouches)
    val credited = kept
      .withColumn("__rn_a", row_number().over(
        Window.partitionBy(convCol)
          .orderBy(col(impTsCol).asc, col(impCol).asc)))
      .withColumn("__k", count(lit(1)).over(Window.partitionBy(convCol)))
      .select(channel.as("channel"),
        when(col("__rn_a") === 1, 1L).otherwise(0L).as("__f"),
        when(col("__rn_d") === 1, 1L).otherwise(0L).as("__l"),
        // L/k is an exact integer (k | L); the double divide is exact
        // for L < 2^53 and the cast recovers the integer
        (lit(L).cast("double") / col("__k").cast("double")).cast("long")
          .as("__lin"),
        // position-based (U-shaped, 40/20/40) on the same scale S = 5L:
        // k=1 → all S; k=2 → S/2 each; else ends get 2L (= 0.4·S) and
        // middles split L (= 0.2·S) as exact L/(k−2) integers
        when(col("__k") === 1L, lit(5L * L))
          .when(col("__k") === 2L, lit(5L * L / 2L))
          .when(col("__rn_a") === 1 || col("__rn_d") === 1, lit(2L * L))
          .otherwise((lit(L).cast("double") /
            (col("__k") - lit(2L)).cast("double")).cast("long"))
          .as("__pos"))
    credited.groupBy("channel")
      .agg(sum(col("__f")).as("first_touch"),
        sum(col("__l")).as("last_touch"),
        sum(col("__lin").cast("decimal(38,0)")).as("__lins"),
        sum(col("__pos").cast("decimal(38,0)")).as("__poss"))
      .select(col("channel"), col("first_touch"), col("last_touch"),
        round(col("__lins").cast("double") / lit(L.toDouble), 6)
          .as("linear_credit"),
        round(col("__poss").cast("double") / lit(5.0 * L), 6)
          .as("position_credit"))
  }

  /** DuckDB twin of [[attributionCredit]]: `pairsCte` yields
    * (conv, imp, imp_ts_us, channel) derived identically; `imp_ts_us`
    * must be the integer event-time the Spark side ordered by. */
  def attributionCreditSql(pairsCte: String, maxTouches: Int = 20): String = {
    val L = lcmTo(maxTouches)
    s"""WITH pairs AS ($pairsCte),
       |ranked AS (
       |  SELECT channel, conv, imp,
       |    row_number() OVER (PARTITION BY conv
       |      ORDER BY imp_ts_us DESC, imp DESC) AS rn_d,
       |    row_number() OVER (PARTITION BY conv
       |      ORDER BY imp_ts_us ASC, imp ASC) AS rn_a0
       |  FROM pairs),
       |kept AS (SELECT * FROM ranked WHERE rn_d <= $maxTouches),
       |cred AS (
       |  SELECT channel,
       |    row_number() OVER (PARTITION BY conv
       |      ORDER BY rn_a0 ASC) AS rn_a,
       |    rn_d,
       |    CAST(count(*) OVER (PARTITION BY conv) AS BIGINT) AS k
       |  FROM kept)
       |SELECT channel,
       |  CAST(sum(CASE WHEN rn_a = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS first_touch,
       |  CAST(sum(CASE WHEN rn_d = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS last_touch,
       |  round(CAST(sum($L // k) AS DOUBLE) / $L.0, 6) AS linear_credit,
       |  round(CAST(sum(CASE WHEN k = 1 THEN ${5L * L}
       |    WHEN k = 2 THEN ${5L * L / 2L}
       |    WHEN rn_a = 1 OR rn_d = 1 THEN ${2L * L}
       |    ELSE $L // (k - 2) END) AS DOUBLE) / ${5L * L}.0, 6)
       |    AS position_credit
       |FROM cred GROUP BY channel""".stripMargin
  }
}
