package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.WeightedQuantileAgg
import graft.plans.ApproxQuantileRewrite

/** The opt-in percentile() → bottom-k distinct-value rewrite and its
  * estimator. */
class ApproxQuantileSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get
  import spark.implicits._

  private def withApprox[T](m: String)(body: => T): T = {
    spark.conf.set(ApproxQuantileRewrite.ConfKey, m)
    try body finally spark.conf.set(ApproxQuantileRewrite.ConfKey, "")
  }

  private def fired(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.toString.toLowerCase
      .contains("weightedquantileagg")

  test("rewrite fires under the conf, is inert without it") {
    spark.range(10000).select((col("id") % 100).cast("double").as("v"))
      .createOrReplaceTempView("aq")
    val sql = "SELECT percentile(v, 0.5) AS p FROM aq"
    val exact = spark.sql(sql)
    assert(!fired(exact))
    assert(exact.collect()(0).getDouble(0) == 49.5) // interpolated exact
    withApprox("256") {
      val approx = spark.sql(sql)
      assert(fired(approx))
      // 100 distinct values <= k=256: every value kept with exact counts
      // -> the type-1 readout is the exact 50th value
      assert(approx.collect()(0).getDouble(0) == 49.0)
    }
  }

  test("conservative scope: array percentage, frequency, FILTER, " +
      "DISTINCT stay exact") {
    spark.range(1000).select((col("id") % 10).cast("double").as("v"),
      lit(2L).as("f")).createOrReplaceTempView("aq_scope")
    withApprox("256") {
      for (sql <- Seq(
        "SELECT percentile(v, array(0.5, 0.9)) FROM aq_scope",
        "SELECT percentile(v, 0.5, f) FROM aq_scope",
        "SELECT percentile(v, 0.5) FILTER (WHERE v > 2) FROM aq_scope",
        "SELECT percentile(DISTINCT v, 0.5) FROM aq_scope",
        // ANSI-interval child: Percentile's result type IS the interval
        // — a rewrite to double would corrupt the schema; must stay exact
        "SELECT percentile(make_dt_interval(0, 0, 0, v), 0.5) FROM aq_scope"))
        assert(!fired(spark.sql(sql)), s"should stay exact: $sql")
      // and the interval percentile still ANSWERS correctly under the conf
      val iv = spark.sql(
        "SELECT percentile(make_dt_interval(0, 0, 0, v), 0.5) FROM aq_scope")
        .collect()(0).get(0)
      assert(iv.toString.contains("4.5"), s"interval percentile: $iv")
      assert(fired(spark.sql("SELECT percentile(v, 0.5) FROM aq_scope")))
    }
  }

  test("null semantics and grouping match percentile") {
    Seq(("a", Some(1.0)), ("a", Some(3.0)), ("a", None),
      ("b", None), ("b", None)).toDF("g", "v")
      .createOrReplaceTempView("aq_null")
    withApprox("64") {
      val got = spark.sql(
        "SELECT g, percentile(v, 0.5) AS p FROM aq_null GROUP BY g ORDER BY g")
      assert(fired(got))
      val rows = got.collect()
      assert(rows(0).getString(0) == "a" && rows(0).getDouble(1) == 1.0)
      assert(rows(1).getString(0) == "b" && rows(1).isNullAt(1))
    }
  }

  test("estimate: exact when distinct <= k; sane under high cardinality") {
    // high cardinality: 20000 distinct uniform values, k = 256 sample
    spark.range(20000).select(col("id").cast("double").as("v"))
      .createOrReplaceTempView("aq_hc")
    withApprox("256") {
      val p = spark.sql("SELECT percentile(v, 0.9) AS p FROM aq_hc")
        .collect()(0).getDouble(0)
      assert(math.abs(p / 20000.0 - 0.9) < 0.125, s"p90 estimate $p")
    }
    // skewed multiplicities, few distincts: exact type-1 answer
    val skew = Seq.fill(900)(1.0) ++ Seq.fill(50)(5.0) ++ Seq.fill(50)(9.0)
    skew.toDF("v").createOrReplaceTempView("aq_skew")
    withApprox("64") {
      val p = spark.sql("SELECT percentile(v, 0.95) AS p FROM aq_skew")
        .collect()(0).getDouble(0)
      assert(p == 5.0) // rank 950 of 1000 -> the 5.0 block, exactly
    }
  }

  test("estimate() readout: boundary ranks are type-1 exact") {
    // cum*1e6 >= qPpm*total boundary: 4 values, weights 1 each
    val s = Seq((1.0, 1L), (2.0, 1L), (3.0, 1L), (4.0, 1L))
    assert(WeightedQuantileAgg.estimate(s, 250000L).contains(1.0))
    assert(WeightedQuantileAgg.estimate(s, 250001L).contains(2.0))
    assert(WeightedQuantileAgg.estimate(s, 1000000L).contains(4.0))
    assert(WeightedQuantileAgg.estimate(Nil, 500000L).isEmpty)
    // weighted: (1.0 w=9, 9.0 w=1) -> p90 is still 1.0, p91 is 9.0
    val w = Seq((1.0, 9L), (9.0, 1L))
    assert(WeightedQuantileAgg.estimate(w, 900000L).contains(1.0))
    assert(WeightedQuantileAgg.estimate(w, 910000L).contains(9.0))
  }

  test("buffer law (ScalaCheck): any chunking/fold order yields the " +
      "k-smallest distinct values with complete counts") {
    import org.scalacheck.{Gen, Test => SCTest}
    import org.scalacheck.Prop.forAll
    import scala.collection.mutable
    val genPair = for {
      h <- Gen.choose(0L, 60L) // small domains force eviction churn
      v <- Gen.choose(-20, 20).map(_.toDouble)
    } yield (h, v)
    val prop = forAll(Gen.choose(16, 24), Gen.listOf(Gen.listOf(genPair))) {
      (k, chunks) =>
        val agg = new WeightedQuantileAgg(null, null, 500000L, k)
        def bufOf(c: Seq[(Long, Double)]) = {
          val b = agg.createAggregationBuffer()
          c.foreach(p => agg.merge(b, mutable.TreeMap(p -> 1L)))
          b
        }
        val folded = chunks.map(bufOf)
          .foldLeft(agg.createAggregationBuffer())(agg.merge)
        val foldedRev = chunks.reverse.map(bufOf)
          .foldLeft(agg.createAggregationBuffer())(agg.merge)
        // model: exact multiset counts, k smallest (h, v) keys survive
        val all = chunks.flatten
        val model = all.groupBy(identity).view.mapValues(_.size.toLong)
          .toSeq.sortBy(_._1).take(k).toMap
        folded.toMap == model && foldedRev.toMap == model &&
          agg.deserialize(agg.serialize(folded)).toMap == model
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("merge exactness: counts of surviving values are complete under " +
      "any partitioning") {
    val df = spark.range(30000)
      .select(((col("id") * 7919L) % 500L).cast("double").as("v"))
    withApprox("1000") {
      df.createOrReplaceTempView("aq_part")
      // 500 distinct <= k=1000: the readout must be EXACT type-1 no
      // matter how the 30000 rows are partitioned
      for (parts <- Seq(1, 7, 32)) {
        spark.sql("SELECT 1").collect() // keep conf applied
        val p = df.repartition(parts)
        p.createOrReplaceTempView("aq_part")
        val got = spark.sql("SELECT percentile(v, 0.5) AS p FROM aq_part")
        assert(fired(got))
        assert(got.collect()(0).getDouble(0) == 249.0, s"parts=$parts")
      }
    }
  }

  test("malformed conf is inert for percentile-free queries, loud on match") {
    spark.range(100).select(col("id").cast("double").as("v"))
      .createOrReplaceTempView("aq_bad")
    for (bad <- Seq("8", "not-a-number")) withApprox(bad) {
      // no Percentile anywhere: the typo must NOT break the session
      assert(spark.sql("SELECT sum(v) AS s FROM aq_bad")
        .collect()(0).getDouble(0) == 4950.0)
      // a matching Percentile validates the conf and throws loudly
      val e = intercept[Exception] {
        spark.sql("SELECT percentile(v, 0.5) FROM aq_bad").collect()
      }
      assert(e.getMessage.contains(ApproxQuantileRewrite.ConfKey) ||
        Option(e.getCause).exists(
          _.getMessage.contains(ApproxQuantileRewrite.ConfKey)),
        s"expected conf-key error, got: ${e.getMessage}")
    }
    // same lazy-validation contract for the NDV rewrite
    import graft.plans.ApproxNdvRewrite
    spark.conf.set(ApproxNdvRewrite.ConfKey, "junk")
    try {
      assert(spark.sql("SELECT count(v) AS c FROM aq_bad")
        .collect()(0).getLong(0) == 100L)
      intercept[Exception] {
        spark.sql("SELECT count(DISTINCT v) FROM aq_bad").collect()
      }
    } finally spark.conf.set(ApproxNdvRewrite.ConfKey, "")
  }

  test("non-finite values are excluded from the rewrite path") {
    Seq(1.0, 2.0, 3.0, 4.0, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity)
      .toDF("v").createOrReplaceTempView("aq_nan")
    withApprox("256") {
      val df = spark.sql("SELECT percentile(v, 0.5) AS p FROM aq_nan")
      assert(fired(df))
      // 4 finite values, q=0.5 -> type-1 readout = 2.0; NaN/±Inf never
      // enter the sketch (exact Percentile would rank NaN largest —
      // the documented divergence of the approximation mode)
      assert(df.collect()(0).getDouble(0) == 2.0)
    }
  }

  test("error envelope pinned at k=256 and k=1024 (the SCALE.md k-sweep)") {
    // deterministic miniature of `graft.Cli soak soak-ksweep`: independent
    // all-distinct value sets per trial, observed |rank - q| across
    // trials x quantiles must sit inside the published envelope
    // (p90 <= 1/sqrt(k), max <= 1.6/sqrt(k); the 1e7-row sweep measured
    // p90 ~ 0.65/sqrt(k), max ~ 1.15/sqrt(k))
    val n = 200000L
    for (k <- Seq(256, 1024)) {
      val errs = scala.collection.mutable.ArrayBuffer.empty[Double]
      for (t <- 0 until 5) {
        spark.range(n).select(
            (((col("id") + lit(t.toLong * 1000003L)) * 2654435761L) %
              4294967296L).cast("double").as("v"))
          .createOrReplaceTempView("aq_env")
        val est = withApprox(k.toString) {
          val q = spark.sql("SELECT percentile(v, 0.5) AS a, " +
            "percentile(v, 0.9) AS b, percentile(v, 0.99) AS c FROM aq_env")
          assert(fired(q))
          q.collect()(0)
        }
        val ranks = spark.sql(
          s"""SELECT
             |  avg(CASE WHEN v <= ${est.getDouble(0)} THEN 1.0D ELSE 0.0D END),
             |  avg(CASE WHEN v <= ${est.getDouble(1)} THEN 1.0D ELSE 0.0D END),
             |  avg(CASE WHEN v <= ${est.getDouble(2)} THEN 1.0D ELSE 0.0D END)
             |FROM aq_env""".stripMargin).collect()(0)
        errs += math.abs(ranks.getDouble(0) - 0.5)
        errs += math.abs(ranks.getDouble(1) - 0.9)
        errs += math.abs(ranks.getDouble(2) - 0.99)
      }
      val sorted = errs.sorted.toIndexedSeq
      val p90 = sorted(math.ceil(0.9 * sorted.size).toInt - 1)
      assert(p90 <= 1.0 / math.sqrt(k.toDouble),
        s"k=$k p90 rank error $p90 outside the envelope")
      assert(sorted.last <= 1.6 / math.sqrt(k.toDouble),
        s"k=$k max rank error ${sorted.last} outside the envelope")
    }
  }

  test("estimate(): rank threshold is overflow-safe at huge totals") {
    // counts near 2^62: the old cum*1e6 compare overflowed silently
    val big = 4000000000000000000L // 4e18
    val s = Seq((1.0, big), (2.0, big - 1L))
    assert(WeightedQuantileAgg.estimate(s, 500000L).contains(1.0))
    assert(WeightedQuantileAgg.estimate(s, 1000000L).contains(2.0))
    // tiny qPpm at a huge total still selects the first value
    assert(WeightedQuantileAgg.estimate(s, 1L).contains(1.0))
  }
}
