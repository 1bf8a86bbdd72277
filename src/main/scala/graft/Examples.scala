package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale exhibits, run as `graft.Cli soak <name> [sizes] [args]`: each
  * generates its input in-executor and compares two implementations,
  * sweeps a parameter, or measures a stream the query registry does not
  * run, checks its claim and prints one JSON line. SCALE.md cites their
  * output. The size curve of a registered query is `graft.Cli ladder`'s
  * ([[Ladder]]). Most rows take a comma list of sizes and run once per
  * size; the rest read their own parameters from `sizes` and `args`.
  */
object Examples {
  /** `graft.Cli soak <name> [sizes] [args]` runs `run(spark, sizes, args)`. */
  final case class Soak(name: String, sizes: String,
      run: (SparkSession, String, Seq[String]) => Unit)

  private def longs(sizes: String): Seq[Long] = sizes.split(",").map(_.trim.toLong).toSeq

  /** A row that runs `f` once per size. */
  private def perSize(name: String, sizes: String)(f: (SparkSession, Long) => Unit): Soak =
    Soak(name, sizes, (spark, s, _) => longs(s).foreach(f(spark, _)))

  /** A row with fixed parameters: the `sizes` fields, then the extra
    * arguments, each missing one taken from `defaults`. */
  private def withParams(name: String, defaults: String)(
      f: (SparkSession, IndexedSeq[String]) => Unit): Soak =
    Soak(name, defaults, (spark, s, rest) => {
      val given = s.split(",").map(_.trim).toIndexedSeq ++ rest
      f(spark, given ++ defaults.split(",").drop(given.size))
    })

  /** The soak table. Each soak's claim is in its scaladoc and SCALE.md;
    * rows with fixed parameters name them in order. */
  val soaks: Seq[Soak] = Seq(
    // sizes are total users; the first extra argument is the fixed
    // active-user count
    Soak("soak-funnel", "200000,2000000", (spark, s, rest) =>
      longs(s).foreach(n => funnelSoak(spark, n.toInt,
        rest.headOption.fold(20000)(_.toInt)))),
    perSize("soak-maintain", "1000000,4000000")(maintainSoak),
    perSize("soak-quantile", "10000000,40000000")(quantileSoak),
    withParams("soak-ksweep", "10000000,12")((spark, a) => // n, trials
      ksweepSoak(spark, a(0).toLong, a(1).toInt)),
    withParams("wordpiece-chained-probe", "4096,64,1000000,50000")((spark, a) =>
      wordpieceChainedProbe(spark, a(0).toInt, a(1).toInt, a(2).toLong, a(3).toInt)),
    withParams("soak-train-sampled", "2000000")((spark, a) =>
      Seq(1000, 500, 250, 125).foreach(trainSampledSoak(spark, a(0).toInt, _))),
    // the global-window reference runs at the first size only
    Soak("soak-gridrank", "10000000,40000000", (spark, s, _) =>
      longs(s).zipWithIndex.foreach { case (n, i) =>
        gridRankSoak(spark, n, compareGlobal = i == 0)
      }),
    withParams("zorder", "4000000,64")((spark, a) => // rows, files
      zorderExhibit(spark, a(0).toLong, a(1).toInt)),
    withParams("bpe-approx", "4096,64")((spark, a) => // merges, topK
      bpeApproxExhibit(spark, a(0).toInt, a(1).toInt)),
    withParams("wordpiece", "256,64")((spark, a) =>
      wordpieceExhibit(spark, a(0).toInt, a(1).toInt)),
    withParams("bpe", "512,256")((spark, a) =>
      bpeExhibit(spark, a(0).toInt, a(1).toInt)))

  /** `body`'s result and its wall-clock seconds. */
  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** `n` distinct random lowercase words of 2 to `maxLen` letters,
    * seeded, so every run trains on the same vocabulary. */
  private def randomWords(n: Int, maxLen: Int): IndexedSeq[String] = {
    val rnd = new scala.util.Random(42)
    (0 until n).map { _ =>
      Seq.fill(2 + rnd.nextInt(maxLen - 1))(('a' + rnd.nextInt(26)).toChar).mkString
    }.distinct
  }

  /** The training exhibits' Zipfian corpus: one document per word of
    * [[randomWords]], the word of rank r repeated max(1, top / (r + 1))
    * times (freq ∝ 1/rank — the shape production vocabularies train on). */
  private def zipfDocs(spark: SparkSession, words: Int, maxLen: Int, top: Int): DataFrame = {
    import spark.implicits._
    randomWords(words, maxLen).zipWithIndex.map { case (w, rank) =>
      (rank.toLong, ((w + " ") * math.max(1, top / (rank + 1))).trim)
    }.toDF("doc_id", "text")
  }

  /** Exact percentile vs the [[graft.plans.ApproxQuantileRewrite]]
    * substitution on an all-distinct metric column (Knuth-hash spread),
    * grouped 8 ways: warm best-of-2 each, same SQL text, only the conf
    * differs. The exhibit behind the rewrite's 100 TB claim. */
  private def quantileSoak(spark: SparkSession, n: Long): Unit = {
    // also install the rule as an extra optimization (idempotent);
    // percentile survives to extraOptimizations untouched,
    // so the live-session path has full scope here
    GraftExtensions.register(spark)
    val df = spark.range(n).select(
      (col("id") * 2654435761L % 4294967296L).cast("double").as("v"),
      (col("id") % 8).as("g"))
    df.createOrReplaceTempView("qsoak")
    def best2(): Double = {
      def once(): Double = timed(
        spark.sql("SELECT g, percentile(v, 0.99) AS p FROM qsoak GROUP BY g")
          .write.format("noop").mode("overwrite").save())._2
      math.min(once(), once())
    }
    val exactSec = best2()
    spark.conf.set(graft.plans.ApproxQuantileRewrite.ConfKey, "256")
    val rewriteSec =
      try {
        val plan = spark.sql("SELECT g, percentile(v, 0.99) FROM qsoak GROUP BY g")
          .queryExecution.optimizedPlan.toString
        require(plan.toLowerCase.contains("weightedquantileagg"),
          s"soak is vacuous — rewrite did not fire:\n$plan")
        best2()
      } finally spark.conf.set(graft.plans.ApproxQuantileRewrite.ConfKey, "")
    println(f"""{"example":"quantile_soak","rows":$n,"groups":8,"exact_sec":$exactSec%.2f,"rewrite_sec":$rewriteSec%.2f,"speedup":${exactSec / rewriteSec}%.1f}""")
  }

  /** Observed rank-error envelope of the distinct-value bottom-k
    * percentile estimate ([[graft.functions.WeightedQuantileAgg]] via
    * the rewrite): per (k, trial), estimate p50/p90/p99 on an
    * independent all-distinct value set (Knuth-spread, offset per
    * trial so the portable hash draws a fresh sample), then measure
    * each estimate's TRUE rank with one exact scan; report the
    * |rank − q| quantiles in ppm across trials×quantiles. The theory
    * line is the binomial envelope ~1/√k; the printed table is the
    * measured one (SCALE.md records it; QuantileSketchSpec pins two
    * rows at a smaller n — the envelope is n-free once n ≫ k). */
  private def ksweepSoak(spark: SparkSession, n: Long, trials: Int): Unit = {
    GraftExtensions.register(spark)
    val qs = Seq(0.5, 0.9, 0.99)
    for (k <- Seq(64, 256, 1024, 4096)) {
      val errs = scala.collection.mutable.ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      for (t <- 0 until trials) {
        spark.range(n).select(
            (((col("id") + lit(t.toLong * 1000003L)) * 2654435761L) %
              4294967296L).cast("double").as("v"))
          .createOrReplaceTempView("ksweep")
        spark.conf.set(graft.plans.ApproxQuantileRewrite.ConfKey, k.toString)
        val est =
          try {
            val q = spark.sql(
              "SELECT percentile(v, 0.5) AS q50, percentile(v, 0.9) AS " +
                "q90, percentile(v, 0.99) AS q99 FROM ksweep")
            require(q.queryExecution.optimizedPlan.toString.toLowerCase
              .contains("weightedquantileagg"), "rewrite did not fire")
            q.collect()(0)
          } finally
            spark.conf.set(graft.plans.ApproxQuantileRewrite.ConfKey, "")
        val ranks = spark.sql(
          s"""SELECT
             |  avg(CASE WHEN v <= ${est.getDouble(0)} THEN 1.0D ELSE 0.0D END),
             |  avg(CASE WHEN v <= ${est.getDouble(1)} THEN 1.0D ELSE 0.0D END),
             |  avg(CASE WHEN v <= ${est.getDouble(2)} THEN 1.0D ELSE 0.0D END)
             |FROM ksweep""".stripMargin).collect()(0)
        qs.indices.foreach(i =>
          errs += math.abs(ranks.getDouble(i) - qs(i)))
      }
      val sorted = errs.sorted.toIndexedSeq
      def pq(p: Double): Double =
        sorted(math.min(sorted.size - 1,
          math.max(0, math.ceil(p * sorted.size).toInt - 1)))
      val el = (System.nanoTime() - t0) / 1e9
      println(f"""{"example":"ksweep","k":$k,"rows":$n,"trials":$trials,"err_ppm_p50":${pq(0.5) * 1e6}%.0f,"err_ppm_p90":${pq(0.9) * 1e6}%.0f,"err_ppm_max":${sorted.last * 1e6}%.0f,"theory_ppm_1_over_sqrt_k":${1e6 / math.sqrt(k.toDouble)}%.0f,"sec":$el%.1f}""")
    }
  }

  /** The sampled-training soak's n-doc separable corpus, generated IN-ENGINE
    * (deterministic column arithmetic — no driver-side text): positive
    * docs speak goodN vocab, negative badN, shared filler; ~16 tokens
    * per doc, built with concat/pmod only. */
  private def separableDocs(spark: SparkSession, n: Int): DataFrame = {
    val w = (i: Int) => expr(s"CASE WHEN id % 2 = 0 THEN 'g' ELSE 'b' END" +
      s" || CAST((id * ${7 + i}) % 5 AS STRING)")
    spark.range(n.toLong).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 12).map(w) ++
        Seq(expr("'the'"), expr("'of'"), expr("'and'"), expr("'to'")): _*)
        .as("text"),
      (col("id") % 2 === 0).cast("long").as("y"))
  }

  /** Chained-WordPiece SCALE probe (the r12 verdict's open unknown):
    * round reduction and [[graft.ops.BpeOps.WpChainNbrCap]] overflow
    * frequency at production-ish vocab size, on a Zipfian corpus of
    * `nDocs` documents over `vocabSize` distinct words. Sequential
    * comparison is structurally unaffordable here (that is the point);
    * bit-identity is differential-tested at small scale in BpeSpec, so
    * this probe reports the chained trainer's own rounds, the
    * reduction vs the merges-=-rounds sequential baseline, and how
    * often the neighbor collect hit the cap (each overflow degrades
    * that round to one exact merge — detected, never silent). */
  private def wordpieceChainedProbe(spark: SparkSession, nMerges: Int,
      topK: Int, nDocs: Long, vocabSize: Int): Unit = {
    import spark.implicits._
    val vocab = randomWords(vocabSize, 12)
    val vb = spark.sparkContext.broadcast(vocab.toIndexedSeq)
    // Zipf-ish rank: square a uniform to concentrate mass at low ranks
    // while keeping FULL tail support — a 1/(r·(r+1)) head would leave
    // the observed dictionary thousands of words small and the trainer
    // exhausts it before nMerges
    val docs = spark.range(nDocs).as[Long].mapPartitions { it =>
      val v = vb.value
      val sz = v.size
      it.map { id =>
        val r = new scala.util.Random(id * 2654435761L)
        val words = (0 until 8).map { _ =>
          val u = r.nextDouble()
          v(math.min(sz - 1, (u * u * sz).toInt))
        }
        (id, words.mkString(" "))
      }
    }.toDF("doc_id", "text")
    val observed = docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "").distinct().count()
    val (res, sec) = timed(graft.ops.BpeOps.trainWordpieceChained(docs, nMerges,
      topK = topK))
    val red = res.merges.size.toDouble / res.rounds
    println(f"""{"example":"wordpiece_chained_probe","docs":$nDocs,"vocab_pool":${vocab.size},"distinct_words":$observed,"merges":${res.merges.size},"topK":$topK,"rounds":${res.rounds},"round_reduction":$red%.2f,"nbr_overflow_rounds":${res.nbrOverflowRounds},"sec":$sec%.1f}""")
  }

  /** Sampled-round training soak: the [[separableDocs]] corpus at fixed n,
    * trained 8 rounds at each sampleMilli. The per-round gradient pass
    * is the cost that must fall with the sample (`train_sec` also holds
    * the fixed feature build); `shuffled_mass_ratio` is the feature
    * mass the 8 sampled rounds aggregate over 8 full passes' mass,
    * computed by one separate aggregate outside the timed window. The separable corpus must still train to 100% at every
    * rate (rotating halves/quarters see the whole vocabulary across
    * rounds). */
  private def trainSampledSoak(spark: SparkSession, n: Int,
      sampleMilli: Int): Unit = {
    val docs = separableDocs(spark, n)
    val (wq, trainS) = timed(graft.ops.TrainOps.trainLr(docs, col("y"), dim = 64,
      rounds = 8, lrNum = 10L, lrDen = 1L, sampleMilli = sampleMilli))
    val acc = graft.ops.TrainOps.lrScore(docs, col("y"), wq)
      .agg(avg((col("pred").cast("long") === col("y")).cast("double")))
      .head().getDouble(0)
    require(acc == 1.0,
      s"separable corpus must train to 100% at s=$sampleMilli, got $acc")
    val active = expr("CAST(size(js) AS BIGINT)")
    val mass = graft.ops.TrainOps.docFeatures(docs, 64).agg(
      sum(active * lit(8L)),
      (0 until 8).map(r => sum(when(graft.ops.TrainOps.sampleBucket(
        col("doc_id"), r) < lit(sampleMilli.toLong), active).otherwise(0L)))
        .reduce(_ + _)).head()
    // the shuffled-mass ratio IS the sample rate (the cost driver)
    val massRatio = mass.getLong(1).toDouble / mass.getLong(0)
    println(f"""{"example":"train_sampled_soak","docs":$n,"sample_milli":$sampleMilli,"rounds":8,"train_sec":$trainS%.2f,"sec_per_round":${trainS / 8}%.3f,"shuffled_mass_ratio":$massRatio%.3f,"acc":$acc}""")
  }

  /** Grid-window soak: [[graft.ops.ProfileOps.giniIndex]] and
    * [[graft.ops.PipelineOps.quantileNormalize]] at n ALL-DISTINCT
    * values — the shape where the old global rank window was one task
    * sorting the whole domain. At `compareGlobal` the single-partition
    * reference runs too (the straggler, timed) and results must be
    * IDENTICAL. */
  private def gridRankSoak(spark: SparkSession, n: Long,
      compareGlobal: Boolean): Unit = {
    import org.apache.spark.sql.expressions.Window
    val df = spark.range(n).select(
      col("id").as("doc_id"),
      (col("id") % 5).cast("string").as("grp"),
      ((col("id") * 2654435761L) % 4294967296L).as("v"))
    // gini: grid form
    val (gRow, gSec) = timed(
      graft.ops.ProfileOps.giniIndex(df, col("v")).collect()(0))
    var gRefSec = -1.0
    if (compareGlobal) {
      val g = df.select(col("v")).groupBy("v").agg(count(lit(1)).as("cnt"))
      val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
      val cum = g.withColumn("cb",
        coalesce(sum(col("cnt")).over(w), lit(0L)))
      val (ref, s) = timed(cum.agg(
          sum(col("cnt")).as("n"),
          sum(col("v") * col("cnt")).as("sum_x"),
          sum(col("v").cast(org.apache.spark.sql.types.DecimalType(38, 0)) *
            col("cnt").cast(org.apache.spark.sql.types.DecimalType(38, 0)) *
            (lit(2L) * col("cb") + col("cnt") + lit(1L))
              .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("r2x"))
        .select(col("n"), col("sum_x"),
          round(col("r2x").cast("double") /
            (col("n").cast("double") * col("sum_x").cast("double")) -
            (col("n") + lit(1L)).cast("double") / col("n").cast("double"), 6)
            .as("gini")).collect()(0))
      gRefSec = s
      require(ref == gRow, s"grid gini diverged: $ref vs $gRow")
    }
    // quantileNormalize: grid form, checksum for the cross-check
    val (qSum, qSec) = timed(
      graft.ops.PipelineOps.quantileNormalize(df, "grp", "v", "doc_id")
        .agg(sum(col("norm_score")), count(lit(1))).collect()(0))
    // fdHistogram: grid exact quartiles at all-distinct values — the
    // shape where the old global row_number rank was one task sorting
    // the whole corpus (and was hard-capped at 2^31 rows)
    val (fdRows, fdSec) = timed(
      graft.ops.ProfileOps.fdHistogram(df, col("v")).collect())
    require(fdRows.map(_.getLong(1)).sum == n,
      s"fdHistogram lost rows: ${fdRows.map(_.getLong(1)).sum} != $n")
    var fdRefSec = -1.0
    if (compareGlobal) {
      val (r1, r3) = ((n + 3) / 4, (3 * n + 3) / 4)
      val (qs, s) = timed(df.select(col("v"))
        .withColumn("rn", org.apache.spark.sql.functions.row_number()
          .over(Window.orderBy("v")).cast("long"))
        .filter(col("rn") === r1 || col("rn") === r3)
        .agg(min(when(col("rn") === r1, col("v"))).as("q1"),
          min(when(col("rn") === r3, col("v"))).as("q3")).collect()(0))
      fdRefSec = s
      require(qs.getLong(0) == fdRows.head.getLong(3) &&
        qs.getLong(1) == fdRows.head.getLong(4),
        s"grid fd quartiles diverged: $qs vs ${fdRows.head}")
    }
    println(f"""{"example":"gridrank","rows":$n,"gini_grid_sec":$gSec%.2f,"gini_global_sec":$gRefSec%.2f,"gini":${gRow.getDouble(2)},"qnorm_grid_sec":$qSec%.2f,"qnorm_checksum":${qSum.getLong(0)},"qnorm_rows":${qSum.getLong(1)},"fd_grid_sec":$fdSec%.2f,"fd_global_sec":$fdRefSec%.2f,"fd_bins":${fdRows.head.getLong(2)}}""")
  }

  /** Materialized-view delta-maintenance economics, measured: the base
    * view is STORAGE-BACKED (parquet, as a production view would be),
    * the CDC feed is churn-sized (fixed 10k changes: key moves +
    * measure edits), and the maintain path must cost ~the feed while
    * the full recompute costs ~the corpus. Agreement between the two
    * views is asserted, so this is the `cdc_agg_maintain` certificate
    * replayed at soak scale. */
  private def maintainSoak(spark: SparkSession, nRows: Long): Unit = {
    import spark.implicits._
    val churn = 10000L
    def src(shift: org.apache.spark.sql.Column) =
      concat(lit("s"), pmod(col("doc_id") + shift, lit(200L)).cast("string"))
    def oldCorpus = spark.range(nRows).toDF("doc_id")
      .withColumn("source", src(lit(0L)))
      .withColumn("m", pmod(xxhash64(col("doc_id")), lit(1000L)))
    val churned = col("doc_id") < churn
    def newCorpus = spark.range(nRows).toDF("doc_id")
      .withColumn("source", src(when(churned, 1L).otherwise(0L)))
      .withColumn("m", pmod(xxhash64(col("doc_id")), lit(1000L)) +
        when(churned, 1L).otherwise(0L))
    // parquet-back the NEW corpus (setup, untimed): the recompute must
    // pay the real scan a production re-aggregation pays — an
    // in-executor generated corpus is free to "scan" and would hide
    // exactly the cost the delta path exists to avoid
    val newDir = java.nio.file.Files
      .createTempDirectory("graft-maintain-new").toString
    newCorpus.write.mode("overwrite").parquet(newDir)
    val baseDir = java.nio.file.Files
      .createTempDirectory("graft-maintain-base").toString
    graft.ops.PipelineOps.snapshotAgg(oldCorpus, "source", col("m"))
      .write.mode("overwrite").parquet(baseDir)
    // the production-shaped CDC feed: change rows arrive AS changes
    // (Kafka/change-feed), churn-sized — never derived by re-diffing
    val changes = spark.range(churn).toDF("doc_id")
      .select(col("doc_id").as("id"), src(lit(0L)).as("old_key"),
        pmod(xxhash64(col("doc_id")), lit(1000L)).as("old_m"),
        lit(true).as("old_present"), src(lit(1L)).as("new_key"),
        (pmod(xxhash64(col("doc_id")), lit(1000L)) + 1L).as("new_m"),
        lit(true).as("new_present"))
    def viewOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
    val (recomputed, secFull) = timed(viewOf(graft.ops.PipelineOps.snapshotAgg(
      spark.read.parquet(newDir), "source", col("m"))))
    val (maintained, secDelta) = timed(viewOf(graft.ops.PipelineOps.maintainAgg(
      spark.read.parquet(baseDir), changes)))
    require(maintained.sameElements(recomputed),
      "maintained view diverged from the full recompute")
    // bytes are the scale-invariant evidence: local seconds are job-
    // constant-dominated, but the recompute READS the corpus while the
    // maintain path reads a key-cardinality view + a churn-sized feed
    def dirBytes(d: String): Long = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(d)).iterator()
        .asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size(_)).sum
    }
    println(f"""{"example":"maintain_soak","rows":$nRows,"churn":$churn,"keys":200,"sec_full_recompute":$secFull%.3f,"sec_delta_maintain":$secDelta%.3f,"bytes_scanned_recompute":${dirBytes(newDir)},"bytes_scanned_maintain":${dirBytes(baseDir)},"feed_rows":$churn,"views_agree":true}""")
  }

  /** Streaming-funnel state soak: the eviction-bound claim
    * ([[graft.streaming.FunnelStream]] scaladoc — "state is bounded by
    * users ACTIVE within the retention horizon, not by every user ever
    * seen") measured, not just test-pinned. Three micro-batch phases:
    *
    *  1. ALL `nUsers` complete a view→click funnel at old timestamps —
    *     peak state tracks every user ever seen;
    *  2. a fixed `nActive` set (held CONSTANT as nUsers grows 10×)
    *     emits recent traffic, advancing the watermark past every
    *     phase-1 user's retention deadline;
    *  3. one more active batch fires the armed timeouts.
    *
    * Evidence = `stateOperators.numRowsTotal` from the query progress:
    * peak ≈ nUsers, final ≈ nActive — flat across 10× total users —
    * plus end-to-end events/s (driver-fed MemoryStream, so throughput
    * is a lower bound: production sources read in-executor). */
  private def funnelSoak(spark: SparkSession, nUsers: Int,
      nActive: Int): Unit = {
    import spark.implicits._
    import graft.streaming.FunnelStream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val s: SparkSession = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val retention = 3600L
    val in = MemoryStream[FunnelStream.TypedEvent]
    val name = s"funnel_soak_$nUsers"
    val q = FunnelStream.funnelStream(in.toDS()
        .withColumn("et", timestamp_micros($"ts_us"))
        .withWatermark("et", "1 second").as[FunnelStream.TypedEvent],
        Seq("view", "click"), retentionSec = retention)
      .writeStream.outputMode("append").format("memory").queryName(name)
      .start()
    def stateRows: Long =
      Option(q.lastProgress).map(_.stateOperators(0).numRowsTotal).getOrElse(0L)
    try {
      val t0 = System.nanoTime()
      // phase 1: every user converts at old event times (spread over ~17
      // min so per-batch sort buffers stay per-user-tiny). Fed and
      // PROCESSED in bounded micro-batches — one giant driver-side batch
      // is both unrealistic and a driver-memory cliff
      val base = 1000000000L
      val chunk = 250000
      (0 until nUsers).grouped(chunk).foreach { us =>
        in.addData(us.iterator.map(u =>
          FunnelStream.TypedEvent(u.toLong, base + u.toLong, "view")).toSeq)
        in.addData(us.iterator.map(u =>
          FunnelStream.TypedEvent(u.toLong, base + u.toLong + 500L, "click")).toSeq)
        q.processAllAvailable()
      }
      val peak = stateRows
      // phase 2: only the fixed active set returns, far past retention —
      // the batch's closing watermark passes every phase-1 deadline
      val recent = base + (retention + 7200L) * 1000000L
      in.addData((0 until nActive).iterator.map(u =>
        FunnelStream.TypedEvent(u.toLong, recent + u.toLong, "view")).toSeq)
      q.processAllAvailable()
      // phase 3: the next batch actually fires the armed timeouts
      in.addData((0 until nActive).iterator.map(u =>
        FunnelStream.TypedEvent(u.toLong, recent + 3600000000L + u.toLong,
          "click")).toSeq)
      q.processAllAvailable()
      val sec = (System.nanoTime() - t0) / 1e9
      val fin = stateRows
      val events = 2L * nUsers + 2L * nActive
      val emitted = spark.table(name).count()
      println(f"""{"example":"funnel_soak","users":$nUsers,"active":$nActive,"events":$events,"peak_state_rows":$peak,"final_state_rows":$fin,"final_per_active":${fin.toDouble / nActive}%.3f,"emitted":$emitted,"sec":$sec%.3f,"events_per_sec":${events / sec}%.0f}""")
    } finally q.stop()
  }

  /** Approximate-BPE exhibit: a 20k-word Zipfian vocabulary (large
    * enough to support production-ish merge counts), trainApprox at the
    * requested vocab size — the claim under test is the accepted
    * merges/round (how far symbol-conflict skipping erodes the ideal
    * nMerges/topK) — plus merge-set overlap vs the EXACT batched mode
    * at a 512-merge prefix (where exact is affordable to run). */
  private def bpeApproxExhibit(spark: SparkSession, nMerges: Int,
      topK: Int): Unit = {
    val docs = zipfDocs(spark, 20000, 12, 5000)
    val (approx, sec) = timed(graft.ops.BpeOps.trainApprox(docs, nMerges, topK = topK))
    val prefix = 512
    val (exact, exactSec) = timed(graft.ops.BpeOps.trainBatched(docs, prefix, topK = topK))
    val approxPrefix = graft.ops.BpeOps.trainApprox(docs, prefix, topK = topK)
    val overlap = approxPrefix.merges.toSet.intersect(exact.merges.toSet)
      .size.toDouble / exact.merges.size
    println(f"""{"example":"bpe_approx","merges":${approx.merges.size},"topK":$topK,"rounds":${approx.rounds},"merges_per_round":${approx.merges.size.toDouble / approx.rounds}%.1f,"sec":$sec%.3f,"exact_prefix":$prefix,"exact_rounds":${exact.rounds},"exact_sec":$exactSec%.3f,"prefix_overlap":$overlap%.3f}""")
  }

  /** Sequential-vs-batched BPE training on a deterministic Zipfian
    * corpus (2000 distinct words, freq ∝ 1/rank — the shape production
    * vocabularies train on). Both trainers produce bit-identical merge
    * lists by construction ([[graft.ops.BpeOps.trainBatched]]'s
    * dominance gate); the exhibit measures driver ROUND-TRIPS and
    * wall-clock, the cost that scales to a 30k-merge vocabulary. */
  private def bpeExhibit(spark: SparkSession, nMerges: Int,
      topK: Int): Unit = {
    val docs = zipfDocs(spark, 2000, 9, 2000)
    val (seqMerges, seqSec) = timed(graft.ops.BpeOps.train(docs, nMerges))
    val (batched, batSec) = timed(graft.ops.BpeOps.trainBatched(docs, nMerges, topK = topK))
    require(batched.merges == seqMerges,
      "batched and sequential BPE training diverged")
    println(f"""{"example":"bpe_batched","merges":${seqMerges.size},"topK":$topK,"seq_rounds":${seqMerges.size},"seq_sec":$seqSec%.3f,"batched_rounds":${batched.rounds},"batched_sec":$batSec%.3f,"round_reduction":${seqMerges.size.toDouble / batched.rounds}%.2f,"identical":true}""")
  }

  /** Sequential vs EXACT chain-following vs APPROX WordPiece training
    * on the [[bpeExhibit]] Zipfian corpus (one Spark job per merge at a
    * 32k vocab is 32k sequential jobs). Likelihood training CHAINS
    * (each merge's created pair usually becomes the next argmax — see
    * the trainWordpieceChained scaladoc), so the exact batched mode is
    * [[graft.ops.BpeOps.trainWordpieceChained]], required bit-identical
    * to sequential here; the approx mode's divergence vs sequential is
    * reported as merge-set overlap, the trainApprox discipline. */
  private def wordpieceExhibit(spark: SparkSession, nMerges: Int,
      topK: Int): Unit = {
    val docs = zipfDocs(spark, 2000, 9, 2000)
    val (seqMerges, seqSec) = timed(graft.ops.BpeOps.trainWordpiece(docs, nMerges))
    val (chained, chSec) = timed(graft.ops.BpeOps.trainWordpieceChained(docs, nMerges,
      topK = topK))
    require(chained.merges == seqMerges,
      "chained and sequential WordPiece training diverged")
    val (approx, apxSec) = timed(graft.ops.BpeOps.trainWordpieceApprox(docs, nMerges,
      topK = topK))
    val overlap = approx.merges.toSet.intersect(seqMerges.toSet)
      .size.toDouble / seqMerges.size
    println(f"""{"example":"wordpiece_batched","merges":${seqMerges.size},"topK":$topK,"seq_rounds":${seqMerges.size},"seq_sec":$seqSec%.3f,"chained_rounds":${chained.rounds},"chained_sec":$chSec%.3f,"chained_reduction":${seqMerges.size.toDouble / chained.rounds}%.2f,"chained_identical":true,"approx_rounds":${approx.rounds},"approx_sec":$apxSec%.3f,"approx_reduction":${approx.merges.size.toDouble / approx.rounds}%.2f,"approx_overlap":$overlap%.3f}""")
  }

  /** Z-order layout exhibit: write a Z-clustered dataset on a 4096²
    * grid, run an aligned 1/16-area box query, report the fraction of
    * files a footer-pruned scan opens (and verify the pruned set is
    * complete). */
  private def zorderExhibit(spark: SparkSession, rows: Long, files: Int): Unit = {
    import graft.ops.LayoutOps
    val df = spark.range(rows).toDF("id")
      .withColumn("a", pmod(xxhash64(col("id")), lit(4096L)))
      .withColumn("b", pmod(xxhash64(col("id") + 1L), lit(4096L)))
    val dir = java.nio.file.Files.createTempDirectory("graft-zorder-ex").toString
    val writeSec = timed(LayoutOps.writeZOrdered(df, LayoutOps.mortonKey2(col("a"), col("b")),
      dir, numFiles = files))._2
    val ranges = LayoutOps.fileZRanges(spark, dir)
    // aligned quadrant a in [1024,2047], b in [2048,3071]: contiguous
    // morton range, 1/16 of the grid area
    val zLo = LayoutOps.mortonKey2Local(1024L, 2048L)
    val zHi = LayoutOps.mortonKey2Local(2047L, 3071L)
    val hit = ranges.filter { case (_, lo, hi) => hi >= zLo && lo <= zHi }
    val boxRows = spark.read.parquet(hit.map(_._1): _*)
      .filter(col("a").between(1024, 2047) && col("b").between(2048, 3071))
      .count()
    val fullRows = spark.read.parquet(dir)
      .filter(col("a").between(1024, 2047) && col("b").between(2048, 3071))
      .count()
    require(boxRows == fullRows,
      s"pruned scan dropped rows: $boxRows != $fullRows")
    println(f"""{"example":"zorder","rows":$rows,"files":${ranges.size},"files_hit":${hit.size},"hit_fraction":${hit.size.toDouble / ranges.size}%.4f,"box_rows":$boxRows,"write_sec":$writeSec%.3f}""")
  }
}
