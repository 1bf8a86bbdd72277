package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.functions._

/** Scale soaks and exhibits, run as `graft.Cli soak <name> [sizes]
  * [args]`: each generates its corpus in-executor, runs one operator
  * family at volume, checks the family's scale claim (linear candidate
  * volume, flat state, exact results) and prints one JSON line. SCALE.md
  * cites their output. Most rows take a comma list of sizes and run once
  * per size; the rest read their own parameters from `sizes` and `args`.
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
    perSize("soak", "1000000")(dedupSoak),
    perSize("exact-dedup", "1000000")(exactDedupSoak),
    perSize("soak-passage", "100000,1000000")(passageSoak),
    perSize("soak-mix", "1000000,4000000")(mixSoak),
    perSize("soak-ann", "100000,1000000")(annSoak),
    perSize("soak-tokenize", "100000,1000000")(tokenizeSoak),
    // sizes are total users; the first extra argument is the fixed
    // active-user count
    Soak("soak-funnel", "200000,2000000", (spark, s, rest) =>
      longs(s).foreach(n => funnelSoak(spark, n.toInt,
        rest.headOption.fold(20000)(_.toInt)))),
    perSize("soak-attrib", "100000,1000000")(attribSoak),
    perSize("soak-maintain", "1000000,4000000")(maintainSoak),
    perSize("soak-simjoin", "100000,1000000")(simjoinSoak),
    perSize("soak-cosjoin", "100000,1000000")(cosjoinSoak),
    perSize("soak-triangles", "100000,1000000")(triangleSoak),
    perSize("soak-knn", "100000,1000000")(knnSoak),
    perSize("soak-walks", "100000,1000000")(walksSoak),
    perSize("soak-cooc", "100000,1000000")(coocSoak),
    perSize("soak-quantile", "10000000,40000000")(quantileSoak),
    withParams("soak-ksweep", "10000000,12")((spark, a) => // n, trials
      ksweepSoak(spark, a(0).toLong, a(1).toInt)),
    perSize("soak-train", "200000,1000000")((spark, n) => trainSoak(spark, n.toInt)),
    perSize("soak-cusum", "10000000")(cusumShuffleSoak),
    perSize("soak-tokenize-bert", "1000000")(bertTokenizeSoak),
    perSize("soak-drift", "10000000,20000000")(driftShuffleSoak),
    perSize("soak-pack", "4000000")(packSoak),
    perSize("soak-pretrain", "5000000")(pretrainSoak),
    withParams("wordpiece-chained-probe", "4096,64,1000000,50000")((spark, a) =>
      wordpieceChainedProbe(spark, a(0).toInt, a(1).toInt, a(2).toLong, a(3).toInt)),
    withParams("soak-train-sampled", "2000000")((spark, a) =>
      Seq(1000, 500, 250, 125).foreach(trainSampledSoak(spark, a(0).toInt, _))),
    // the global-window reference runs at the first size only
    Soak("soak-gridrank", "10000000,40000000", (spark, s, _) =>
      longs(s).zipWithIndex.foreach { case (n, i) =>
        gridRankSoak(spark, n, compareGlobal = i == 0)
      }),
    perSize("soak-crawl", "400000")(crawlSoak),
    withParams("zorder", "4000000,64")((spark, a) => // rows, files
      zorderExhibit(spark, a(0).toLong, a(1).toInt)),
    withParams("bpe-approx", "4096,64")((spark, a) => // merges, topK
      bpeApproxExhibit(spark, a(0).toInt, a(1).toInt)),
    withParams("wordpiece", "256,64")((spark, a) =>
      wordpieceExhibit(spark, a(0).toInt, a(1).toInt)),
    withParams("bpe", "512,256")((spark, a) =>
      bpeExhibit(spark, a(0).toInt, a(1).toInt)))

  /** Shuffle records written by the stages that run inside `body`. */
  private def withShuffleRecords[A](spark: SparkSession)(body: => A): (A, Long) = {
    val records = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        records.addAndGet(e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try { val a = body; GraftShims.drainListenerBus(sc); (a, records.get()) }
    finally sc.removeSparkListener(listener)
  }

  /** Exact-dedup throughput: `nDocs` synthetic ~135-char docs with a 50%
    * duplicate rate (id mod nDocs/2), generated in-executor. Measures the
    * dedup module's steady-state core: hash + map-side partial group +
    * 8-byte-key shuffle (full documents never shuffle). */
  private def exactDedupSoak(spark: SparkSession, nDocs: Long): Unit = {
    def docsDf = spark.range(nDocs).toDF("doc_id")
      .withColumn("text", concat_ws(" ", (0 until 8).map(i =>
        hex(xxhash64(pmod(col("doc_id"), lit(math.max(nDocs / 2, 1L))) +
          lit(i * 1000000L)))): _*))
    graft.ops.DedupOps.exactDedup(docsDf.limit((nDocs / 100).toInt))
      .write.format("noop").mode("overwrite").save() // warm-up
    val t1 = System.nanoTime()
    graft.ops.DedupOps.exactDedup(docsDf)
      .write.format("noop").mode("overwrite").save()
    val dsec = (System.nanoTime() - t1) / 1e9
    println(f"""{"example":"exact_dedup","docs":$nDocs,"sec":$dsec%.3f,"docs_per_sec":${nDocs / dsec}%.0f}""")
  }

  /** Planted-near-dup synthetic corpus of the dedup and similarity-join
    * soaks: 13-word docs (12 id-derived hash words + an
    * orig/variant marker); every 4th doc copies its predecessor with the
    * final marker word changed → 10 of the 12 3-shingles shared, jaccard
    * 10/12 ≈ 0.833, comfortably above the 0.5 threshold. The per-word
    * offset stride is 2⁴⁰ — far above any reachable doc id — so word
    * hashes can never alias across documents (a 7×10⁶ stride planted
    * unintended near-dups past 7M docs). */
  private def nearDupDocs(spark: SparkSession, n: Long) = {
    spark.range(n).toDF("doc_id")
      .withColumn("base", when(col("doc_id") % 4 === 3, col("doc_id") - 1)
        .otherwise(col("doc_id")))
      .withColumn("text", concat_ws(" ",
        ((0 until 12).map(i => hex(xxhash64(col("base") + lit(i.toLong << 40))))
          :+ when(col("doc_id") % 4 === 3, lit("variant")).otherwise(lit("orig"))): _*))
      .drop("base")
  }

  /** Exact-similarity-join soak on the planted near-dup corpus: every
    * 4th doc is its predecessor with one word changed (3-shingle
    * Jaccard 10/12 ≈ 0.833 > 0.8). Reports candidate volume (the
    * pruning bound), verified pairs (exactly n/4 — recall 1.0 by
    * construction), and throughput. */
  private def simjoinSoak(spark: SparkSession, nDocs: Long): Unit = {
    val docs = nearDupDocs(spark, nDocs)
    val t0 = System.nanoTime()
    val (cand, res) = graft.ops.DedupOps.jaccardJoinInternals(
      docs, 0.8, 3, "text", "doc_id")
    val nCand = cand.count()
    val nRes = res.count()
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"""{"example":"simjoin_soak","docs":$nDocs,"candidates":$nCand,"cand_per_doc":${nCand.toDouble / nDocs}%.3f,"pairs":$nRes,"expected_pairs":${nDocs / 4},"sec":$sec%.3f,"docs_per_sec":${nDocs / sec}%.0f}""")
  }

  /** Binary-cosine-join soak on the SAME planted corpus as
    * [[simjoinSoak]]: cosine's tau²-scaled prefixes are LONGER than
    * Jaccard's at equal tau (the looser metric's price), so the claim
    * under test is that candidates still stay ~linear in docs and the
    * planted pairs (n/4) are recalled exactly. */
  private def cosjoinSoak(spark: SparkSession, nDocs: Long): Unit = {
    val docs = nearDupDocs(spark, nDocs)
    val t0 = System.nanoTime()
    val (cand, res) = graft.ops.DedupOps.cosineJoinInternals(
      docs, 0.85, 3, "text", "doc_id")
    val nCand = cand.count()
    val nRes = res.count()
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"""{"example":"cosjoin_soak","docs":$nDocs,"candidates":$nCand,"cand_per_doc":${nCand.toDouble / nDocs}%.3f,"pairs":$nRes,"expected_pairs":${nDocs / 4},"sec":$sec%.3f,"docs_per_sec":${nDocs / sec}%.0f}""")
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
      def once(): Double = {
        val t0 = System.nanoTime()
        spark.sql("SELECT g, percentile(v, 0.99) AS p FROM qsoak GROUP BY g")
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
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

  /** The training soaks' n-doc separable corpus, generated IN-ENGINE
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

  /** Training soak: on the [[separableDocs]] corpus, train 8
    * rounds at dim=64, report feature-build and per-round gradient
    * time, and require 100% accuracy. The scaling claim under test:
    * each round is ONE map-side-combined dim+1-key aggregate over the
    * persisted feature relation, so s/round grows linearly with the
    * corpus and the model-sized collect is constant. */
  private def trainSoak(spark: SparkSession, n: Int): Unit = {
    val docs = separableDocs(spark, n)
    val t0 = System.nanoTime()
    val wq = graft.ops.TrainOps.trainLr(docs, col("y"), dim = 64,
      rounds = 8, lrNum = 10L, lrDen = 1L)
    val trainS = (System.nanoTime() - t0) / 1e9
    val acc = graft.ops.TrainOps.lrScore(docs, col("y"), wq)
      .agg(avg((col("pred").cast("long") === col("y")).cast("double")))
      .head().getDouble(0)
    require(acc == 1.0, s"separable corpus must train to 100%, got $acc")
    println(f"""{"example":"train_soak","docs":$n,"rounds":8,"train_sec":$trainS%.2f,"sec_per_round":${trainS / 8}%.2f,"acc":$acc}""")
  }

  /** Streaming CUSUM shuffle soak: n raw events, 100 series × 30 day
    * buckets, driven through the one-shot parquet AvailableNow pattern
    * (the driver-shaped ingest). With [[graft.streaming.CusumStream]]'s
    * folded per-partition combine the series-key exchange carries
    * (partition, series, day) PARTIALS — shuffled records must stay
    * O(partitions × series × days), independent of n — and the emitted
    * day sums must still be EXACT. */
  private def cusumShuffleSoak(spark: SparkSession, n: Long): Unit = {
    import spark.implicits._
    val DayUs = 86400000000L
    val dir = java.nio.file.Files.createTempDirectory("graft-cusum-soak")
    // series = id mod 100, day = (id div 100) mod 30 — decorrelated, so
    // every series sees all 30 days (id mod 100 and id mod 30 share
    // factor 10 and would give each series only 3 distinct days)
    val ev = spark.range(n).select(
        concat(lit("s"), (col("id") % 100L).cast("string")).as("series"),
        (((col("id") / 100L).cast("long") % 30L) * DayUs +
          (col("id") % 86400L) * 1000L + 1L).as("ts_us"),
        lit(1L).as("inc"))
      .union(Seq(("zz", 40L * DayUs, 1L)).toDF("series", "ts_us", "inc"))
    ev.write.mode("overwrite").parquet(dir.toString)
    val (sec, shuffled) = withShuffleRecords(spark) {
      val t0 = System.nanoTime()
      implicit val s: SparkSession = spark
      val src = spark.readStream
        .schema("series STRING, ts_us LONG, inc LONG")
        .parquet(dir.toString)
        .withColumn("et", timestamp_micros(col("ts_us")))
        .withWatermark("et", "0 seconds")
        .as[graft.streaming.CusumStream.CusumEvent]
      val q = graft.streaming.CusumStream
        .cusumShiftStream(src, refDays = 7, slackPermille = 0L,
          hPermille = 1000000L)
        .writeStream.outputMode("append").format("memory")
        .queryName("cusum_soak")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(600000)
      (System.nanoTime() - t0) / 1e9
    }
    val out = spark.table("cusum_soak")
    val got = out.agg(count(lit(1)), sum("x")).head()
    val (rows, sumX) = (got.getLong(0), got.getLong(1))
    // exactness at volume: emitted day sums == the per-(series, day)
    // event counts for the post-reference days (7 ref days consumed)
    val want = ev.filter(col("series") =!= "zz")
      .withColumn("d", expr(s"ts_us div ${DayUs}L"))
      .groupBy("series", "d").agg(count(lit(1)).as("c"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("series")
          .orderBy("d")))
      .filter(col("rk") > 7)
      .agg(count(lit(1)), sum("c")).head()
    require(rows == want.getLong(0) && sumX == want.getLong(1),
      s"stream drifted from exact: got ($rows, $sumX), " +
        s"want (${want.getLong(0)}, ${want.getLong(1)})")
    val ratio = shuffled.toDouble / n
    println(f"""{"example":"cusum_shuffle_soak","events":$n,"emitted_days":$rows,"shuffled_records":$shuffled,"shuffle_ratio":$ratio%.6f,"sec":$sec%.1f}""")
  }

  /** Drift-monitor shuffle soak — the [[cusumShuffleSoak]] discipline
    * with the WIDER (series × day × bin) key: n raw binned events over
    * (1000 series × 20 event-time days × 32 bins) through
    * [[graft.streaming.DriftStream.chi2DriftStream]]. Day is contiguous
    * in the id (each input partition holds ~1 day), so the per-
    * partition fold's output is cell-bounded: shuffled records must
    * stay ~(partitions-local cells), FLAT as n grows — run two sizes
    * and compare. Exactness at volume: the emitted scored-day totals
    * must equal the exact per-(series, day) event counts beyond the
    * reference window. */
  private def driftShuffleSoak(spark: SparkSession, n: Long): Unit = {
    import spark.implicits._
    val DayUs = 86400000000L
    val nSeries = 1000L
    val nDays = 20L
    val nBins = 32
    val refDays = 7
    val dir = java.nio.file.Files.createTempDirectory("graft-drift-soak")
    // day = contiguous id block (partition-local); series = id mod 1000
    // (every partition sees every series); bin = (id div 1000) mod 32
    // (decorrelated from series — 1000 and 32 share no useful factor
    // at the div-1000 granularity)
    val perDay = n / nDays
    val ev = spark.range(n).select(
        concat(lit("s"), (col("id") % nSeries).cast("string")).as("series"),
        ((col("id") / perDay).cast("long") * DayUs +
          (col("id") % 86400L) * 1000L + 1L).as("ts_us"),
        ((col("id") / nSeries).cast("long") % nBins).cast("int").as("bin"),
        lit(1L).as("inc"))
      .union(Seq(("zz", 40L * DayUs, 0, 1L))
        .toDF("series", "ts_us", "bin", "inc"))
    ev.write.mode("overwrite").parquet(dir.toString)
    val (sec, shuffled) = withShuffleRecords(spark) {
      val t0 = System.nanoTime()
      implicit val s: SparkSession = spark
      val src = spark.readStream
        .schema("series STRING, ts_us LONG, bin INT, inc LONG")
        .parquet(dir.toString)
        .withColumn("et", timestamp_micros(col("ts_us")))
        .withWatermark("et", "0 seconds")
        .as[graft.streaming.DriftStream.DriftEvent]
      val q = graft.streaming.DriftStream
        .chi2DriftStream(src, nBins = nBins, refDays = refDays,
          alarmE6 = Long.MaxValue / 4)
        .writeStream.outputMode("append").format("memory")
        .queryName("drift_soak")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(600000)
      (System.nanoTime() - t0) / 1e9
    }
    val out = spark.table("drift_soak")
    val got = out.agg(count(lit(1)), sum("n")).head()
    val (rows, sumN) = (got.getLong(0), got.getLong(1))
    // scored days = finalized days beyond the per-series reference
    // window; their emitted n must be the exact event count
    val want = ev.filter(col("series") =!= "zz")
      .withColumn("d", expr(s"ts_us div ${DayUs}L"))
      .groupBy("series", "d").agg(count(lit(1)).as("c"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("series")
          .orderBy("d")))
      .filter(col("rk") > refDays)
      .agg(count(lit(1)), sum("c")).head()
    require(rows == want.getLong(0) && sumN == want.getLong(1),
      s"stream drifted from exact: got ($rows, $sumN), " +
        s"want (${want.getLong(0)}, ${want.getLong(1)})")
    val ratio = shuffled.toDouble / n
    println(f"""{"example":"drift_shuffle_soak","events":$n,"series":$nSeries,"days":$nDays,"bins":$nBins,"scored_days":$rows,"shuffled_records":$shuffled,"shuffle_ratio":$ratio%.6f,"sec":$sec%.1f}""")
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
    val rnd = new scala.util.Random(42)
    val vocab = (0 until vocabSize).map { _ =>
      Seq.fill(2 + rnd.nextInt(11))(('a' + rnd.nextInt(26)).toChar).mkString
    }.distinct
    val vb = spark.sparkContext.broadcast(vocab.toIndexedSeq)
    // Zipf-ish rank: square a uniform to concentrate mass at low ranks
    // while keeping FULL tail support (the tokenizeSoak sampler) — a
    // 1/(r·(r+1)) head would leave the observed dictionary thousands of
    // words small and the trainer exhausts it before nMerges
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
    val t0 = System.nanoTime()
    val res = graft.ops.BpeOps.trainWordpieceChained(docs, nMerges,
      topK = topK)
    val sec = (System.nanoTime() - t0) / 1e9
    val red = res.merges.size.toDouble / res.rounds
    println(f"""{"example":"wordpiece_chained_probe","docs":$nDocs,"vocab_pool":${vocab.size},"distinct_words":$observed,"merges":${res.merges.size},"topK":$topK,"rounds":${res.rounds},"round_reduction":$red%.2f,"nbr_overflow_rounds":${res.nbrOverflowRounds},"sec":$sec%.1f}""")
  }

  /** Sampled-round training soak: the [[trainSoak]] corpus at fixed n,
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
    val t0 = System.nanoTime()
    val wq = graft.ops.TrainOps.trainLr(docs, col("y"), dim = 64,
      rounds = 8, lrNum = 10L, lrDen = 1L, sampleMilli = sampleMilli)
    val trainS = (System.nanoTime() - t0) / 1e9
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
    def time[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }
    // gini: grid form
    val (gRow, gSec) = time(
      graft.ops.ProfileOps.giniIndex(df, col("v")).collect()(0))
    var gRefSec = -1.0
    if (compareGlobal) {
      val g = df.select(col("v")).groupBy("v").agg(count(lit(1)).as("cnt"))
      val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
      val cum = g.withColumn("cb",
        coalesce(sum(col("cnt")).over(w), lit(0L)))
      val (ref, s) = time(cum.agg(
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
    val (qSum, qSec) = time(
      graft.ops.PipelineOps.quantileNormalize(df, "grp", "v", "doc_id")
        .agg(sum(col("norm_score")), count(lit(1))).collect()(0))
    // fdHistogram: grid exact quartiles at all-distinct values — the
    // shape where the old global row_number rank was one task sorting
    // the whole corpus (and was hard-capped at 2^31 rows)
    val (fdRows, fdSec) = time(
      graft.ops.ProfileOps.fdHistogram(df, col("v")).collect())
    require(fdRows.map(_.getLong(1)).sum == n,
      s"fdHistogram lost rows: ${fdRows.map(_.getLong(1)).sum} != $n")
    var fdRefSec = -1.0
    if (compareGlobal) {
      val (r1, r3) = ((n + 3) / 4, (3 * n + 3) / 4)
      val (qs, s) = time(df.select(col("v"))
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

  /** Triangle-count soak on a hub-planted synthetic graph: ring + two
    * hash chords (~3 edges/node) + one hub wired to every 20th node.
    * The point measured: the hub's RAW degree grows linearly with n,
    * but after degree orientation its OUT-degree (wedge-apex width)
    * collapses — no n² wedge blowup at the hub. */
  private def triangleSoak(spark: SparkSession, n: Long): Unit = {
    val base = spark.range(1L, n).toDF("id") // node 0 is the hub
    val e1 = base.select(col("id").as("a"), ((col("id") + 1) % n).as("b"))
    val e2 = base.select(col("id").as("a"),
      pmod(xxhash64(col("id")), lit(n)).as("b"))
    val hub = base.filter(col("id") % 20 === 0)
      .select(lit(0L).as("a"), col("id").as("b"))
    val edges = e1.unionByName(e2).unionByName(hub)
    val t0 = System.nanoTime()
    val ord = graft.ops.GraphOps.orientEdges(edges)
    val outdeg = ord.groupBy("src").agg(count(lit(1)).as("od"))
    val Array(maxOut, wedges) = outdeg
      .agg(max(col("od")), sum(col("od") * (col("od") - 1) / 2)).collect()(0)
      .toSeq.map(v => v.toString.toDouble.toLong).toArray
    val hubOut = outdeg.filter(col("src") === 0L).collect()
      .headOption.map(_.getLong(1)).getOrElse(0L)
    val nTri = graft.ops.GraphOps.triangleCounts(edges)
      .agg(coalesce(sum(col("n_tri")), lit(0L))).collect()(0).getLong(0) / 3
    val sec = (System.nanoTime() - t0) / 1e9
    val m = ord.count()
    println(f"""{"example":"triangle_soak","nodes":$n,"edges":$m,"hub_raw_deg":${n / 20},"hub_out_deg":$hubOut,"max_out_deg":$maxOut,"sqrt_m":${math.sqrt(m.toDouble)}%.0f,"wedges":$wedges,"triangles":$nTri,"sec":$sec%.3f}""")
  }

  /** Repeated-passage removal soak: synthetic 12-token docs where 25%
    * embed a 6-token passage drawn from a pool of nDocs/100 shared
    * passages (~25 occurrences each — the cross-document repetition the
    * operator exists for). Reports the occurrence-relation volume
    * (token-volume: Σ per-doc (len − n + 1), the relation that shuffles
    * as 8-byte hashes), end-to-end rewrite time, and docs/s — linear
    * occurrence volume + stable docs/s is the SCALE.md evidence. */
  private def passageSoak(spark: SparkSession, nDocs: Long): Unit = {
    import spark.implicits._
    val pool = math.max(nDocs / 100, 1L)
    def docs = {
      val unique = (0 until 12).map(i =>
        hex(xxhash64(col("doc_id") + lit(i.toLong << 40))))
      val passage = (0 until 6).map(i =>
        hex(xxhash64(pmod(col("doc_id"), lit(pool)) + lit((100 + i).toLong << 41))))
      val tokens = unique.take(3) ++ passage ++ unique.drop(9)
      spark.range(nDocs).toDF("doc_id").withColumn("text",
        when(col("doc_id") % 4 === 3, concat_ws(" ", tokens: _*))
          .otherwise(concat_ws(" ", unique: _*)))
    }
    val n = 5
    // warm codegen on 1%
    graft.ops.DedupOps.passageDedup(docs.limit((nDocs / 100).toInt), n = n)
      .write.format("noop").mode("overwrite").save()
    val occRows = docs.select(
      sum(greatest(size(split(col("text"), " ")) - (n - 1), lit(0))))
      .as[Long].collect()(0)
    val t0 = System.nanoTime()
    val out = graft.ops.DedupOps.passageDedup(docs, n = n)
    out.write.format("noop").mode("overwrite").save()
    val sec = (System.nanoTime() - t0) / 1e9
    val affected = graft.ops.DedupOps.passageDedup(docs, n = n)
      .filter(col("n_removed") > 0).count()
    println(f"""{"example":"passage_soak","docs":$nDocs,"occ_rows":$occRows,"occ_per_doc":${occRows.toDouble / nDocs}%.2f,"rewrite_sec":$sec%.3f,"docs_per_sec":${nDocs / sec}%.0f,"docs_rewritten":$affected}""")
  }

  /** Attribution-credit conservation + bot-bounded window work at soak
    * scale: every conversion distributes exactly 1.0 of linear credit
    * and exactly one first/last touch, so channel sums must land on the
    * conversion count — asserted, not assumed. The planted bot user
    * carries ~21.6k in-window impressions before one purchase; the
    * 20-touch lookback cap bounds the credited set (spec-pinned
    * semantics), and the per-conversion window sort stays bounded, so
    * wall time tracks USERS, not the bot's fan-in. */
  private def attribSoak(spark: SparkSession, nUsers: Long): Unit = {
    import graft.ops.FunnelOps
    val base = 1700000000L
    def ts(c: org.apache.spark.sql.Column) = timestamp_seconds(lit(base) + c)
    val normalImps = spark.range(nUsers).toDF("u")
      .select(col("u").as("user_id"),
        explode(sequence(lit(0L), lit(3L))).as("k"))
      .select(col("user_id"), ts(col("k")).as("imp_ts"),
        (col("user_id") * 10L + col("k") + 1000000L).as("imp_id"))
    val botImps = spark.range(50000L).toDF("j")
      .select(lit(nUsers).as("user_id"), ts(col("j")).as("imp_ts"),
        (col("j") + 900000000L).as("imp_id"))
    val imps = normalImps.unionByName(botImps)
    val convs = spark.range(nUsers + 1).toDF("u")
      .select(col("u").as("user_id"),
        ts(when(col("u") === nUsers, 50010L).otherwise(100L)).as("conv_ts"),
        (col("u") + 5000000L).as("conv_id"))
    val t0 = System.nanoTime()
    val pairs = graft.streaming.StreamingHist.attributionJoin(
      imps, convs, "user_id", "imp_ts", "conv_ts", "6 hours")
    val out = FunnelOps.attributionCredit(pairs, "conv_id", "imp_id",
      "imp_ts", channel = pmod(col("imp_id"), lit(8L))).collect()
    val sec = (System.nanoTime() - t0) / 1e9
    val nConvs = nUsers + 1
    val (fSum, lSum, linSum, posSum) = (out.map(_.getLong(1)).sum,
      out.map(_.getLong(2)).sum, out.map(_.getDouble(3)).sum,
      out.map(_.getDouble(4)).sum)
    require(fSum == nConvs && lSum == nConvs,
      s"first/last conservation broke: $fSum/$lSum vs $nConvs")
    require(math.abs(linSum - nConvs) < 0.01,
      s"linear credit conservation broke: $linSum vs $nConvs")
    require(math.abs(posSum - nConvs) < 0.01,
      s"position credit conservation broke: $posSum vs $nConvs")
    val nPairs = pairs.count()
    println(f"""{"example":"attrib_soak","users":$nUsers,"bot_inwindow_imps":21601,"pairs":$nPairs,"sec":$sec%.3f,"pairs_per_sec":${nPairs / sec}%.0f,"first_sum":$fSum,"last_sum":$lSum,"linear_sum":$linSum%.4f,"conserved":true}""")
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
    val t0 = System.nanoTime()
    val recomputed = viewOf(graft.ops.PipelineOps.snapshotAgg(
      spark.read.parquet(newDir), "source", col("m")))
    val secFull = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val maintained = viewOf(graft.ops.PipelineOps.maintainAgg(
      spark.read.parquet(baseDir), changes))
    val secDelta = (System.nanoTime() - t1) / 1e9
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

  /** Token-budget mix soak on a SKEWED corpus (95% of docs in one "en"
    * domain): with the two-phase bucketed prefix sum, per-task window
    * work is bounded by the largest (group, bucket) cell — reported as
    * max/mean cell rows (flat ≈ uniform hash spread) — instead of one
    * window partition holding the whole giant domain. */
  private def mixSoak(spark: SparkSession, nDocs: Long): Unit = {
    import spark.implicits._
    val langs = Seq("de", "fr", "ja", "sw")
    def docs = spark.range(nDocs).toDF("doc_id")
      .withColumn("lang", when(col("doc_id") % 20 < 19, lit("en"))
        .otherwise(element_at(array(langs.map(lit): _*),
          (pmod(expr("doc_id div 20"), lit(4)) + 1).cast("int"))))
      .withColumn("text", concat_ws(" ", (0 until 10).map(i =>
        hex(xxhash64(col("doc_id") + lit(i.toLong << 40)))): _*))
    // targets: half the giant domain's tokens, all of a small one's
    val targets = Map("en" -> nDocs / 2 * 10, "de" -> nDocs / 80 * 10,
      "fr" -> 1000L, "ja" -> 0L)
    val buckets = 64
    graft.ops.PipelineOps.tokenBudgetMix(
        docs.limit((nDocs / 100).toInt), targets, buckets = buckets)
      .write.format("noop").mode("overwrite").save()
    val t0 = System.nanoTime()
    graft.ops.PipelineOps.tokenBudgetMix(docs, targets, buckets = buckets)
      .write.format("noop").mode("overwrite").save()
    val sec = (System.nanoTime() - t0) / 1e9
    val kept = graft.ops.PipelineOps.tokenBudgetMix(docs, targets,
      buckets = buckets)
    val keptTok = kept.groupBy("lang").agg(sum("n_tok").as("tok"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // per-(group, bucket) cell sizes, replicating the operator's
    // bucketing arithmetic: a window task sorts ONE cell, so the flat-
    // work evidence is max_cell ≈ giant_domain/buckets, never ≈ domain
    val width = graft.ops.PipelineOps.ShufflePrime / buckets + 1
    val cells = docs
      .withColumn("__k", graft.ops.PipelineOps.epochShuffleKey(col("doc_id"), 42L))
      .withColumn("__b", expr(s"__k DIV ${width}L"))
      .groupBy("lang", "__b").count()
    val mx = cells.agg(max("count")).as[Long].collect()(0)
    val enRows = docs.filter(col("lang") === "en").count()
    println(f"""{"example":"mix_soak","docs":$nDocs,"skew_en_frac":0.95,"sec":$sec%.3f,"docs_per_sec":${nDocs / sec}%.0f,"giant_domain_rows":$enRows,"buckets":$buckets,"max_cell_rows":$mx,"max_cell_frac_of_domain":${mx.toDouble / enRows}%.4f,"kept_tokens_en":${keptTok.getOrElse("en", 0L)},"kept_tokens_de":${keptTok.getOrElse("de", 0L)}}""")
  }

  /** Tokenizer-apply soak: 20-word docs over a Zipf-ish shared
    * vocabulary (pool of ~nDocs/100 hex words, density ∝ rank^(-1/2) via
    * the u² trick), tokenized with a merge list trained ONCE on a 1%
    * sample — the production shape: train once, apply to every snapshot.
    * Reports the two volumes the [[graft.ops.BpeOps.tokenize]] scale
    * argument rests on: the distinct-word working set (all the merge
    * rewrite ever touches — pool-bounded, NOT corpus-bounded) vs the
    * emitted token relation (linear in corpus), plus docs/s. */
  private def tokenizeSoak(spark: SparkSession, nDocs: Long): Unit = {
    import spark.implicits._
    val pool = math.max(nDocs / 100, 1000L)
    def docs = spark.range(nDocs).toDF("doc_id")
      .withColumn("text", concat_ws(" ", (0 until 20).map { i =>
        // Zipf-ish rank: square a uniform [0,1) to concentrate mass at
        // low ranks, then pick the rank-th pool word
        val u = pmod(xxhash64(col("doc_id") + lit(i.toLong << 40)),
          lit(1000000L)) / 1000000.0
        hex(xxhash64((u * u * pool).cast("long") + lit(1L << 62)))
      }: _*))
    val merges = graft.ops.BpeOps.trainBatched(
      docs.limit((nDocs / 100).toInt), 48).merges
    // warm codegen on 1%
    graft.ops.BpeOps.tokenize(docs.limit((nDocs / 100).toInt), merges)
      .write.format("noop").mode("overwrite").save()
    val distinctWords = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "").distinct().count()
    val t0 = System.nanoTime()
    val out = graft.ops.BpeOps.tokenize(docs, merges)
    out.write.format("noop").mode("overwrite").save()
    val sec = (System.nanoTime() - t0) / 1e9
    val tokRows = graft.ops.BpeOps.tokenize(docs, merges).count()
    println(f"""{"example":"tokenize_soak","docs":$nDocs,"merges":${merges.size},"distinct_words":$distinctWords,"token_rows":$tokRows,"tokens_per_doc":${tokRows.toDouble / nDocs}%.1f,"sec":$sec%.3f,"docs_per_sec":${nDocs / sec}%.0f,"tokens_per_sec":${tokRows / sec}%.0f}""")
  }

  /** BERT-convention WordPiece apply soak: the [[tokenizeSoak]] corpus
    * and Zipf accounting pointed at
    * [[graft.ops.BpeOps.wordpieceTokenizeBert]] — greedy runs once per
    * DISTINCT word against the broadcast prefix-form vocabulary, corpus
    * rows pay only the word equi-join, so docs/s must hold at the
    * merge-replay soak's order of magnitude. Vocabulary = [UNK] + the
    * corpus hex alphabet (bare + ## forms) + the trained-merge
    * concatenations (bare + ## forms) — full coverage, so the [UNK]
    * path stays cold and the greedy scan does real work on every
    * word. */
  private def bertTokenizeSoak(spark: SparkSession, nDocs: Long): Unit = {
    import spark.implicits._
    val pool = math.max(nDocs / 100, 1000L)
    def docs = spark.range(nDocs).toDF("doc_id")
      .withColumn("text", concat_ws(" ", (0 until 20).map { i =>
        val u = pmod(xxhash64(col("doc_id") + lit(i.toLong << 40)),
          lit(1000000L)) / 1000000.0
        hex(xxhash64((u * u * pool).cast("long") + lit(1L << 62)))
      }: _*))
    val merges = graft.ops.BpeOps.trainBatched(
      docs.limit((nDocs / 100).toInt), 48).merges
    val vocab = graft.ops.BpeOps.bertVocabFromMerges(merges,
      "0123456789ABCDEF".map(_.toString))
    // warm codegen on 1%
    graft.ops.BpeOps.wordpieceTokenizeBert(
        docs.limit((nDocs / 100).toInt), vocab)
      .write.format("noop").mode("overwrite").save()
    val distinctWords = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "").distinct().count()
    val t0 = System.nanoTime()
    graft.ops.BpeOps.wordpieceTokenizeBert(docs, vocab)
      .write.format("noop").mode("overwrite").save()
    val sec = (System.nanoTime() - t0) / 1e9
    val agg = graft.ops.BpeOps.wordpieceTokenizeBert(docs, vocab)
      .agg(count(lit(1)), sum((col("token") ===
        graft.ops.BpeOps.WpBertUnk).cast("long"))).head()
    val (tokRows, unkRows) = (agg.getLong(0), agg.getLong(1))
    println(f"""{"example":"bert_tokenize_soak","docs":$nDocs,"vocab":${vocab.size},"distinct_words":$distinctWords,"token_rows":$tokRows,"unk_rows":$unkRows,"tokens_per_doc":${tokRows.toDouble / nDocs}%.1f,"sec":$sec%.3f,"docs_per_sec":${nDocs / sec}%.0f,"tokens_per_sec":${tokRows / sec}%.0f}""")
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

  /** k-NN-graph soak: synthetic 64-dim corpus; cell count scales with n
    * (target occupancy ~1000 vectors/cell) as a production quantizer
    * would, so candidate volume per node — the quantity that shuffles —
    * must stay flat while the corpus grows 10×. Candidates are computed
    * exactly as Σ_cells corpusCount(c)·probeCount(c), the size of the
    * cell equi-join [[graft.ops.SimilarityOps.knnGraph]] executes. */
  private def knnSoak(spark: SparkSession, n: Long): Unit = {
    val dim = 64
    val corpus = spark.range(n).toDF("vec_id")
      .withColumn("embedding", expr(
        s"transform(sequence(0, ${dim - 1}), i -> " +
          s"CAST(CAST(pmod(xxhash64(vec_id + i * 1000003L), 2000001) " +
          s"- 1000000 AS FLOAT) / 1000000.0 AS FLOAT))"))
    val nCells = math.max(16L, n / 1000L).toInt
    val cents = graft.ops.SimilarityOps.seededCentroids(nCells, dim)
    val nprobe = 4
    // warm codegen on 1%
    graft.ops.SimilarityOps.knnGraph(corpus.limit((n / 100).toInt), dim,
      k = 5, nCentroids = nCells, nprobe = nprobe,
      centroids = Some(cents))
      .write.format("noop").mode("overwrite").save()
    val t0 = System.nanoTime()
    graft.ops.SimilarityOps.knnGraph(corpus, dim, k = 5,
      nCentroids = nCells, nprobe = nprobe, centroids = Some(cents))
      .write.format("noop").mode("overwrite").save()
    val sec = (System.nanoTime() - t0) / 1e9
    val cc = corpus.select(element_at(
        graft.functions.NearestCentroid(col("embedding"), cents, 1), 1)
        .as("cell")).groupBy("cell").count()
    val pc = corpus.select(explode(
        graft.functions.NearestCentroid(col("embedding"), cents, nprobe))
        .as("cell")).groupBy("cell").count()
    val cand = cc.withColumnRenamed("count", "nc")
      .join(pc.withColumnRenamed("count", "np"), Seq("cell"))
      .agg(sum(col("nc") * col("np"))).collect()(0).getLong(0)
    println(f"""{"example":"knn_soak","vectors":$n,"dim":$dim,"cells":$nCells,"nprobe":$nprobe,"candidates":$cand,"cand_per_node":${cand.toDouble / n}%.1f,"sec":$sec%.3f,"nodes_per_sec":${n / sec}%.0f}""")
  }

  /** Embedding-search soak: synthetic 64-dim unit-ish vectors (uniform
    * [-1, 1] lanes from xxhash64 — the worst case for IVF, since real
    * clustered data concentrates probes), 256 queries. Measures IVF and
    * LSH top-k wall-clock/QPS and the two volumes the SCALE.md
    * accounting bounds: the per-cell population spread (max/mean — one
    * re-rank join partition per cell) and the SemDedup pair term
    * Σ|cell|² relative to n². */
  private def annSoak(spark: SparkSession, n: Long): Unit = {
    import spark.implicits._
    val dim = 64
    def vecs(num: Long, off: Long) = spark.range(num).toDF("vec_id")
      .withColumn("embedding", expr(
        s"transform(sequence(0, ${dim - 1}), i -> " +
          s"CAST(CAST(pmod(xxhash64(vec_id + $off + i * 1000003L), 2000001) " +
          s"- 1000000 AS FLOAT) / 1000000.0 AS FLOAT))"))
    def corpus = vecs(n, 0L)
    val queries = vecs(256L, 1L << 40)
    // warm
    graft.ops.SimilarityOps.ivfTopK(queries, corpus.limit((n / 100).toInt),
      dim, 5).write.format("noop").mode("overwrite").save()
    val t0 = System.nanoTime()
    graft.ops.SimilarityOps.ivfTopK(queries, corpus, dim, 5)
      .write.format("noop").mode("overwrite").save()
    val ivfSec = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    graft.ops.SimilarityOps.annTopK(queries, corpus, dim, 5)
      .write.format("noop").mode("overwrite").save()
    val lshSec = (System.nanoTime() - t1) / 1e9
    // IVF+PQ split the honest way: the encode pass runs ONCE (index
    // build, amortized over every future batch); query time touches
    // codes only
    val pqDir = java.nio.file.Files.createTempDirectory("graft-pq-soak").toString
    val tb = System.nanoTime()
    graft.ops.SimilarityOps.writePqIndex(
      graft.ops.SimilarityOps.buildPqIndex(corpus, dim), pqDir)
    val buildSec = (System.nanoTime() - tb) / 1e9
    val idx = graft.ops.SimilarityOps.readPqIndex(spark, pqDir)
    graft.ops.SimilarityOps.pqTopKIndexed(queries, idx, 5)
      .write.format("noop").mode("overwrite").save() // warm
    val t2 = System.nanoTime()
    graft.ops.SimilarityOps.pqTopKIndexed(queries, idx, 5)
      .write.format("noop").mode("overwrite").save()
    val ivfpqSec = (System.nanoTime() - t2) / 1e9
    // the byte story (what PQ is FOR at 100 TB): index bytes vs raw vectors
    val rawDir = java.nio.file.Files.createTempDirectory("graft-raw-soak").toString
    corpus.write.mode("overwrite").parquet(s"$rawDir/raw")
    def dirBytes(p: String): Long = {
      val root = new java.io.File(p)
      def walk(f: java.io.File): Long =
        if (f.isFile) f.length
        else Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
      walk(root)
    }
    val idxBytes = dirBytes(s"$pqDir/data")
    val rawBytes = dirBytes(s"$rawDir/raw")
    val cents = graft.ops.SimilarityOps.seededCentroids(16, dim)
    val cells = corpus.select(element_at(
        graft.functions.NearestCentroid(col("embedding"), cents, 1), 1)
        .as("cell"))
      .groupBy("cell").count()
      .agg(max("count").as("mx"), avg("count").as("mean"),
        sum(col("count") * col("count")).as("sq"))
      .collect()(0)
    val (mx, mean, sq) = (cells.getLong(0), cells.getDouble(1), cells.getLong(2))
    println(f"""{"example":"ann_soak","vectors":$n,"dim":$dim,"queries":256,"ivf_sec":$ivfSec%.3f,"ivf_qps":${256 / ivfSec}%.1f,"lsh_sec":$lshSec%.3f,"lsh_qps":${256 / lshSec}%.1f,"pq_build_sec":$buildSec%.3f,"ivfpq_query_sec":$ivfpqSec%.3f,"ivfpq_qps":${256 / ivfpqSec}%.1f,"pq_index_mb":${idxBytes / 1048576.0}%.1f,"raw_mb":${rawBytes / 1048576.0}%.1f,"bytes_ratio":${rawBytes.toDouble / idxBytes}%.1f,"cells":16,"max_cell":$mx,"max_over_mean":${mx / mean}%.2f,"semdedup_pair_frac":${sq.toDouble / (n.toDouble * n)}%.4f}""")
  }

  /** Approximate-BPE exhibit: a 20k-word Zipfian vocabulary (large
    * enough to support production-ish merge counts), trainApprox at the
    * requested vocab size — the claim under test is the accepted
    * merges/round (how far symbol-conflict skipping erodes the ideal
    * nMerges/topK) — plus merge-set overlap vs the EXACT batched mode
    * at a 512-merge prefix (where exact is affordable to run). */
  private def bpeApproxExhibit(spark: SparkSession, nMerges: Int,
      topK: Int): Unit = {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val vocab = (0 until 20000).map { _ =>
      Seq.fill(2 + rnd.nextInt(11))(('a' + rnd.nextInt(26)).toChar).mkString
    }.distinct
    val docs = vocab.zipWithIndex.map { case (w, rank) =>
      (rank.toLong, ((w + " ") * math.max(1, 5000 / (rank + 1))).trim)
    }.toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val approx = graft.ops.BpeOps.trainApprox(docs, nMerges, topK = topK)
    val sec = (System.nanoTime() - t0) / 1e9
    val prefix = 512
    val t1 = System.nanoTime()
    val exact = graft.ops.BpeOps.trainBatched(docs, prefix, topK = topK)
    val exactSec = (System.nanoTime() - t1) / 1e9
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
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val vocab = (0 until 2000).map { _ =>
      Seq.fill(2 + rnd.nextInt(8))(('a' + rnd.nextInt(26)).toChar).mkString
    }.distinct
    val docs = vocab.zipWithIndex.map { case (w, rank) =>
      (rank.toLong, ((w + " ") * math.max(1, 2000 / (rank + 1))).trim)
    }.toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val seqMerges = graft.ops.BpeOps.train(docs, nMerges)
    val seqSec = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val batched = graft.ops.BpeOps.trainBatched(docs, nMerges, topK = topK)
    val batSec = (System.nanoTime() - t1) / 1e9
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
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val vocab = (0 until 2000).map { _ =>
      Seq.fill(2 + rnd.nextInt(8))(('a' + rnd.nextInt(26)).toChar).mkString
    }.distinct
    val docs = vocab.zipWithIndex.map { case (w, rank) =>
      (rank.toLong, ((w + " ") * math.max(1, 2000 / (rank + 1))).trim)
    }.toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val seqMerges = graft.ops.BpeOps.trainWordpiece(docs, nMerges)
    val seqSec = (System.nanoTime() - t0) / 1e9
    val t3 = System.nanoTime()
    val chained = graft.ops.BpeOps.trainWordpieceChained(docs, nMerges,
      topK = topK)
    val chSec = (System.nanoTime() - t3) / 1e9
    require(chained.merges == seqMerges,
      "chained and sequential WordPiece training diverged")
    val t2 = System.nanoTime()
    val approx = graft.ops.BpeOps.trainWordpieceApprox(docs, nMerges,
      topK = topK)
    val apxSec = (System.nanoTime() - t2) / 1e9
    val overlap = approx.merges.toSet.intersect(seqMerges.toSet)
      .size.toDouble / seqMerges.size
    println(f"""{"example":"wordpiece_batched","merges":${seqMerges.size},"topK":$topK,"seq_rounds":${seqMerges.size},"seq_sec":$seqSec%.3f,"chained_rounds":${chained.rounds},"chained_sec":$chSec%.3f,"chained_reduction":${seqMerges.size.toDouble / chained.rounds}%.2f,"chained_identical":true,"approx_rounds":${approx.rounds},"approx_sec":$apxSec%.3f,"approx_reduction":${approx.merges.size.toDouble / approx.rounds}%.2f,"approx_overlap":$overlap%.3f}""")
  }

  /** Crawl-first-mile soak: generate nPages of synthetic HTML as a
    * mixed plain+gzip WARC dump, then measure the three stages every
    * crawl pipeline runs: (a) payload-skipping metadata scan (column
    * pruning must reach the reader), (b) HTML text extraction + token
    * count, (c) anchor extraction into the host-level link graph.
    * Reported as pages/s per stage; all stages stream bounded-memory. */
  private def crawlSoak(spark: SparkSession, nPages: Long): Unit = {
    import graft.sources.warc.WarcIO
    import graft.ops.TextOps
    val dir = java.nio.file.Files.createTempDirectory("graft-crawl-soak").toString
    val files = 8
    val per = nPages / files
    val t0 = System.nanoTime()
    for (f <- 0 until files) {
      val recs = (0L until per).iterator.map { i =>
        val id = f * per + i
        val t1 = (7 * id + 1) % 1000
        val t3 = (3 * id + 2) % 1000
        val html =
          s"""<html><head><title>p$id</title></head><body>
             |<a href="https://site${t1 % 23}.example.org/doc/$t1">x</a>
             |<a href="/doc/$t3">y</a>
             |<a href="https://cdn${id % 5}.example.net/a.js">z</a>
             |<p>page $id body with some filler tokens word$id alpha beta
             |gamma delta epsilon zeta eta theta</p></body></html>""".stripMargin
        WarcIO.Record(s"<urn:soak:$id>", "response",
          s"https://site${id % 23}.example.org/doc/$id",
          "2020-01-01T00:00:00Z", "text/html", html.getBytes("UTF-8"))
      }
      val ext = if (f % 2 == 0) ".warc" else ".warc.gz"
      WarcIO.writeFile(recs, s"$dir/part-$f$ext")
    }
    val genS = (System.nanoTime() - t0) / 1e9
    def stage(tag: String)(body: => Long): Unit = {
      // two runs, warm minimum: the first stage otherwise pays the page-
      // cache warmup of the whole dump and mis-ranks the stages
      var rows = 0L
      val el = (1 to 2).map { _ =>
        val s0 = System.nanoTime()
        rows = body
        (System.nanoTime() - s0) / 1e9
      }.min
      println(f"soak-crawl n=$nPages $tag%-12s ${el}%7.2f s  " +
        f"${nPages / el / 1000.0}%8.1f kpages/s  (rows=$rows)")
    }
    println(f"soak-crawl n=$nPages generate    $genS%7.2f s")
    stage("meta-scan") {
      graft.sources.Sources.warc(spark, dir).select("url", "content_length")
        .count()
    }
    stage("extract") {
      graft.sources.Sources.warc(spark, dir)
        .select(TextOps.htmlToText(org.apache.spark.sql.functions.col("payload")
          .cast("string")).as("text"))
        .select(TextOps.tokenCount(org.apache.spark.sql.functions.col("text"))
          .as("n_tok"))
        .agg(org.apache.spark.sql.functions.sum("n_tok")).count()
    }
    stage("link-graph") {
      import org.apache.spark.sql.functions._
      val pages = graft.sources.Sources.warc(spark, dir)
        .select(col("url"), col("payload").cast("string").as("html"))
      pages.select(TextOps.urlHost(col("url")).as("src_host"),
          explode(TextOps.hrefs(col("html"))).as("href"))
        .withColumn("dst_host", TextOps.linkHost(col("href"), col("src_host")))
        .filter(col("dst_host").isNotNull)
        .groupBy("src_host", "dst_host").agg(count(lit(1)))
        .count()
    }
  }

  /** Hot-shard packing soak: 95% of the corpus in ONE (lang, source)
    * domain — the web-crawl shape where a per-shard window would sort
    * ~the whole corpus on one reducer (the r6 tokenBudgetMix failure).
    * Runs [[graft.ops.PipelineOps.packTokenIds]] with the ENFORCED
    * id_bucket contract and with the explicit opt-out, asserting
    * (a) slot totals are bucket-invariant (= 9·n: 8 ids + 1 separator
    * per doc) and (b) the largest window cell is bucket-bounded
    * (≤ 1.3 × hot/64 — epochShuffleKey is uniform). */
  private def packSoak(spark: SparkSession, nDocs: Long): Unit = {
    import graft.ops.PipelineOps
    val docs = spark.range(nDocs).select(col("id").as("doc_id"),
      lit("en").as("lang"),
      when(col("id") % 20L =!= 0L, lit("web"))
        .otherwise(concat(lit("src"), pmod(col("id") / 20L, lit(19L))))
        .as("source"),
      lit("").as("text"))
    // synthetic tokenizer output: 8 ids/doc, generated on the scan
    val tok = docs.select(col("doc_id"),
        explode(sequence(lit(1L), lit(8L))).as("pos"))
      .withColumn("token_id",
        pmod(xxhash64(col("doc_id"), col("pos")), lit(30000L)))
    val hot = nDocs - nDocs / 20L
    def run(buckets: Int, n: Long): (Double, Long, Long) = {
      val d = docs.filter(col("doc_id") < n)
      val t = tok.filter(col("doc_id") < n)
      val t0 = System.nanoTime()
      val r = PipelineOps.packTokenIds(d, t, budget = 512L,
          sepId = 0L, idBuckets = buckets)
        .agg(sum(col("n_ids")).as("slots"), count(lit(1)).as("seqs"))
        .head()
      ((System.nanoTime() - t0) / 1e9, r.getLong(0), r.getLong(1))
    }
    // untimed warmup (codegen/JIT) at 1/10 scale, then the timed passes
    run(64, nDocs / 10); run(1, nDocs / 10)
    val (secU, slotsU, _) = run(1, nDocs)
    val (secB, slotsB, seqsB) = run(64, nDocs)
    require(slotsB == 9L * nDocs && slotsU == slotsB,
      s"slot totals must be bucket-invariant: $slotsB vs $slotsU")
    // the largest window cell (docs per (lang, source, id_bucket))
    val maxCell = docs.groupBy(col("lang"), col("source"),
        PipelineOps.idBucketCol(col("doc_id"), 64, 42L).as("id_bucket"))
      .count().agg(max("count")).head().getLong(0)
    val bound = (hot.toDouble / 64.0 * 1.3).toLong
    require(maxCell <= bound,
      s"largest bucketed window cell $maxCell exceeds $bound")
    println(f"""{"example":"pack_soak","docs":$nDocs,"hot_docs":$hot,"slots":$slotsB,"seqs":$seqsB,"max_cell_bucketed":$maxCell,"cell_bound":$bound,"sec_bucketed":$secB%.1f,"sec_unbucketed":$secU%.1f}""")
  }

  /** Pretraining-objective soak: the round-14 family at soak scale.
    * mlmMask + spanCorrupt are pure projections / bounded explodes —
    * the soak certifies throughput linearity and the exact expected
    * selection shares; permutationSuccessor is the one new
    * shuffle-bearing stage (bucketed lead windows) — the soak asserts
    * the cyclic-permutation property (distinct partners == docs) at
    * full scale and that cell sizes track n/buckets, the knob a 100 TB
    * caller turns (buckets ~ corpus/target_cell). */
  private def pretrainSoak(spark: SparkSession, nDocs: Long): Unit = {
    import graft.ops.PipelineOps
    val tokPerDoc = 40L
    val docs = spark.range(nDocs).select(col("id").as("doc_id"))
    val tok = docs.select(col("doc_id"),
        explode(sequence(lit(1L), lit(tokPerDoc))).as("pos"))
      .withColumn("token", lit("t"))
      .withColumn("token_id",
        pmod(xxhash64(col("doc_id"), col("pos")), lit(30000L)))
    val nTok = nDocs * tokPerDoc
    // warmup at 1/10 scale
    PipelineOps.mlmMask(tok.filter(col("doc_id") < nDocs / 10),
        vocabSize = 30000, maskId = 0L)
      .agg(count(lit(1))).head()
    val t0 = System.nanoTime()
    val mlm = PipelineOps.mlmMask(tok, vocabSize = 30000, maskId = 0L)
      .groupBy("mlm_action").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val secMlm = (System.nanoTime() - t0) / 1e9
    val sel = nTok - mlm.getOrElse("none", 0L)
    require(sel > nTok * 13 / 100 && sel < nTok * 17 / 100,
      s"MLM selection share off at scale: $sel of $nTok")
    val t1 = System.nanoTime()
    val sc = PipelineOps.spanCorrupt(tok, sentinelBase = 999999L)
      .agg(sum(col("n_noise")).as("noise"), sum(col("n_spans")).as("spans"),
        count(lit(1)).as("rows"))
      .head()
    val secSc = (System.nanoTime() - t1) / 1e9
    require(sc.getLong(2) == nDocs, "span_corrupt must emit every doc")
    val t2 = System.nanoTime()
    val buckets = math.max(64, (nDocs / 250000L).toInt)
    val perm = PipelineOps.permutationSuccessor(docs, buckets = buckets)
    val distinctPartners = perm.agg(
      countDistinct(col("partner_id"))).head().getLong(0)
    val secPerm = (System.nanoTime() - t2) / 1e9
    require(distinctPartners == nDocs,
      s"partner map must stay a permutation: $distinctPartners != $nDocs")
    println(f"""{"example":"pretrain_soak","docs":$nDocs,"tokens":$nTok,"mlm_selected":$sel,"noise_tokens":${sc.getLong(0)},"noise_spans":${sc.getLong(1)},"perm_buckets":$buckets,"distinct_partners":$distinctPartners,"sec_mlm":$secMlm%.1f,"sec_span":$secSc%.1f,"sec_perm":$secPerm%.1f}""")
  }

  /** End-to-end MinHash dedup soak at a given corpus size: planted 25%
    * near-dup rate over [[nearDupDocs]].
    *
    * Reports the end-to-end keep-decision time (docs/s headline) plus
    * candidate / verified-pair / removed counts as separate audited
    * actions — candidates ≈ verified ≈ removed ≈ n/4 when the LSH layer
    * adds ~no false candidates, and candidates-per-doc staying flat
    * across sizes is the linearity evidence SCALE.md cites. */
  private def dedupSoak(spark: SparkSession, nDocs: Long): Unit = {
    def docs = nearDupDocs(spark, nDocs)
    // warm codegen on 1%
    graft.ops.DedupOps.minhashDedupKeep(docs.limit((nDocs / 100).toInt),
      threshold = 0.5).write.format("noop").mode("overwrite").save()
    val t0 = System.nanoTime()
    graft.ops.DedupOps.minhashDedupKeep(docs, threshold = 0.5)
      .write.format("noop").mode("overwrite").save()
    val keepSec = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val nCand = graft.ops.DedupOps.minhashLshCandidates(docs).count()
    val candSec = (System.nanoTime() - t1) / 1e9
    val nVer = graft.ops.DedupOps.minhashDedupPairs(docs, threshold = 0.5).count()
    val nRemoved = graft.ops.DedupOps.minhashDedupKeep(docs, threshold = 0.5)
      .filter(!col("is_kept")).count()
    println(f"""{"example":"dedup_soak","docs":$nDocs,"planted_dup_rate":0.25,"keep_sec":$keepSec%.3f,"docs_per_sec":${nDocs / keepSec}%.0f,"candidates":$nCand,"cand_sec":$candSec%.3f,"candidates_per_doc":${nCand.toDouble / nDocs}%.4f,"verified_pairs":$nVer,"removed":$nRemoved}""")
  }

  /** Random-walk soak: n-node digraph, 8 out-edges each, a planted
    * celebrity (slot-0 edge of 30% of nodes points at node 0 — hub
    * in-degree 0.3n·(1−1/n)). Walks from every 10th node. The scale
    * claims under test: per-hop shuffled rows == live walks (linear in
    * starts, never in edges), and hub pressure lands on (src, idx)
    * slots — max rows per join key ≈ walks-at-hub / outdeg(hub), not
    * walks-at-hub. */
  private def walksSoak(spark: SparkSession, n: Long): Unit = {
    val edges = spark.range(n).toDF("src")
      .withColumn("e", explode(sequence(lit(0L), lit(7L))))
      .withColumn("dst",
        when(col("e") === 0L && pmod(col("src"), lit(10L)) < 3L, lit(0L))
          .otherwise(pmod(xxhash64(col("src") * 8L + col("e")), lit(n))))
      .filter(col("dst") =!= col("src"))
      .select("src", "dst")
    val starts = spark.range(0L, n, 10L).toDF("node")
    val steps = 4
    val t0 = System.nanoTime()
    val walks = graft.ops.GraphOps.randomWalks(edges, starts,
      walksPerStart = 1, steps = steps, seed = 3L)
    walks.write.format("noop").mode("overwrite").save()
    val sec = (System.nanoTime() - t0) / 1e9
    val byStep = walks.groupBy("step").count().orderBy("step")
      .collect().map(r => r.getLong(1))
    val hubRows = walks.filter(col("node") === 0L && col("step") > 0L).count()
    val hubOutdeg = edges.filter(col("src") === 0L).count()
    println(f"""{"example":"walks_soak","nodes":$n,"walks":${n / 10},"steps":$steps,"rows_by_step":[${byStep.mkString(",")}],"hub_frontier_rows":$hubRows,"hub_outdeg":$hubOutdeg,"hub_max_key_rows":${hubRows / math.max(hubOutdeg, 1)},"sec":$sec%.3f,"walks_per_sec":${n / 10 / sec}%.0f}""")
  }

  /** Co-occurrence soak: ~30-token synthetic docs over a 1000-word
    * vocab; pair volume must be EXACTLY n·Σ_d(30−d) (the no-self-join
    * claim: generation is linear in corpus tokens). */
  private def coocSoak(spark: SparkSession, n: Long): Unit = {
    val docs = spark.range(n).toDF("doc_id")
      .withColumn("text", expr(
        "concat_ws(' ', transform(sequence(0, 29), i -> " +
          "concat('w', pmod(xxhash64(doc_id * 31 + i), 1000))))"))
    val t0 = System.nanoTime()
    val pairs = graft.ops.TextOps.cooccurPairs(docs, window = 4, minPairs = 1L)
    val (groups, volume) = {
      val r = pairs.agg(count(lit(1)), sum(col("n_pairs"))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val sec = (System.nanoTime() - t0) / 1e9
    val expected = n * (29L + 28L + 27L + 26L)
    require(volume == expected, s"pair volume $volume != expected $expected")
    println(f"""{"example":"cooc_soak","docs":$n,"pair_occurrences":$volume,"expected":$expected,"distinct_pairs":$groups,"sec":$sec%.3f,"pairs_per_sec":${volume / sec}%.0f}""")
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
    val t0 = System.nanoTime()
    LayoutOps.writeZOrdered(df, LayoutOps.mortonKey2(col("a"), col("b")),
      dir, numFiles = files)
    val writeSec = (System.nanoTime() - t0) / 1e9
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
