package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TrainOps

/** The in-engine logistic-regression-family quality-classifier trainer:
  * convergence on a separable corpus, exact-integer trajectory laws,
  * and the model-sized-aggregate plan shape. */
class TrainOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get
  import spark.implicits._

  /** Separable synthetic corpus: positive docs speak "good" vocabulary,
    * negative docs "bad" vocabulary, with shared filler words. */
  private def separable(n: Int): org.apache.spark.sql.DataFrame = {
    val rng = new scala.util.Random(3)
    val good = Seq("excellent", "rigorous", "insight", "coherent", "clear")
    val bad = Seq("spam", "click", "winner", "casino", "pills")
    val fill = Seq("the", "a", "of", "and", "to")
    val rows = (0 until n).map { i =>
      val pos = i % 2 == 0
      val vocab = if (pos) good else bad
      val words = Seq.fill(20)(
        if (rng.nextInt(10) < 6) vocab(rng.nextInt(vocab.size))
        else fill(rng.nextInt(fill.size)))
      (i.toLong, words.mkString(" "), if (pos) 1L else 0L)
    }
    rows.toDF("doc_id", "text", "y")
  }

  test("tdz: truncation-toward-zero, positive divisor, exact on multiples") {
    assert(TrainOps.tdz(7, 2) == 3 && TrainOps.tdz(-7, 2) == -3)
    assert(TrainOps.tdz(8, 2) == 4 && TrainOps.tdz(-8, 2) == -4)
    assert(TrainOps.tdz(0, 5) == 0)
    intercept[IllegalArgumentException] { TrainOps.tdz(1, 0) }
    intercept[IllegalArgumentException] { TrainOps.tdz(1, -2) }
  }

  test("docFeatures: sparse active buckets, sorted, bias index last") {
    val docs = Seq((1L, "a a b c"), (2L, "z")).toDF("doc_id", "text")
    val js = TrainOps.docFeatures(docs, 8).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // bias index (= dim) is the last entry of every doc's array
    assert(js(1L).last == 8 && js(2L).last == 8)
    // presence: 3 distinct tokens -> at most 3 active buckets (the
    // duplicate "a" adds nothing), at least 1 if all collide; all
    // indices in range, distinct, sorted ascending
    val active1 = js(1L).init
    assert(active1.nonEmpty && active1.length <= 3)
    assert(js.values.forall(a => a.init.forall(j => j >= 0 && j < 8)))
    assert(js.values.forall(a => a == a.sorted && a.distinct == a))
    // doc 2: exactly one active bucket
    assert(js(2L).init.length == 1)
  }

  test("WeightSum margin: codegen sparse sum matches the dense fold") {
    val docs = Seq((1L, "a b c"), (2L, "z"), (3L, "a z q w")).toDF("doc_id", "text")
    val feats = TrainOps.docFeatures(docs, 8)
    val wq = Array(5L, -3L, 7L, 11L, 0L, -20L, 2L, 1L, 1000L)
    val got = feats.select(col("doc_id"), TrainOps.marginCol(wq).as("z"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val js = feats.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    js.foreach { case (id, a) =>
      val dense = a.map(j => 1000L * wq(j)).sum
      assert(got(id) == dense, s"doc $id: ${got(id)} != $dense")
    }
  }

  test("WeightSum scores features read back from parquet; null index fails") {
    val docs = Seq((1L, "a b c"), (2L, "z"), (3L, "a z q w")).toDF("doc_id", "text")
    val wq = Array(5L, -3L, 7L, 11L, 0L, -20L, 2L, 1L, 1000L)
    val dir = java.nio.file.Files.createTempDirectory("graft-feats").toString
    TrainOps.docFeatures(docs, 8).write.mode("overwrite").parquet(s"$dir/f")
    val stored = spark.read.parquet(s"$dir/f")
    assert(stored.schema("js").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.IntegerType, containsNull = true))
    val got = stored.select(col("doc_id"), TrainOps.marginCol(wq).as("z"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = TrainOps.docFeatures(docs, 8)
      .select(col("doc_id"), TrainOps.marginCol(wq).as("z"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    // an actual null element is a caller bug: fail, never read index 0
    val withNull = Seq((1L, Seq[Integer](1, null, 8))).toDF("doc_id", "js")
    val e = intercept[Exception] {
      withNull.select(TrainOps.marginCol(wq)).collect()
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("null active index"))),
      s"expected the null-index failure, got $e")
  }

  test("separable corpus: training converges to perfect accuracy") {
    val docs = separable(400)
    val wq = TrainOps.trainLr(docs, col("y"), dim = 64, rounds = 12,
      lrNum = 10L, lrDen = 1L)
    assert(wq.length == 65)
    assert(wq.exists(_ != 0L), "weights never moved")
    val scored = TrainOps.lrScore(docs, col("y"), wq)
      .select(col("pred").cast("long").as("p"), col("y"))
    val acc = scored.agg(
      avg((col("p") === col("y")).cast("double"))).head().getDouble(0)
    assert(acc == 1.0, s"separable corpus must train to 100%, got $acc")
    // and the margins actually separate (not a degenerate all-positive)
    val m = TrainOps.lrScore(docs, col("y"), wq)
      .agg(min(when(col("y") === 1L, col("margin"))).as("minPos"),
        max(when(col("y") === 0L, col("margin"))).as("maxNeg")).head()
    assert(m.getLong(0) > 0L && m.getLong(1) < 0L)
  }

  test("matching loss decreases across rounds (convex descent, lr sane)") {
    val docs = separable(400)
    // squared residual against the link output is a monotone proxy for
    // the matching loss; it must fall round over round at this lr
    def meanSqResid(wq: Array[Long]): Double = {
      TrainOps.lrScore(docs, col("y"), wq)
        .select((((lit(TrainOps.Z) + abs(col("margin")) + col("margin"))
          .cast("double") /
          (lit(2.0) * (lit(TrainOps.Z) + abs(col("margin"))).cast("double")))
          - col("y").cast("double")).as("r"))
        .agg(avg(col("r") * col("r"))).head().getDouble(0)
    }
    val losses = (1 to 8).map { r =>
      meanSqResid(TrainOps.trainLr(docs, col("y"), 32, r, 10L, 1L))
    }
    assert(losses.sliding(2).forall { case Seq(a, b) => b < a },
      s"residual must fall monotonically, got $losses")
    assert(losses.last < 0.08, s"final residual too high: $losses")
  }

  test("trajectory is deterministic under repartitioning") {
    val docs = separable(200)
    val w1 = TrainOps.trainLr(docs, col("y"), 16, 4, 20L, 1L)
    val w2 = TrainOps.trainLr(docs.repartition(13), col("y"), 16, 4,
      20L, 1L)
    assert(w1.sameElements(w2),
      "integer-quantized training must not depend on partitioning")
  }

  test("gradient round is one model-sized hash aggregate, no join, no sort") {
    val docs = separable(100)
    val labeled = TrainOps.docFeatures(docs, 16)
      .join(docs.select(col("doc_id"), col("y")), "doc_id")
    // the per-round relation: margin fold + explode + groupBy(j)
    val round = labeled
      .withColumn("zq", TrainOps.marginCol(Array.fill(17)(0L)))
      .select(col("y"), col("zq"), explode(col("js")).as("j"))
      .groupBy("j").agg(count(lit(1)))
    val plan = round.queryExecution.executedPlan.toString
    assert(!plan.contains("SortAggregate"), s"gradient must hash-agg:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"per-round path must not re-join:\n$plan")
  }

  test("loud guards: empty corpus, bad lr, weight blow-up") {
    val docs = separable(40)
    intercept[IllegalArgumentException] {
      TrainOps.trainLr(docs.filter(lit(false)), col("y"), 8, 2, 1L, 1L)
    }
    intercept[IllegalArgumentException] {
      TrainOps.trainLr(docs, col("y"), 8, 2, 0L, 1L)
    }
    intercept[IllegalArgumentException] {
      TrainOps.trainLr(docs, col("y"), 8, 0, 1L, 1L)
    }
    // an absurd learning rate trips the margin-overflow guard loudly
    intercept[IllegalArgumentException] {
      TrainOps.trainLr(docs, col("y"), 8, 8, Long.MaxValue / 4096, 1L)
    }
  }

  test("ngram features: bigrams add buckets; unigram path unchanged") {
    val docs = Seq((1L, "a b a b"), (2L, "c d")).toDF("doc_id", "text")
    val uni = TrainOps.docFeatures(docs, 512, ngram = 1).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toSet).toMap
    val bi = TrainOps.docFeatures(docs, 512, ngram = 2).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toSet).toMap
    // bigram features are a superset: every unigram bucket stays on
    (1L to 2L).foreach { id =>
      assert(uni(id).subsetOf(bi(id)), s"doc $id lost a unigram bucket")
      assert(bi(id).size > uni(id).size, s"doc $id gained no bigram buckets")
    }
    // doc 1 bigrams: "a b", "b a" (distinct) -> exactly 2 new buckets
    // barring collisions at dim=512
    assert(bi(1L).size - uni(1L).size == 2)
    intercept[IllegalArgumentException] {
      TrainOps.docFeatures(docs, 512, ngram = 0)
    }
  }

  test("calibrationTable: bins match the exact softsign rational") {
    // margins engineered per bin: sigma(z) = 1/2 + z/(2(1+|z|));
    // z' = Z gives p = 0.75 -> bin 7; z' = -Z gives 0.25 -> bin 2;
    // z' = 0 -> 0.5 -> bin 5; huge z' -> p ~ 1 -> clamped bin 9
    val scored = Seq(
      (1L, TrainOps.Z, 1L), (2L, -TrainOps.Z, 0L),
      (3L, 0L, 1L), (4L, 1000L * TrainOps.Z, 1L),
      (5L, -1000L * TrainOps.Z, 0L))
      .toDF("doc_id", "margin", "y")
    val bins = TrainOps.calibrationTable(scored).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    assert(bins(7L) == ((1L, 1L, 1000000L)))
    assert(bins(2L) == ((1L, 0L, 0L)))
    assert(bins(5L) == ((1L, 1L, 1000000L)))
    assert(bins(9L) == ((1L, 1L, 1000000L)))
    assert(bins(0L) == ((1L, 0L, 0L)))
    assert(bins.keySet == Set(0L, 2L, 5L, 7L, 9L))
  }

  test("resume law: warm-started continuation == straight run, any split") {
    val docs = separable(200)
    val full = TrainOps.trainLr(docs, col("y"), 16, 12, 40L, 1L)
    for (split <- Seq(1, 5, 11)) {
      val first = TrainOps.trainLr(docs, col("y"), 16, split, 40L, 1L)
      val resumed = TrainOps.trainLr(docs, col("y"), 16, 12 - split,
        40L, 1L, init = first, startRound = split)
      assert(resumed.sameElements(full), s"split=$split diverged")
    }
    intercept[IllegalArgumentException] {
      TrainOps.trainLr(docs, col("y"), 16, 2, 1L, 1L,
        init = Array(1L, 2L)) // wrong length
    }
    intercept[IllegalArgumentException] {
      TrainOps.trainLr(docs, col("y"), 16, 60, 1L, 1L, startRound = 10)
    }
  }

  test("sampleBucket rotates: successive rounds sample different subsets") {
    def bucket(id: Long, round: Int): Long =
      ((id % TrainOps.SampleP) * TrainOps.SampleM1 +
        (round + 1L) * TrainOps.SampleM2) % TrainOps.SampleP % 1000L
    val ids = (0L until 2000L)
    val s0 = ids.filter(bucket(_, 0) < 500).toSet
    val s1 = ids.filter(bucket(_, 1) < 500).toSet
    assert(s0 != s1, "round samples must rotate")
    // both are near-half (the hash is uniform enough at n = 2000)
    assert(math.abs(s0.size - 1000) < 150 && math.abs(s1.size - 1000) < 150)
    // and the Spark column computes the identical buckets
    val df = ids.toDF("doc_id")
      .select(col("doc_id"), TrainOps.sampleBucket(col("doc_id"), 0).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ids.foreach(id => assert(df(id) == bucket(id, 0)))
  }

  test("sampled training converges on the separable corpus") {
    val docs = separable(400)
    val wq = TrainOps.trainLr(docs, col("y"), dim = 64, rounds = 16,
      lrNum = 10L, lrDen = 1L, sampleMilli = 500)
    val acc = TrainOps.lrScore(docs, col("y"), wq)
      .agg(avg((col("pred").cast("long") === col("y")).cast("double")))
      .head().getDouble(0)
    assert(acc >= 0.99,
      s"half-corpus rotating batches must still separate, got $acc")
  }

  test("sampled trajectory: deterministic under repartitioning + resume law") {
    val docs = separable(200)
    val w1 = TrainOps.trainLr(docs, col("y"), 16, 6, 20L, 1L,
      sampleMilli = 500)
    val w2 = TrainOps.trainLr(docs.repartition(13), col("y"), 16, 6,
      20L, 1L, sampleMilli = 500)
    assert(w1.sameElements(w2))
    // warm start replays: global round index drives BOTH the decay and
    // the sample hash, so the continuation walks the identical rounds
    val first = TrainOps.trainLr(docs, col("y"), 16, 2, 20L, 1L,
      sampleMilli = 500)
    val resumed = TrainOps.trainLr(docs, col("y"), 16, 4, 20L, 1L,
      init = first, startRound = 2, sampleMilli = 500)
    assert(resumed.sameElements(w1), "sampled resume diverged")
  }

  test("sampled gradient plan: narrow pre-shuffle filter, ONE exchange") {
    val docs = separable(100)
    val labeled = TrainOps.docFeatures(docs, 16)
      .join(docs.select(col("doc_id"), col("y")), "doc_id")
      .persist()
    try {
      labeled.count()
      // the round relation exactly as a sampled trainLr round builds it
      val round = labeled
        .filter(TrainOps.sampleBucket(col("doc_id"), 3) < lit(500L))
        .withColumn("zq", TrainOps.marginCol(Array.fill(17)(0L)))
        .select(col("y"), col("zq"), explode(col("js")).as("j"))
        .groupBy("j").agg(count(lit(1)))
      // assert on PHYSICAL NODE CLASSES, not the rendered plan string
      // (string formats drift across Spark versions); the nodes stop at
      // the InMemoryTableScan, the round's-own-plan boundary
      val nodes = ShuffledShapes.physicalNodes(round)
      def names = nodes.map(_.getClass.getSimpleName).mkString(", ")
      assert(!nodes.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.aggregate.SortAggregateExec]),
        s"must hash-agg: $names")
      assert(!nodes.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
        s"must not re-join: $names")
      // the ONLY exchange is the dim+1-key gradient aggregate's, and
      // the sample filter is pushed into the in-memory scan itself
      val exchanges = nodes.count(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
      assert(exchanges == 1,
        s"expected exactly one exchange (the j-key agg), got $exchanges: $names")
      val scans = nodes.collect {
        case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s
      }
      assert(scans.nonEmpty, s"no InMemoryTableScan: $names")
      assert(scans.exists(_.predicates.exists(_.toString.contains("pmod"))),
        s"sample predicate not pushed to the cache scan: " +
          scans.map(_.predicates.mkString("[", ";", "]")).mkString(" "))
    } finally labeled.unpersist()
  }

  test("sampled loud guards: empty sample, bad sampleMilli") {
    // a single doc whose round-0 bucket is >= 1 makes sampleMilli = 1
    // sample zero docs in round 0 — deterministically
    def bucket(id: Long, round: Int): Long =
      ((id % TrainOps.SampleP) * TrainOps.SampleM1 +
        (round + 1L) * TrainOps.SampleM2) % TrainOps.SampleP % 1000L
    val lone = (0L until 100L).find(bucket(_, 0) >= 1L).get
    val docs = Seq((lone, "a b c", 1L)).toDF("doc_id", "text", "y")
    val e = intercept[IllegalArgumentException] {
      TrainOps.trainLr(docs, col("y"), 8, 2, 1L, 1L, sampleMilli = 1)
    }
    assert(e.getMessage.contains("sampled zero docs"))
    intercept[IllegalArgumentException] {
      TrainOps.trainLr(docs, col("y"), 8, 2, 1L, 1L, sampleMilli = 0)
    }
    intercept[IllegalArgumentException] {
      TrainOps.trainLr(docs, col("y"), 8, 2, 1L, 1L,
        sampleMilli = 1001)
    }
    // the SQL twin carries the SAME diagnosis (a lazy error() CASE on
    // the round mass) instead of a cryptic division-by-zero — pin the
    // guard's presence so the two engines' failure modes stay aligned
    val twin = TrainOps.trainLrSampledSql(8, 2, 1L, 1L, 1, "y")
    assert(twin.contains("sampled zero docs"),
      "SQL twin lost its empty-sample guard")
  }

  test("readModel refuses weights past the margin bound") {
    val dim = 8
    val wBound = Long.MaxValue / (25L * 1000L * (dim + 1))
    val wq = Array.fill(dim + 1)(0L)
    wq(3) = wBound // exactly at the bound -> must refuse (guard is strict)
    val path = java.nio.file.Files
      .createTempDirectory("graft-lr-model-big").toString
    TrainOps.writeModel(spark, wq, ngram = 1, roundsDone = 1, path)
    val e = intercept[IllegalArgumentException] { TrainOps.readModel(spark, path) }
    assert(e.getMessage.contains("margin bound"))
    // just inside the bound loads fine
    wq(3) = wBound - 1
    TrainOps.writeModel(spark, wq, ngram = 1, roundsDone = 1, path)
    assert(TrainOps.readModel(spark, path)._1.sameElements(wq))
  }

  test("model IO: roundtrip, and corrupt sidecars refuse at load") {
    val wq = Array.tabulate(9)(i => i.toLong * 7 - 20)
    val path = java.nio.file.Files
      .createTempDirectory("graft-lr-model-spec").toString
    TrainOps.writeModel(spark, wq, ngram = 2, roundsDone = 5, path)
    val (loaded, ng, done) = TrainOps.readModel(spark, path)
    assert(loaded.sameElements(wq) && ng == 2 && done == 5)
    // truncated weights must refuse loudly
    val bad = java.nio.file.Files
      .createTempDirectory("graft-lr-model-bad").toString
    TrainOps.writeModel(spark, wq, 1, 1, bad)
    spark.read.parquet(s"$bad/weights").limit(5).write
      .mode("overwrite").parquet(s"$bad/weights2")
    // overwrite weights dir with the truncated copy
    import org.apache.hadoop.fs.Path
    val fs = new Path(bad).getFileSystem(
      spark.sessionState.newHadoopConf())
    fs.delete(new Path(s"$bad/weights"), true)
    fs.rename(new Path(s"$bad/weights2"), new Path(s"$bad/weights"))
    intercept[IllegalArgumentException] { TrainOps.readModel(spark, bad) }
  }
}
