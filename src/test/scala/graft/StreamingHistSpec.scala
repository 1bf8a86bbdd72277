package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.hist._
import graft.streaming.StreamingHist

/** CDC change row for the streaming view-maintenance tests — top-level
  * so MemoryStream gets a plain product encoder. */
case class ViewChg(id: Long, old_key: String, old_m: Long,
    old_present: Boolean, new_key: String, new_m: Long,
    new_present: Boolean)

/** The windowed histogram path under a real Structured Streaming query:
  * the same fill code drives readStream → writeStream with a watermark,
  * and the streamed result equals the batch result. */
class StreamingHistSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get
  import spark.implicits._

  test("streaming dedup drops duplicate keys within the watermark") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sdedup").toFile
    val data = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), "a"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:02"), "a"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:03"), "b"))
    data.toDF("ts", "k").coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val in = spark.readStream.schema(data.toDF("ts", "k").schema).parquet(dir.toString)
    val q = graft.streaming.StreamingHist
      .streamingDedup(in, Seq("k"), "ts", "1 minute")
      .writeStream.outputMode("append").format("memory").queryName("sdedup")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val keys = spark.table("sdedup").select("k").collect().map(_.getString(0)).sorted
    assert(keys.toSeq == Seq("a", "b"))
  }

  test("streaming bloom new-only filter drops known keys inside the stream") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sbloom").toFile
    val reference = Seq("old-1", "old-2", "old-3").toDF("k")
    val filterBytes = StreamingHist.buildBloomFilter(reference, $"k", 1 << 10)
    val data = Seq("old-1", "new-a", "old-3", "new-b")
    data.toDF("k").coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val in = spark.readStream.schema(data.toDF("k").schema).parquet(dir.toString)
    val q = StreamingHist.streamingBloomNewOnly(in, $"k", filterBytes)
      .writeStream.outputMode("append").format("memory").queryName("sbloom")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val kept = spark.table("sbloom").collect().map(_.getString(0)).sorted
    // bloom has no false negatives: every old key is dropped; with a
    // 1024-bit filter over 3 keys the new keys survive (no collision)
    assert(kept.toSeq == Seq("new-a", "new-b"))
  }

  test("streamed windowed CMS sketch == batch windowed sketch") {
    val dir = java.nio.file.Files.createTempDirectory("graft-scms").toFile
    val data = Seq.tabulate(200) { i =>
      (java.sql.Timestamp.valueOf(f"2024-01-01 ${i % 3}%02d:00:01"), s"tok${i % 7}")
    }
    val batchDf = data.toDF("ts", "tok")
    batchDf.coalesce(1).write.mode("overwrite").parquet(dir.toString)
    def key(r: org.apache.spark.sql.Row) =
      (r.getStruct(0).getTimestamp(0).getTime, r.getInt(1), r.getLong(2)) -> r.getLong(3)
    val batch = graft.ops.SketchOps
      .windowedCmsSketch(batchDf, $"ts", "1 hour", depth = 2, width = 64)
      .collect().map(key).toMap
    val streamIn = spark.readStream.schema(batchDf.schema).parquet(dir.toString)
      .withWatermark("ts", "2 hours")
    val q = graft.ops.SketchOps
      .windowedCmsSketch(streamIn, $"ts", "1 hour", depth = 2, width = 64)
      .writeStream.outputMode("complete").format("memory").queryName("scms")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("scms").collect().map(key).toMap
    assert(got == batch && got.nonEmpty)
  }

  test("streamed windowed HLL registers == batch windowed registers") {
    val dir = java.nio.file.Files.createTempDirectory("graft-shll").toFile
    val data = Seq.tabulate(500) { i =>
      (java.sql.Timestamp.valueOf(f"2024-01-01 ${i % 3}%02d:00:01"), s"user${i % 37}")
    }
    val batchDf = data.toDF("ts", "k")
    batchDf.coalesce(1).write.mode("overwrite").parquet(dir.toString)
    def key(r: org.apache.spark.sql.Row) =
      r.getStruct(0).getTimestamp(0).getTime ->
        r.getAs[scala.collection.Seq[Int]]("registers")
    val batch = graft.ops.SketchOps
      .windowedHllRegisters(batchDf, $"ts", "1 hour", $"k")
      .collect().map(key).toMap
    val streamIn = spark.readStream.schema(batchDf.schema).parquet(dir.toString)
      .withWatermark("ts", "2 hours")
    val q = graft.ops.SketchOps
      .windowedHllRegisters(streamIn, $"ts", "1 hour", $"k")
      .writeStream.outputMode("complete").format("memory").queryName("shll")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("shll").collect().map(key).toMap
    assert(got == batch && got.size == 3)
  }

  test("streamed windowed fill == batch windowed fill") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toFile
    val data = Seq.tabulate(300) { i =>
      (java.sql.Timestamp.valueOf(f"2024-01-01 ${i % 5}%02d:10:00"), i % 10 * 1.0)
    }
    val batchDf = data.toDF("ts", "v")
    batchDf.coalesce(1).write.mode("overwrite").parquet(dir.toString)

    val spec = HistSpec(Seq(Regular(5, 0.0, 10.0)), DoubleStorage)
    val batch = StreamingHist.windowedFill(spec, batchDf, $"ts", "1 hour", Seq($"v"))
      .select($"window.start".cast("long").as("b"), $"i0", $"value")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

    val streamIn = spark.readStream.schema(batchDf.schema).parquet(dir.toString)
      .withWatermark("ts", "2 hours")
    val streamed = StreamingHist.windowedFill(spec, streamIn, $"ts", "1 hour", Seq($"v"))
    val q = streamed.writeStream.outputMode("complete")
      .format("memory").queryName("hist_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("hist_stream")
      .select($"window.start".cast("long").as("b"), $"i0", $"value")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got == batch)
    assert(got.nonEmpty)
  }

  test("windowed fill drops a circular axis' NaN/inf rows, as Hist.fill does") {
    val spec = HistSpec(Seq(RegularCircular(4, 0.0, 4.0)), DoubleStorage)
    // each hour gets finite and non-finite values (even i: hour 0)
    val xs = Seq(1.5, Double.NaN, Double.PositiveInfinity, 2.5, 5.5,
      Double.NegativeInfinity, Double.NaN, 0.5)
    val df = xs.zipWithIndex.map { case (x, i) =>
      (java.sql.Timestamp.valueOf(f"2024-01-01 ${i % 2}%02d:10:00"), x)
    }.toDF("ts", "v")
    // (bin, value) per window; a NULL bin shows as None
    def bins(h: org.apache.spark.sql.DataFrame): Set[(Option[Long], Double)] =
      h.select($"i0", $"value").collect()
        .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getDouble(1))).toSet
    val windowed = StreamingHist.windowedFill(spec, df, $"ts", "1 hour", Seq($"v"))
    for (h <- Seq(0, 1)) {
      val start = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
      val got = bins(windowed.filter($"window.start" === lit(start)))
      val want = bins(Hist.fill(spec, df.filter(hour($"ts") === h), Seq($"v")))
      assert(want.nonEmpty && got == want, s"window $h")
    }
  }

  test("streamed windowed quantiles == batch quantiles on the same windows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-squant").toFile
    // 3 hourly windows with different value distributions, so per-window
    // p50/p99 actually differ (a shared rank space would be caught)
    val data = Seq.tabulate(600) { i =>
      val hour = i % 3
      (java.sql.Timestamp.valueOf(f"2024-01-01 $hour%02d:10:00"),
        ((i * 7) % (20 * (hour + 1))).toDouble)
    }
    val batchDf = data.toDF("ts", "v")
    batchDf.coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val spec = HistSpec(Seq(Regular(12, 0.0, 60.0)), Int64Storage)
    val qs = Seq(0.5, 0.9, 0.99)
    def key(r: org.apache.spark.sql.Row) =
      (r.getStruct(0).getTimestamp(0).getTime, r.getDouble(1)) -> r.getDouble(2)
    val batchFill = StreamingHist.windowedFill(spec, batchDf, $"ts", "1 hour", Seq($"v"))
    val batch = StreamingHist.windowedQuantiles(spec, batchFill, qs)
      .collect().map(key).toMap
    assert(batch.size == 9) // 3 windows x 3 quantiles
    // cross-check each window against the UNPARTITIONED batch estimator:
    // per-window rank spaces must equal quantiles() run window-by-window
    val windows = batchFill.select($"window").distinct().collect()
      .map(_.getStruct(0).getTimestamp(0))
    windows.foreach { w =>
      val one = batchFill.filter($"window.start" === w)
      val expect = HistAlgebra.quantiles(spec, one, qs)
        .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
      qs.foreach { q =>
        assert(batch((w.getTime, q)) == expect(q), s"window $w q=$q")
      }
    }
    // the streaming composition: complete-mode windowed fill sink, then
    // quantiles OVER the sink table (window fns can't run in-stream)
    val streamIn = spark.readStream.schema(batchDf.schema).parquet(dir.toString)
      .withWatermark("ts", "2 hours")
    val q = StreamingHist.windowedFill(spec, streamIn, $"ts", "1 hour", Seq($"v"))
      .writeStream.outputMode("complete").format("memory").queryName("squant")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = StreamingHist.windowedQuantiles(spec, spark.table("squant"), qs)
      .collect().map(key).toMap
    assert(got == batch)
  }

  test("streamed window drift == batch; shifted window flags positive PSI") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sdrift").toFile
    // hour 0 matches the reference mix (2:1:1 a/b/c); hour 1 loses c and
    // overweights a — that window must show strictly more PSI mass
    val data =
      (Seq.fill(50)("a") ++ Seq.fill(25)("b") ++ Seq.fill(25)("c")).map(k =>
        (java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), k)) ++
      (Seq.fill(80)("a") ++ Seq.fill(20)("b")).map(k =>
        (java.sql.Timestamp.valueOf("2024-01-01 01:10:00"), k))
    val batchDf = data.toDF("ts", "key")
    batchDf.coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val reference = Seq(("a", 200L), ("b", 100L), ("c", 100L)).toDF("key", "n")

    def driftMap(counts: org.apache.spark.sql.DataFrame) =
      StreamingHist.windowDrift(counts, reference)
        .select($"window.start".cast("long").as("w"), $"key", $"n_win",
          $"psi_term", $"kl_term")
        .collect()
        .map(r => (r.getLong(0), r.getString(1)) ->
          ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap

    val batch = driftMap(StreamingHist.windowedKeyCounts(
      batchDf, $"ts", "1 hour", $"key"))

    val streamIn = spark.readStream.schema(batchDf.schema).parquet(dir.toString)
      .withWatermark("ts", "2 hours")
    val q = StreamingHist.windowedKeyCounts(streamIn, $"ts", "1 hour", $"key")
      .writeStream.outputMode("complete")
      .format("memory").queryName("drift_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = driftMap(spark.table("drift_stream"))
    assert(streamed == batch)
    // window 0 mirrors the reference mix exactly -> near-zero PSI terms;
    // window 1's lost key c appears with n_win = 0 and positive PSI
    val w0 = batch.keys.map(_._1).min
    val w1 = batch.keys.map(_._1).max
    assert(w0 != w1)
    val psi0 = batch.collect { case ((w, _), (_, psi, _)) if w == w0 => psi }.sum
    val psi1 = batch.collect { case ((w, _), (_, psi, _)) if w == w1 => psi }.sum
    assert(psi1 > psi0 + 0.1, s"shifted window PSI $psi1 !>> $psi0")
    assert(batch((w1, "c"))._1 == 0L && batch((w1, "c"))._2 > 0.0)
    // PSI terms are nonnegative by construction
    assert(batch.values.forall(_._2 >= 0.0))
  }

  test("streamed windowed KMV distinct == batch windowed estimate") {
    val dir = java.nio.file.Files.createTempDirectory("graft-skmv").toFile
    val data = Seq.tabulate(400) { i =>
      (java.sql.Timestamp.valueOf(f"2024-01-01 ${i % 2}%02d:00:01"), s"v${i % 61}")
    }
    val batchDf = data.toDF("ts", "v")
    batchDf.coalesce(1).write.mode("overwrite").parquet(dir.toString)
    def key(r: org.apache.spark.sql.Row) =
      r.getStruct(0).getTimestamp(0).getTime -> r.getDouble(1)
    val batch = graft.ops.SketchOps
      .windowedKmvDistinct(batchDf, $"ts", $"v", "1 hour", k = 32)
      .collect().map(key).toMap
    val streamIn = spark.readStream.schema(batchDf.schema).parquet(dir.toString)
      .withWatermark("ts", "2 hours")
    val q = graft.ops.SketchOps
      .windowedKmvDistinct(streamIn, $"ts", $"v", "1 hour", k = 32)
      .writeStream.outputMode("complete").format("memory").queryName("skmv")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("skmv").collect().map(key).toMap
    assert(got == batch && got.size == 2)
    // 61 distinct values per window, k = 32: the estimate must be sane
    got.values.foreach(v => assert(v > 30 && v < 120, s"estimate $v"))
  }

  test("stream-stream attribution join == batch; gap and key bounds honored") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val imps = Seq(
      (1L, t("2024-01-01 00:00:00"), 101L), // -> conv 201 (+5m) and 202 (+9m)
      (1L, t("2024-01-01 00:08:00"), 102L), // -> conv 202 (+1m)
      (2L, t("2024-01-01 00:00:00"), 103L), // other user: no pair with u1
      (3L, t("2024-01-01 00:00:00"), 104L)) // conv outside gap: no pair
    val convs = Seq(
      (1L, t("2024-01-01 00:05:00"), 201L),
      (1L, t("2024-01-01 00:09:00"), 202L),
      (2L, t("2024-01-01 00:04:00"), 203L),
      (3L, t("2024-01-01 00:30:00"), 204L), // 30m > 10m gap
      (4L, t("2024-01-01 00:01:00"), 205L)) // no impression at all
    val iDf = imps.toDF("user_id", "imp_ts", "imp_id")
    val cDf = convs.toDF("user_id", "conv_ts", "conv_id")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("imp_id", "conv_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = pairs(graft.streaming.StreamingHist.attributionJoin(
      iDf, cDf, "user_id", "imp_ts", "conv_ts", "10 minutes"))
    assert(batch == Set((101L, 201L), (101L, 202L), (102L, 202L), (103L, 203L)))
    // identical operator on streaming inputs emits the same pairs
    val d1 = java.nio.file.Files.createTempDirectory("graft-sattr-i").toString
    val d2 = java.nio.file.Files.createTempDirectory("graft-sattr-c").toString
    iDf.coalesce(1).write.mode("overwrite").parquet(d1)
    cDf.coalesce(1).write.mode("overwrite").parquet(d2)
    val q = graft.streaming.StreamingHist.attributionJoin(
        spark.readStream.schema(iDf.schema).parquet(d1),
        spark.readStream.schema(cDf.schema).parquet(d2),
        "user_id", "imp_ts", "conv_ts", "10 minutes", delay = "1 minute")
      .writeStream.outputMode("append").format("memory").queryName("sattr")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(pairs(spark.table("sattr")) == batch)
    // shared non-key columns are refused loudly
    val e = intercept[IllegalArgumentException] {
      graft.streaming.StreamingHist.attributionJoin(
        iDf, cDf.withColumnRenamed("conv_ts", "imp_ts"),
        "user_id", "imp_ts", "imp_ts", "10 minutes")
    }
    assert(e.getMessage.contains("share ONLY"))
  }

  test("streaming view maintenance: batch-invariant, idempotent, == recompute") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ops.PipelineOps
    import graft.streaming.ViewMaintenance
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val viewDir = java.nio.file.Files.createTempDirectory("graft-view").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-view-ck").toString
    val oldSnap = Seq((1L, "a", 4L), (2L, "a", 2L), (3L, "b", 3L),
      (4L, "c", 2L), (5L, "b", 1L)).toDF("doc_id", "key", "m")
    val initial = PipelineOps.snapshotAgg(oldSnap, "key", col("m"))
    val changes = Seq(
      ViewChg(6L, null, 0L, false, "d", 5L, true), // insert into a new key
      ViewChg(1L, "a", 4L, true, "a", 6L, true),   // in-place measure edit
      ViewChg(3L, "b", 3L, true, "c", 3L, true),   // key move b -> c
      ViewChg(4L, "c", 2L, true, null, 0L, false), // delete
      ViewChg(5L, "b", 1L, true, null, 0L, false)) // delete -> b empties
    val newSnap = Seq((1L, "a", 6L), (2L, "a", 2L), (3L, "c", 3L),
      (6L, "d", 5L)).toDF("doc_id", "key", "m")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    val want = rows(PipelineOps.snapshotAgg(newSnap, "key", col("m")))

    val in = MemoryStream[ViewChg]
    val q = ViewMaintenance.start(in.toDF(), initial, viewDir, ckpt)
    try {
      in.addData(changes(0), changes(1)); q.processAllAvailable()
      in.addData(changes(2)); q.processAllAvailable()
      in.addData(changes(3), changes(4)); q.processAllAvailable()
    } finally q.stop()
    def view() = rows(ViewMaintenance.readView(spark, viewDir))
    assert(view().sameElements(want), s"${view().toSeq} vs ${want.toSeq}")
    assert(!view().exists(_._1 == "b"), "emptied key must leave the view")
    // idempotence: a replayed batch id is skipped, never double-applied
    ViewMaintenance.applyBatch(changes.take(2).toDF(), 0L, viewDir)
    assert(view().sameElements(want))
    // associativity: one-shot fold of the whole feed lands on the same
    // view as the 3-micro-batch fold
    assert(rows(PipelineOps.maintainAgg(initial, changes.toDF()))
      .sameElements(want))
    // restart: re-seeding an existing view is a no-op
    ViewMaintenance.writeInitial(initial, viewDir)
    assert(view().sameElements(want))
  }
}
