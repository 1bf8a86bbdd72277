package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.hist._
import graft.ops.Checkpoints._

/** Streaming histogram aggregation.
  *
  * The reference has no streaming surface (SURVEY.md §7: out of scope for
  * dask-histogram), but the sparse-agg design is Structured-Streaming-ready
  * by construction: the same bin-index projection + groupBy works under a
  * watermark with a time window as an extra (implicit) axis. One function
  * serves both batch and streaming DataFrames — pass a `readStream` source
  * and write with `writeStream` (state is bounded: bins × open windows).
  */
object StreamingHist {

  /** Streaming exact dedup: watermarked `dropDuplicates` — state holds one
    * key per distinct value inside the watermark horizon, evicted as event
    * time advances. The streaming twin of DedupOps.exactDedup. */
  def streamingDedup(df: DataFrame, keyCols: Seq[String], tsCol: String,
      delay: String): DataFrame =
    df.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Build the reference-corpus Bloom filter for
    * [[streamingBloomNewOnly]]. Build and probe MUST hash the key the
    * same way — this pair owns that coupling (both go through
    * `xxhash64(key)`); building a filter over raw key values yourself
    * would silently match nothing. */
  def buildBloomFilter(reference: DataFrame, keyCol: Column,
      numBits: Int = 1 << 23,
      numHashes: Int = graft.functions.BloomFilter.DefaultNumHashes): Array[Byte] =
    reference
      .agg(graft.functions.BloomFilterAgg(xxhash64(keyCol), numBits, numHashes).as("f"))
      .head().getAs[Array[Byte]](0)

  /** Streaming cross-snapshot dedup: drop stream rows whose key already
    * exists in a STATIC reference corpus, via a pre-built Bloom filter
    * probed inside whole-stage codegen — no stream-static join, no state.
    * The streaming twin of DedupOps.incrementalDedup's prefilter pass.
    * `filterBytes` must come from [[buildBloomFilter]] (same key hashing
    * on both sides).
    *
    * The Bloom probe admits ~FP-rate false drops if used alone; pass the
    * surviving stream through an exact stream-static join on the key when
    * exactness matters (the filter already removed the overwhelming
    * majority, so the join state stays tiny). */
  def streamingBloomNewOnly(stream: DataFrame, keyCol: Column,
      filterBytes: Array[Byte],
      numHashes: Int = graft.functions.BloomFilter.DefaultNumHashes): DataFrame =
    stream.filter(
      !graft.functions.BloomContains(xxhash64(keyCol), filterBytes, numHashes))

  /** Stream-stream attribution join: every (impression, conversion)
    * pair of the same key where the conversion lands within `maxGap`
    * after the impression — the click/view-to-purchase join every
    * event pipeline runs. Works on batch and streaming frames alike
    * (one definition, stream==batch test-pinned); on streaming inputs
    * both sides are watermarked with `delay` and the two-sided
    * event-time bound is what lets Structured Streaming evict join
    * state: an impression can be dropped once the conversion-side
    * watermark passes `impTs + maxGap`, a conversion once the
    * impression side passes its timestamp. State is O(events inside
    * the watermark horizon) per key — bounded by construction, never
    * by corpus size.
    *
    * Column contract: the ONLY shared column name may be `keyCol`
    * (enforced loudly) — the join returns all columns of both sides
    * with the key once. Emitting ALL qualifying pairs (not first
    * touch) keeps the op deterministic and composable; first/last
    * touch is one grouped argmin downstream. */
  def attributionJoin(impressions: DataFrame, conversions: DataFrame,
      keyCol: String, impTsCol: String, convTsCol: String,
      maxGap: String, delay: String = "10 minutes"): DataFrame = {
    val shared = impressions.columns.toSet.intersect(conversions.columns.toSet)
    require(shared == Set(keyCol),
      s"attributionJoin: sides must share ONLY '$keyCol', got $shared")
    def wm(df: DataFrame, ts: String) =
      if (df.isStreaming) df.withWatermark(ts, delay) else df
    val i = wm(impressions, impTsCol).alias("i")
    val c = wm(conversions, convTsCol).alias("c")
    i.join(c, expr(
        s"i.$keyCol = c.$keyCol AND c.$convTsCol >= i.$impTsCol " +
          s"AND c.$convTsCol <= i.$impTsCol + interval $maxGap"))
      .drop(col(s"c.$keyCol"))
  }

  /** Windowed histogram: per (time window, bin...) aggregate. Works on
    * batch and streaming inputs alike; for streaming add
    * `.withWatermark(tsCol, ...)` upstream for state eviction. */
  def windowedFill(spec: HistSpec, df: DataFrame, tsCol: Column,
      windowDuration: String, cols: Seq[Column],
      weight: Option[Column] = None, sample: Option[Column] = None): DataFrame = {
    // the batch fill's projection (arity and sample checks, NULL-key
    // filter) with the window as a prefix column
    val aggs = spec.storage.aggs(col("__w"), col("__s"))
    val base = Hist.project(spec, FillSpec(df, cols, weight, sample),
        prefix = Seq(window(tsCol, windowDuration).as("window")))
      .groupBy((col("window") +: spec.indexCols.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)
    spec.storage.finalizers.foldLeft(base) { case (d, (n, c)) => d.withColumn(n, c) }
  }

  /** Per-window quantile estimates over a [[windowedFill]] result — the
    * p50/p99-per-time-window monitoring estimator latency histograms
    * exist for. One rank space per window ([[HistAlgebra.quantilesBy]]
    * partitioned on the window struct), so every axis kind the batch
    * quantiles support (Regular/Integer closed form, Variable/Log/Sqrt
    * edge lookup) works per-window unchanged.
    *
    * Streaming composition: window functions can't run inside a
    * streaming aggregate, so apply this OUTSIDE the stream — in a
    * `foreachBatch` sink over the windowed fill (recompute quantiles for
    * the windows the batch touched) or on the complete/update-mode sink
    * table, as the stream-vs-batch spec does. The input is bin-count ×
    * open-windows sized — never data-sized — so the per-batch cost is a
    * few window tasks over tiny relations. */
  def windowedQuantiles(spec: HistSpec, h: DataFrame,
      qs: Seq[Double]): DataFrame =
    HistAlgebra.quantilesBy(spec, h, qs, Seq("window"))

  /** Per-window categorical counts — the streaming half of the drift
    * monitor (works on batch and streaming inputs alike; add a
    * watermark upstream for state eviction; state is keys × open
    * windows). */
  def windowedKeyCounts(df: DataFrame, tsCol: Column,
      windowDuration: String, keyCol: Column): DataFrame =
    df.groupBy(window(tsCol, windowDuration).as("window"),
        keyCol.as("key"))
      .agg(count(lit(1)).as("n"))

  /** Streaming DRIFT monitor finisher: each window's key distribution
    * vs a static REFERENCE distribution (key, n) — per (window, key)
    * KL(ref‖win) and PSI terms with the same add-one smoothing as
    * [[graft.ops.ProfileOps.distributionDrift]], smoothed over each
    * window's union key set, so appear/disappear keys stay finite.
    * The alert a live ingest pipeline wants: "this hour's source mix
    * stopped looking like the corpus we trained on".
    *
    * Chained streaming aggregations aren't allowed, so apply this
    * OUTSIDE the stream — in a `foreachBatch` over [[windowedKeyCounts]]
    * or on the complete/update-mode sink table (the
    * [[windowedQuantiles]] composition); the input is keys × open
    * windows sized, never data-sized. */
  def windowDrift(winCounts: DataFrame, reference: DataFrame): DataFrame = {
    // pin the (tiny: keys × open windows) counts relation once — the
    // grid construction references it three ways, and a raw self-join
    // through the union trips attribute-resolution conflicts
    val wc = winCounts.select(col("window"), col("key"),
      col("n").as("n_win")).lineageBarrier(eager = false)
    val ref = reference.select(col("key"), col("n").as("n_ref"))
    val wins = wc.select("window").distinct()
    // without it (sf0.1, 1 KB threshold, events-sized reference): CartesianProduct
    val grid = wins.crossJoin(broadcast(ref.select("key")))
      .unionByName(wc.select("window", "key"))
      .distinct()
    val j = grid
      .join(wc, Seq("window", "key"), "left")
      // without it (sf0.1, 1 KB threshold, events-sized reference): SortMergeJoin + 1 Exchange
      .join(broadcast(ref), Seq("key"), "left")
      .select(col("window"), col("key"),
        coalesce(col("n_win"), lit(0L)).as("n_win"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"))
    val totals = j.groupBy("window").agg(
      sum(col("n_win")).as("t_win"),
      sum(col("n_ref")).as("t_ref"),
      count(lit(1)).as("k"))
    j.join(totals, Seq("window"))
      .select(col("window"), col("key"), col("n_ref"), col("n_win"),
        ((col("n_ref") + lit(1L)).cast("double") /
          (col("t_ref") + col("k")).cast("double")).as("p"),
        ((col("n_win") + lit(1L)).cast("double") /
          (col("t_win") + col("k")).cast("double")).as("q"))
      .select(col("window"), col("key"), col("n_ref"), col("n_win"),
        round(col("p"), 9).as("p"), round(col("q"), 9).as("q"),
        round(col("p") * log(col("p") / col("q")), 6).as("kl_term"),
        round((col("p") - col("q")) * log(col("p") / col("q")), 6).as("psi_term"))
  }
}
