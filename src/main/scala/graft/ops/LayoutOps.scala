package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multidimensional data LAYOUT for scan pruning: Z-order (Morton)
  * interleave keys and the range-clustered parquet sink that uses them.
  *
  * The 100 TB problem this solves: a corpus partitioned by ONE key
  * (date, say) only prunes scans filtered on that key. Training-data
  * reads routinely filter on two or three (source x time, domain x
  * quality band, user x hour); bit-interleaving the filter columns into
  * one sort key makes every parquet file a small axis-aligned box in
  * the multidimensional space, so ANY conjunctive box predicate touches
  * only the files whose boxes intersect it — min/max footer stats prune
  * the rest without reading a byte. This is the public Z-order
  * clustering design (Morton 1966; the OPTIMIZE ZORDER BY pattern in
  * lakehouse engines), built from plain codegen'd bit arithmetic — no
  * UDF, no custom expression needed.
  *
  * The key is engine-portable (BIGINT shifts/masks behave identically
  * in DuckDB), so the layout decision itself is oracle-checkable — the
  * driver query `zorder_key` hash-matches the interleave against SQL.
  */
object LayoutOps {

  /** Spread the low 16 bits of a non-negative long so a second
    * dimension can interleave into the odd positions (the classic
    * magic-mask dilation — 4 shift/or/mask rounds instead of 16
    * single-bit extracts; identical BIGINT semantics in DuckDB). */
  private def spread2(x: Column): Column = {
    val x0 = x.bitwiseAND(lit(0xFFFFL))
    val x1 = (x0.bitwiseOR(shiftleft(x0, 8))).bitwiseAND(lit(0x00FF00FFL))
    val x2 = (x1.bitwiseOR(shiftleft(x1, 4))).bitwiseAND(lit(0x0F0F0F0FL))
    val x3 = (x2.bitwiseOR(shiftleft(x2, 2))).bitwiseAND(lit(0x33333333L))
    (x3.bitwiseOR(shiftleft(x3, 1))).bitwiseAND(lit(0x55555555L))
  }

  private def spread2Sql(x: String): String = {
    val x0 = s"(($x) & 65535)"
    val x1 = s"((($x0 | ($x0 << 8)) & 16711935))"
    val x2 = s"((($x1 | ($x1 << 4)) & 252645135))"
    val x3 = s"((($x2 | ($x2 << 2)) & 858993459))"
    s"((($x3 | ($x3 << 1)) & 1431655765))"
  }

  /** 2-D Morton key over the low 16 bits of two non-negative longs:
    * `a`'s bits land in even positions, `b`'s in odd. Monotone in each
    * argument within any aligned quadrant — the property that turns
    * range-partitioning on the key into 2-D box pruning. Inputs must
    * already be quantized to [0, 65535] (mask applied defensively);
    * quantization choice — equi-width buckets, hash buckets, a
    * [[graft.hist.Axis]] bin index — is the caller's, and determines
    * what box predicates the layout serves. */
  def mortonKey2(a: Column, b: Column): Column =
    spread2(a.cast("long")).bitwiseOR(shiftleft(spread2(b.cast("long")), 1))

  /** DuckDB twin of [[mortonKey2]] — same masks, same shifts, BIGINT
    * end to end. */
  def mortonKey2Sql(a: String, b: String): String =
    s"(${spread2Sql(a)} | (${spread2Sql(b)} << 1))"

  /** Driver-side reference interleave (tests + file-pruning math). */
  def mortonKey2Local(a: Long, b: Long): Long = {
    def sp(x0: Long): Long = {
      var x = x0 & 0xFFFFL
      x = (x | (x << 8)) & 0x00FF00FFL
      x = (x | (x << 4)) & 0x0F0F0F0FL
      x = (x | (x << 2)) & 0x33333333L
      (x | (x << 1)) & 0x55555555L
    }
    sp(a) | (sp(b) << 1)
  }

  /** Z-cluster `df` into `numFiles` parquet files ordered by `zkey`:
    * range-partition on the key (each output file owns one contiguous
    * key range), sort within partitions (row groups inside a file are
    * boxes too), write with the key column retained so parquet footers
    * carry its min/max.
    *
    * 100 TB shape: `repartitionByRange` samples the key distribution
    * (reservoir per partition — one extra pass over the key column
    * only) and balances files even under skewed occupancy of the
    * Z-space; the sort is per-partition, never global. This is a
    * one-time layout cost paid at ingest, amortized over every
    * subsequent pruned scan — the same economics as
    * [[PipelineOps.writeTrainingShards]] and the PQ index sidecar. */
  def writeZOrdered(df: DataFrame, zkey: Column, path: String,
      numFiles: Int): Unit = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    df.withColumn("zkey", zkey)
      .repartitionByRange(numFiles, col("zkey"))
      .sortWithinPartitions("zkey")
      .write.mode("overwrite").parquet(path)
  }

  /** Small-file compaction PLAN: deterministic offset-bin packing of a
    * file manifest into target-size output files, per partition.
    *
    * The 100 TB problem: streaming sinks, per-executor writers and
    * incremental appends leave hive-style tables with millions of
    * kilobyte files; every subsequent scan then pays a task per file
    * and the NameNode/object-store listing dominates the job. The
    * remedy every lakehouse engine ships (OPTIMIZE / compaction) starts
    * from exactly this plan: group small files into target-size output
    * bins WITHOUT crossing partition boundaries and WITHOUT reordering
    * rows (order-preserving compaction keeps any clustering the layout
    * already paid for — see [[writeZOrdered]]).
    *
    * Packing rule: files ordered by `fileCol` within each `partCol`
    * value; a file's bin is `floor(bytes-before-it / targetBytes)` —
    * i.e. a new bin opens exactly when the cumulative size crosses a
    * target multiple. Each bin overshoots the target by less than one
    * file, the assignment is a single window pass, and — because it is
    * pure BIGINT prefix-sum arithmetic — the whole plan is
    * oracle-checkable in SQL (driver query `layout_compaction`).
    *
    * 100 TB shape: one shuffle on `partCol`; the sequential prefix sum
    * runs per PARTITION DIRECTORY (thousands of manifest rows each,
    * never corpus rows), while distinct partitions pack in parallel.
    * The manifest itself is file-count-sized — at 100 TB with 128 MB
    * files that is ~800k rows, a trivially small DataFrame. Executing
    * the plan is then an embarrassingly parallel copy per bin.
    *
    * Contract: `bytesCol` must be non-negative and non-null — a
    * negative or null size means a corrupt manifest and the plan
    * refuses loudly rather than packing garbage (same fail-loud rule as
    * [[GraphOps.weightedPageRank]]). */
  def compactionPlan(manifest: DataFrame, partCol: String, fileCol: String,
      bytesCol: String, targetBytes: Long): DataFrame = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val m = manifest.select(col(partCol), col(fileCol),
      col(bytesCol).cast("long").as("bytes"))
    require(m.filter(col("bytes").isNull || col("bytes") < 0L).isEmpty,
      s"compactionPlan: $bytesCol must be non-null and non-negative")
    m.withColumn("bin",
      expr(s"coalesce(sum(bytes) over (partition by $partCol order by $fileCol " +
        s"rows between unbounded preceding and 1 preceding), 0L) div ${targetBytes}L"))
  }

  /** DuckDB twin of [[compactionPlan]] over the `documents` table read
    * as a synthetic manifest (source = partition dir, doc_id = file,
    * n_chars = file bytes): same window frame, same BIGINT integer
    * division. */
  def compactionPlanSql(targetBytes: Long): String =
    s"""SELECT source, doc_id, CAST(n_chars AS BIGINT) AS bytes,
       |  CAST(COALESCE(sum(CAST(n_chars AS BIGINT)) OVER (
       |     PARTITION BY source ORDER BY doc_id
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |   // $targetBytes AS BIGINT) AS bin
       |FROM documents""".stripMargin

  /** Deterministic RANGE-PARTITION PLAN from the bottom-k quantile
    * sketch: equi-depth boundaries at i/buckets (i = 1..buckets−1) of
    * the sketch sample, then one pass assigning every row to its range
    * and reporting the realized balance — the write-path range
    * clustering decision (sort keys for a range-clustered sink, split
    * points for a custom partitioner) WITHOUT a global sort.
    *
    * Spark's own RangePartitioner answers the same question with a
    * NONDETERMINISTIC reservoir sample (two runs → two layouts); this
    * plan is a pure function of the data — the portable-hash sample is
    * replayable, so the boundaries are certifiable against the
    * relational oracle and stable across reruns/partitionings
    * (LayoutSpec pins both).
    *
    * Assignment: bucket(v) = |{ b ∈ boundaries : v > b }| — a ≤
    * (buckets−1)-element fold per row over the broadcast one-row
    * boundary array. Returns one row per NON-EMPTY bucket: (bucket,
    * n_rows, hi) with hi = the bucket's upper boundary (null for the
    * last). Sample error O(1/√k) bounds the balance skew; buckets ≪ k
    * or the boundaries repeat.
    *
    * 100 TB shape: one scan for the sketch (k·16-byte partial buffers),
    * one scan for the assignment with a (buckets−1)-double broadcast —
    * vs the global sort a naive equi-depth split pays. */
  def rangePlan(df: DataFrame, keyCol: Column, valueCol: Column,
      buckets: Int, k: Int = 256): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    require(k >= buckets, s"sample k=$k must be >= buckets=$buckets")
    val vals = df.select(keyCol.cast("string").as("key"),
      valueCol.cast("double").as("v")).filter(col("v").isNotNull)
    val bounds = rangeBoundsDf(vals, col("key"), col("v"), buckets, k)
      .withColumnRenamed("__bounds", "bounds")
    vals.crossJoin(bounds)
      .select(rangeBucketOf("v", "bounds").as("bucket"),
        col("bounds"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        first(when(col("bucket") < (buckets - 1).toLong,
          expr("element_at(bounds, CAST(bucket + 1 AS INT))"))).as("hi"))
  }

  /** DuckDB twin of [[rangePlan]]: `keyedCte` must yield (key, v) by the
    * identical expressions; same sketch recompute, same order-statistic
    * boundaries, same strict-greater fold assignment. */
  def rangePlanSql(keyedCte: String, buckets: Int, k: Int = 256): String = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val qs = (1 until buckets)
      .map(i => s"s[greatest(1, CAST(ceil(${i.toDouble / buckets} * len(s))" +
        " AS INT))]").mkString(", ")
    s"""WITH keyed AS ($keyedCte),
       |sk AS (${SketchOps.quantileSketchSampleSql("SELECT 'all' AS grp, key, v FROM keyed", k)}),
       |bd AS (SELECT [$qs] AS bounds FROM sk),
       |assigned AS (
       |  SELECT len(list_filter(bd.bounds, b -> v > b)) AS bucket
       |  FROM keyed CROSS JOIN bd),
       |grouped AS (
       |  SELECT CAST(bucket AS BIGINT) AS bucket,
       |    CAST(count(*) AS BIGINT) AS n_rows
       |  FROM assigned GROUP BY 1)
       |SELECT g.bucket, g.n_rows,
       |  CASE WHEN g.bucket < ${buckets - 1}
       |    THEN bd.bounds[CAST(g.bucket + 1 AS INT)] END AS hi
       |FROM grouped g CROSS JOIN bd""".stripMargin
  }

  // ---- monotone range buckets (the distributed-window substrate) -------
  /** One-row bounds relation for [[rangeBucketOf]]: the (buckets−1)
    * deterministic sketch quantiles of `valueCol` — [[rangePlan]]'s
    * boundary planning exposed as a reusable piece, because the same
    * boundaries turn any GLOBAL ordered window into per-bucket windows
    * plus a bounded bucket-offset prefix sum (the
    * [[graft.ops.PipelineOps.tokenBudgetMix]] two-phase pattern pointed
    * at value order instead of hash order). `keyCol` must be row-unique
    * over `rel` (the sketch contract); empty input yields one row of
    * null bounds, under which every row lands in bucket 0. Output: one
    * row, column `__bounds` array<double>. */
  def rangeBoundsDf(rel: DataFrame, keyCol: Column, valueCol: Column,
      buckets: Int, k: Int = 1024): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    require(k >= buckets, s"sample k=$k must be >= buckets=$buckets")
    val vals = rel.select(keyCol.cast("string").as("__rb_key"),
      valueCol.cast("double").as("__rb_v")).filter(col("__rb_v").isNotNull)
    val sk = SketchOps.quantileSketch(vals, Nil, col("__rb_key"),
      col("__rb_v"), k)
    // ONE transform over the boundary indices, not (buckets−1) separate
    // CASE+element_at columns — the expanded form blew the 64 KB
    // generated-method limit at 256 buckets (the SCALE.md CASE-fan-out
    // cliff; one-row relation, but codegen size is plan-shaped). The
    // in-lambda arithmetic ceil((i/B)·|s|) computes the IDENTICAL
    // double as [[SketchOps.sketchQuantile]]'s driver-literal q
    // (correctly-rounded small-int division), so the boundaries match
    // the shared readout definition bit-for-bit. Empty (or
    // all-null-value) input yields null bounds (every row → bucket 0)
    // instead of an ANSI INVALID_ARRAY_INDEX while planning.
    sk.select(when(size(col("sample")) > 0,
        expr(s"transform(sequence(1, ${buckets - 1}), i -> " +
          s"element_at(sample, greatest(1, CAST(ceil(CAST(i AS DOUBLE) " +
          s"/ ${buckets}.0D * size(sample)) AS INT))))"))
      .otherwise(expr(s"array_repeat(CAST(NULL AS DOUBLE), ${buckets - 1})"))
      .as("__bounds"))
  }

  /** Monotone bucket assignment against [[rangeBoundsDf]] boundaries:
    * bucket(v) = #{b ∈ bounds : v > b}, computed by the native
    * binary-search expression [[graft.functions.RangeBucket]] (the
    * bounds are non-decreasing by construction — sample quantiles at
    * increasing q). NON-DECREASING in v with equal values always
    * sharing a bucket, so a window ordered by (v, …) within each
    * bucket, offset by the cumulative count of the buckets below,
    * reproduces the corresponding GLOBAL ordered window EXACTLY — the
    * property [[graft.ops.ProfileOps.giniIndex]] and
    * [[graft.ops.PipelineOps.quantileNormalize]] build their
    * straggler-free forms on. (An `aggregate(…)` HOF fold here blew
    * the 64 KB generated-method limit at 256 buckets and fell back to
    * interpreted execution — the SCALE.md CASE-fan-out cliff; the
    * expression is O(log buckets) and stays inside codegen.) */
  def rangeBucketOf(valueName: String, boundsName: String = "__bounds")
      : Column =
    graft.functions.RangeBucket(col(valueName).cast("double"),
      col(boundsName))

  /** Per-file (min, max) of `zkey` in a Z-ordered dataset — what the
    * scan planner's footer pruning sees. Driver-sized by construction
    * (one row per FILE); used by tests and the SCALE.md exhibit to
    * measure the pruned fraction for a box predicate. */
  def fileZRanges(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    // list via the Hadoop FileSystem API so the audit works on any
    // filesystem the session can read (object store, HDFS, local alike)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(p).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
    files.toSeq.map { f =>
      val r = spark.read.parquet(f).agg(min(col("zkey")), max(col("zkey"))).head()
      (f, r.getLong(0), r.getLong(1))
    }
  }
}
