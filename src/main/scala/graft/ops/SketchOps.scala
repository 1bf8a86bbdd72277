package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sketch-based approximate analytics: a count-min sketch (Cormode &
  * Muthukrishnan 2005) over the token stream, with deterministic seeded
  * hash rows so the whole pipeline — sketch build AND probe — is
  * engine-portable and DuckDB-oracle-checkable (the same move that made
  * MinHash/SimHash hash-checkable via PolyHash).
  *
  * Scale shape (the 100 TB story): the sketch is a FIXED depth×width cell
  * grid (4×1024 = 32 KiB of counters here) no matter the corpus size.
  * Building it is one groupBy over (row, bucket): map-side partial
  * aggregation compresses every partition to ≤ depth·width rows before the
  * shuffle, so the exchange carries O(partitions · depth · width) rows —
  * same shape as the histogram fill path. Point queries touch `depth`
  * cells. This is the standard answer to "top-k / frequency over a stream
  * too big to hold exact counts per key".
  */
object SketchOps {

  final val P: Long = graft.functions.PolyHash.P

  /** Seeded pairwise hash family (a_r, b_r) for the sketch rows —
    * deterministic and public so the DuckDB oracle embeds the same
    * coefficients. 31-bit range keeps h·a+b < 2^62 (ANSI-safe). */
  def cmsCoefficients(depth: Int, seed: Long = 7L): (Array[Long], Array[Long]) = {
    val rng = new scala.util.Random(seed)
    val as = Array.fill(depth)((rng.nextLong() >>> 1) % (P - 1) + 1)
    val bs = Array.fill(depth)((rng.nextLong() >>> 1) % P)
    (as, bs)
  }

  private def bucketCol(h: Column, a: Long, b: Long, width: Int): Column =
    pmod(pmod(h * lit(a) + lit(b), lit(P)), lit(width.toLong))

  /** (row, bucket) cell generator over the `tok` column — the ONE place
    * the sketch's cell layout is defined (batch and windowed sketches must
    * agree on it or their contents silently diverge). */
  private def cellGen(depth: Int, width: Int, seed: Long): Column = {
    val (as, bs) = cmsCoefficients(depth, seed)
    val h = graft.functions.PolyHash(col("tok"))
    posexplode(array((0 until depth).map(r =>
      bucketCol(h, as(r), bs(r), width)): _*))
  }

  /** The sketch relation (r, bucket, cnt) for a token column: every token
    * increments one bucket per hash row. */
  def cmsSketch(tokens: DataFrame, depth: Int, width: Int, seed: Long): DataFrame =
    tokens
      .select(cellGen(depth, width, seed).as(Seq("r", "bucket")))
      .groupBy("r", "bucket").agg(count(lit(1)).as("cnt"))

  /** Time-windowed sketch: one count-min grid per event-time window —
    * (window, r, bucket, cnt). Works on batch and streaming inputs alike
    * (add `.withWatermark` upstream for state eviction); state per open
    * window is bounded by depth·width cells, the sketch's whole point.
    * The streaming twin of [[cmsSketch]], same shape as
    * [[graft.streaming.StreamingHist.windowedFill]]. */
  def windowedCmsSketch(tokens: DataFrame, tsCol: Column, windowDuration: String,
      depth: Int = 4, width: Int = 1024, seed: Long = 7L): DataFrame =
    tokens
      .select(window(tsCol, windowDuration).as("window"),
        cellGen(depth, width, seed).as(Seq("r", "bucket")))
      .groupBy("window", "r", "bucket").agg(count(lit(1)).as("cnt"))

  /** Equi-join cardinality estimate from two count-min sketches
    * (Cormode & Muthukrishnan 2005, §4.2: the CM inner product):
    * |A ⋈_k B| = Σ_k f_A(k)·f_B(k), estimated as min over sketch rows
    * of Σ_bucket cntA(r,b)·cntB(r,b) — one-sided (always ≥ exact),
    * error ≤ e/width · |A|·|B| with prob. 1−e^−depth. The statistic a
    * planner wants BEFORE committing to a shuffle join: two
    * depth×width sketches answer it without co-locating either side,
    * and persisted sketches answer it with zero scans. The exact
    * product rides along as the error exhibit (it costs the real
    * key-join the sketch exists to avoid). Cell counts are exact
    * integers, so the estimate is deterministic and the oracle
    * recomputes it relationally. */
  def cmsJoinSize(aTok: DataFrame, bTok: DataFrame, depth: Int = 4,
      width: Int = 1024, seed: Long = 7L): DataFrame = {
    val sa = cmsSketch(aTok, depth, width, seed)
    val sb = cmsSketch(bTok, depth, width, seed)
    val est = sa.as("a")
      .join(sb.as("b"), Seq("r", "bucket"))
      .groupBy("r").agg(sum(col("a.cnt") * col("b.cnt")).as("dot"))
      .agg(min("dot").as("join_size_est"))
    val exact = aTok.groupBy("tok").agg(count(lit(1)).as("ca"))
      .join(bTok.groupBy("tok").agg(count(lit(1)).as("cb")), Seq("tok"))
      .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("join_size_exact"))
    est.crossJoin(exact)
  }

  /** DuckDB twin of [[cmsJoinSize]] over two `tok`-columned CTEs. */
  def cmsJoinSizeSql(aCte: String, bCte: String, depth: Int = 4,
      width: Int = 1024, seed: Long = 7L): String = {
    val (as, bs) = cmsCoefficients(depth, seed)
    val coef = (0 until depth).map(r => s"($r, ${as(r)}, ${bs(r)})").mkString(", ")
    def poly(c: String) = graft.functions.PolyHash.sql(c)
    s"""WITH ta AS ($aCte),
       |tb AS ($bCte),
       |coef(r, a, b) AS (VALUES $coef),
       |ca AS (
       |  SELECT r, (((${poly("tok")}) * a + b) % $P) % $width AS bucket,
       |    count(*) AS cnt
       |  FROM ta CROSS JOIN coef GROUP BY 1, 2),
       |cb AS (
       |  SELECT r, (((${poly("tok")}) * a + b) % $P) % $width AS bucket,
       |    count(*) AS cnt
       |  FROM tb CROSS JOIN coef GROUP BY 1, 2),
       |dots AS (
       |  SELECT ca.r, CAST(sum(ca.cnt * cb.cnt) AS BIGINT) AS dot
       |  FROM ca JOIN cb ON ca.r = cb.r AND ca.bucket = cb.bucket
       |  GROUP BY 1),
       |est AS (SELECT CAST(min(dot) AS BIGINT) AS join_size_est FROM dots),
       |ex AS (
       |  SELECT CAST(coalesce(sum(fa.n * fb.n), 0) AS BIGINT)
       |    AS join_size_exact
       |  FROM (SELECT tok, count(*) AS n FROM ta GROUP BY 1) fa
       |  JOIN (SELECT tok, count(*) AS n FROM tb GROUP BY 1) fb
       |    USING (tok))
       |SELECT join_size_est, join_size_exact FROM est CROSS JOIN ex""".stripMargin
  }

  /** Count-min estimates vs exact counts for a fixed probe vocabulary:
    * (token, exact_n, cms_est), est = min over rows of the probed cells —
    * always ≥ exact (one-sided error, ε ≈ e/width of the stream length).
    * The exact pass exists to EXHIBIT the sketch error; production keeps
    * only the sketch. */
  def cmsTokenCounts(docs: DataFrame, probes: Seq[String], depth: Int = 4,
      width: Int = 1024, seed: Long = 7L, textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // duplicate probes were harmless in the old explode/isin form and
    // must stay harmless here (TermCounts requires a distinct vocab);
    // an empty probe list has no meaningful output row, reject loudly
    val distinctProbes = probes.distinct
    require(distinctProbes.nonEmpty, "cmsTokenCounts needs at least one probe token")
    val (as, bs) = cmsCoefficients(depth, seed)
    val src = Spread(docs)
    // grid built as ONE buffer aggregate straight from text
    // ([[graft.functions.CmsAgg]] — cell layout identical to cmsSketch):
    // no token explode, no depth× row fan-out; only 32 KiB grids merge.
    // The exploded (r, bucket, cnt) relation below is just the O(grid)
    // driver-side presentation of the finished sketch.
    val sketch = src.select(col(textCol).as("__t"))
      .agg(graft.functions.CmsAgg(col("__t"), depth, width, as, bs).as("__g"))
      .select(posexplode(col("__g")).as(Seq("__pos", "cnt")))
      .filter(col("cnt") > 0)
      .select(expr(s"__pos div $width").cast("int").as("r"),
        expr(s"__pos % $width").cast("long").as("bucket"), col("cnt"))
    val probeBuckets = distinctProbes.toDF("token")
      .select(col("token"), posexplode(array((0 until depth).map(r =>
        bucketCol(graft.functions.PolyHash(col("token")), as(r), bs(r), width)): _*))
        .as(Seq("r", "bucket")))
    // left join: a probe whose cell no token ever hit estimates 0. The
    // sketch (≤ depth·width rows by construction) is the broadcast side.
    val est = probeBuckets.join(sketch, Seq("r", "bucket"), "left")
      .groupBy("token")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))
    // exact counts for the error exhibit: native per-doc term counts
    // ([[graft.functions.TermCounts]]) summed — again no token explode
    val exact = src
      .select(posexplode(slice(graft.functions.TermCounts(col(textCol), distinctProbes), 2,
        distinctProbes.size)).as(Seq("vidx", "c")))
      .groupBy("vidx").agg(sum(col("c")).as("exact_n"))
      .select(element_at(typedlit(distinctProbes), col("vidx") + 1).as("token"),
        col("exact_n"))
    distinctProbes.toDF("token")
      .join(exact, Seq("token"), "left")
      .join(est, Seq("token"))
      .select(col("token"), coalesce(col("exact_n"), lit(0L)).as("exact_n"),
        col("cms_est"))
  }

  // ---- sketch persistence + cross-snapshot merge -------------------------
  /** A persisted CMS: the cell relation plus the parameters that define
    * its hash family. Sketches are only mergeable when (depth, width,
    * seed) agree — the sidecar makes that checkable instead of silent. */
  final case class CmsSketch(depth: Int, width: Int, seed: Long, cells: DataFrame)

  /** Persist cells + parameter sidecar under `path` (overwrites) — the
    * incremental-corpus pattern: sketch each snapshot once, merge
    * sketches instead of rescanning history. Same layout discipline as
    * [[graft.hist.HistIO]] (plain parquet, typed sidecar). */
  def writeCms(s: CmsSketch, path: String): Unit = {
    val spark = s.cells.sparkSession
    import spark.implicits._
    s.cells.write.mode("overwrite").parquet(s"$path/data")
    Seq((s.depth, s.width, s.seed)).toDF("depth", "width", "seed")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  def readCms(spark: org.apache.spark.sql.SparkSession, path: String): CmsSketch = {
    val m = spark.read.parquet(s"$path/meta").collect()(0)
    CmsSketch(m.getInt(0), m.getInt(1), m.getLong(2),
      spark.read.parquet(s"$path/data"))
  }

  /** Merge two sketches of the SAME family: cellwise counter sum — exact
    * (CMS counters are additive), associative, and O(depth·width) work no
    * matter how many rows each sketch summarized. */
  def mergeCms(a: CmsSketch, b: CmsSketch): CmsSketch = {
    require(a.depth == b.depth && a.width == b.width && a.seed == b.seed,
      s"sketch families differ: (${a.depth},${a.width},${a.seed}) vs " +
        s"(${b.depth},${b.width},${b.seed}) — estimates would be garbage")
    CmsSketch(a.depth, a.width, a.seed,
      a.cells.unionByName(b.cells)
        .groupBy("r", "bucket").agg(sum(col("cnt")).as("cnt")))
  }

  /** Driver-side KMV union for persisted k-minima arrays: the k smallest
    * distinct values of the combined sets — the same law the aggregate's
    * merge obeys (see PropertySpec), for sketches stored out-of-band. */
  def kmvUnion(a: Seq[Long], b: Seq[Long], k: Int): Seq[Long] =
    (a ++ b).distinct.sorted.take(k)

  // ---- KMV distinct-count sketch -----------------------------------------
  /** Distinct-count estimate via the k-minimum-values sketch
    * ([[graft.functions.KmvAgg]]) next to the exact `countDistinct`, one
    * output row (n_exact, kmv_est). The exact column exists to EXHIBIT the
    * sketch error (±1/√k); production keeps only the k-long sketch — no
    * distinct-domain shuffle, mergeable across partitions/snapshots. */
  /** Affine post-mix (a·h + b) mod P over the raw PolyHash: structured
    * strings hash to CLUSTERED polynomial values, which skews the low
    * order statistics KMV estimates from (measured: 13× low-tail deficit
    * on sequential strings → estimate off by 12×). The same decorrelation
    * MinHash uses, with the same portable SQL form. */
  private val (kmvA, kmvB): (Long, Long) = {
    val (as, bs) = cmsCoefficients(1, seed = 11L)
    (as(0), bs(0))
  }

  /** Affine-mixed KMV input hash — ONE definition for the batch and
    * windowed forms (and the reason their estimates cannot drift). */
  private def kmvHashCol(value: Column): Column =
    pmod(graft.functions.PolyHash(value) * lit(kmvA) + lit(kmvB), lit(P))

  /** Order-statistic estimate from a k-minima buffer column (shared by
    * the batch and windowed forms). */
  private def kmvEstimateCol(kmv: Column, k: Int): Column =
    when(size(kmv) < k, size(kmv).cast("double"))
      .otherwise(round(lit((k - 1).toDouble) * lit(P.toDouble) /
        element_at(kmv, k).cast("double"), 6))

  def kmvDistinct(rel: DataFrame, value: Column, k: Int = 256): DataFrame =
    rel.agg(
        countDistinct(value).as("n_exact"),
        graft.functions.KmvAgg(kmvHashCol(value), k).as("kmv"))
      .select(col("n_exact"), kmvEstimateCol(col("kmv"), k).as("kmv_est"))

  /** Windowed KMV distinct estimate — the sliding/tumbling-window form of
    * [[kmvDistinct]], completing the windowed sketch trio (CMS, HLL,
    * KMV). State per open window is the k-minima buffer (k longs), and
    * the same code path serves batch and `groupBy(window(...))`
    * streaming aggregation. Returns (window, kmv_est). */
  def windowedKmvDistinct(rel: DataFrame, tsCol: Column, value: Column,
      windowDuration: String, k: Int = 256): DataFrame =
    rel.groupBy(window(tsCol, windowDuration).as("window"))
      .agg(graft.functions.KmvAgg(kmvHashCol(value), k).as("kmv"))
      .select(col("window"), kmvEstimateCol(col("kmv"), k).as("kmv_est"))

  /** DuckDB twin of [[kmvDistinct]]: `relCte` must yield the value column
    * named by `valueCol`. */
  def kmvDistinctSql(relCte: String, valueCol: String, k: Int = 256): String = {
    val poly = graft.functions.PolyHash.sql(valueCol)
    s"""WITH rel AS ($relCte),
       |hs AS (SELECT DISTINCT (($poly) * $kmvA + $kmvB) % $P AS h FROM rel),
       |km AS (SELECT h FROM hs ORDER BY h LIMIT $k),
       |kk AS (SELECT max(h) AS hk, count(*) AS nk FROM km),
       |ex AS (SELECT CAST(count(DISTINCT $valueCol) AS BIGINT) AS n_exact FROM rel)
       |SELECT n_exact,
       |  CASE WHEN nk < $k THEN CAST(nk AS DOUBLE)
       |       ELSE round(${(k - 1)}.0 * $P.0 / CAST(hk AS DOUBLE), 6) END AS kmv_est
       |FROM ex CROSS JOIN kk""".stripMargin
  }

  /** KMV set algebra (Beyer et al., SIGMOD 2007): distinct-count
    * estimates for A, B, A∪B plus Jaccard and intersection estimates —
    * from two k-long sketches, never from the raw sets. The union
    * sketch is the k smallest of the combined minima (the same law
    * [[kmvUnion]] states); the Jaccard estimator is ρ = |{h ∈ K(A∪B) :
    * h ∈ K(A) ∧ h ∈ K(B)}| / |K(A∪B)|, and the intersection estimate
    * is ρ · D̂(A∪B). Everything downstream of the two aggregates is
    * array math on one row.
    *
    * 100 TB shape: each side reduces map-side to a k-long buffer —
    * audience-overlap between two segments costs two scans (or zero,
    * against persisted sketches) and never shuffles the distinct
    * domain. Exact overlap is emitted alongside as the error exhibit
    * (production drops it — it costs the real distinct join).
    * Deterministic given the portable hash, so the oracle recomputes
    * every estimate relationally and the row hash-matches. */
  def kmvSetOps(a: DataFrame, b: DataFrame, value: Column,
      k: Int = 256): DataFrame = {
    val sa = a.agg(graft.functions.KmvAgg(kmvHashCol(value), k).as("ka"))
    val sb = b.agg(graft.functions.KmvAgg(kmvHashCol(value), k).as("kb"))
    val exact = a.select(value.as("v")).intersect(b.select(value.as("v")))
      .agg(count(lit(1)).as("n_exact_inter"))
    val ku = slice(array_sort(array_distinct(concat(col("ka"), col("kb")))), 1, k)
    val rhoN = size(filter(col("ku"),
      x => array_contains(col("ka"), x) && array_contains(col("kb"), x)))
    sa.crossJoin(sb).crossJoin(exact)
      .withColumn("ku", ku)
      .withColumn("est_a", kmvEstimateCol(col("ka"), k))
      .withColumn("est_b", kmvEstimateCol(col("kb"), k))
      .withColumn("est_union", kmvEstimateCol(col("ku"), k))
      .withColumn("jaccard_est",
        round(rhoN.cast("double") / size(col("ku")), 6))
      .withColumn("est_inter",
        round(col("jaccard_est") * col("est_union"), 6))
      .select("est_a", "est_b", "est_union", "jaccard_est", "est_inter",
        "n_exact_inter")
  }

  /** DuckDB twin of [[kmvSetOps]]: same mixed hash, same order
    * statistics, same rounded-operand order for the derived estimates. */
  def kmvSetOpsSql(relACte: String, relBCte: String, valueCol: String,
      k: Int = 256): String = {
    val poly = graft.functions.PolyHash.sql(valueCol)
    def est(nCol: String, hkCol: String) =
      s"CASE WHEN $nCol < $k THEN CAST($nCol AS DOUBLE) " +
        s"ELSE round(${k - 1}.0 * $P.0 / CAST($hkCol AS DOUBLE), 6) END"
    s"""WITH ra AS ($relACte),
       |rb AS ($relBCte),
       |ha AS (SELECT DISTINCT (($poly) * $kmvA + $kmvB) % $P AS h FROM ra),
       |hb AS (SELECT DISTINCT (($poly) * $kmvA + $kmvB) % $P AS h FROM rb),
       |ka AS (SELECT h FROM ha ORDER BY h LIMIT $k),
       |kb AS (SELECT h FROM hb ORDER BY h LIMIT $k),
       |ku AS (SELECT h FROM (SELECT h FROM ha UNION SELECT h FROM hb)
       |       ORDER BY h LIMIT $k),
       |su AS (SELECT count(*) AS nu, max(h) AS hku FROM ku),
       |s1 AS (SELECT count(*) AS na, max(h) AS hka FROM ka),
       |s2 AS (SELECT count(*) AS nb, max(h) AS hkb FROM kb),
       |rho AS (SELECT count(*) AS rn FROM ku
       |        WHERE h IN (SELECT h FROM ka) AND h IN (SELECT h FROM kb)),
       |ex AS (SELECT CAST(count(*) AS BIGINT) AS n_exact_inter FROM
       |        (SELECT DISTINCT $valueCol FROM ra
       |         INTERSECT SELECT DISTINCT $valueCol FROM rb)),
       |es AS (SELECT
       |  ${est("na", "hka")} AS est_a,
       |  ${est("nb", "hkb")} AS est_b,
       |  ${est("nu", "hku")} AS est_union,
       |  round(CAST(rn AS DOUBLE) / nu, 6) AS jaccard_est
       |  FROM s1 CROSS JOIN s2 CROSS JOIN su CROSS JOIN rho)
       |SELECT est_a, est_b, est_union, jaccard_est,
       |  round(jaccard_est * est_union, 6) AS est_inter, n_exact_inter
       |FROM es CROSS JOIN ex""".stripMargin
  }

  // ---- bottom-k quantile sketch -------------------------------------------
  /** Affine mix for the quantile-sample hash — bottom-k order statistics
    * are the same shallow use of the hash as KMV, so the affine mix that
    * fixes KMV suffices; distinct seed from CMS (7), KMV (11), HLL (13)
    * so co-resident sketches never correlate. */
  // exposed for ApproxQuantileRewrite's catalyst hash mirror (one
  // definition), the hllA/hllB discipline
  private[graft] val (qsA, qsB): (Long, Long) = {
    val (as, bs) = cmsCoefficients(1, seed = 17L)
    (as(0), bs(0))
  }

  /** Mixed portable hash feeding [[graft.functions.QuantileSketchAgg]] —
    * `key` must be row-unique (an id column), NOT the measured value:
    * hashing the value itself would collapse duplicate measurements and
    * sample the distinct-value distribution instead of the data
    * distribution. */
  def quantileSketchHash(key: Column): Column =
    pmod(graft.functions.PolyHash(key) * lit(qsA) + lit(qsB), lit(P))

  /** Per-group bottom-k quantile sketch: (groupCols..., sample
    * array<double> sorted ascending). One groupBy, k·16-byte buffers,
    * map-side combine — the [[hllRegisters]] shape pointed at order
    * statistics. See [[graft.functions.QuantileSketchAgg]] for the
    * design trade vs KLL/t-digest. */
  def quantileSketch(rel: DataFrame, groupCols: Seq[String], key: Column,
      value: Column, k: Int = 256): DataFrame =
    rel.groupBy(groupCols.map(col): _*)
      .agg(graft.functions.QuantileSketchAgg(
        quantileSketchHash(key), value.cast("double"), k).as("sample"))

  /** Type-1 quantile readout from a sketch sample column: the
    * ⌈q·|s|⌉-th smallest sampled value, as visible column arithmetic so
    * the oracle mirrors it verbatim (the [[hllEstimate]] split). q·|s|
    * is exact in double for the q grid anyone passes (|s| ≤ k ≪ 2^52),
    * so the ceil cannot straddle an engine boundary. */
  def sketchQuantile(sample: Column, q: Double): Column =
    element_at(sample,
      greatest(lit(1), ceil(lit(q) * size(sample)).cast("int")))

  /** Per-window bottom-k quantile sketch — the same aggregate under a
    * time window, so it serves `readStream` inputs unchanged (standard
    * windowed aggregation state; stream-vs-batch pinned in
    * QuantileSketchSpec): axis-free windowed percentiles, the
    * latency-monitoring readout [[graft.streaming.StreamingHist]]'s
    * histogram quantiles need a pre-declared axis for. */
  def windowedQuantileSketch(rel: DataFrame, tsCol: Column,
      windowDuration: String, key: Column, value: Column,
      k: Int = 256): DataFrame =
    rel.groupBy(window(tsCol, windowDuration).as("window"))
      .agg(graft.functions.QuantileSketchAgg(
        quantileSketchHash(key), value.cast("double"), k).as("sample"))

  /** PERSISTENCE form: the full (h, v) pair array per group — pairs ARE
    * the sketch state, so per-snapshot samples stored out-of-band merge
    * later via [[quantileSketchUnionCol]] (the CMS/KMV
    * sketch-per-snapshot pattern; values-only samples cannot merge
    * because the hash ranks are gone). */
  def quantileSketchPairs(rel: DataFrame, groupCols: Seq[String],
      key: Column, value: Column, k: Int = 256): DataFrame =
    rel.groupBy(groupCols.map(col): _*)
      .agg(graft.functions.QuantileSketchAgg.pairs(
        quantileSketchHash(key), value.cast("double"), k).as("pairs"))

  /** Union law for persisted pair arrays: the k lexicographically-
    * smallest distinct (h, v) pairs of both sketches — exactly the
    * aggregate's merge (ScalaCheck-pinned), as visible column arithmetic
    * (array_sort's struct ordering IS the pair ordering by field
    * order). */
  def quantileSketchUnionCol(a: Column, b: Column, k: Int): Column =
    slice(array_sort(array_distinct(concat(a, b))), 1, k)

  /** [[sketchQuantile]] over a PAIR array (persistence form): project
    * values, sort, take the ⌈q·|s|⌉-th. */
  def sketchQuantileFromPairs(pairs: Column, q: Double): Column = {
    val vs = array_sort(transform(pairs, p => p.getField("v")))
    element_at(vs, greatest(lit(1), ceil(lit(q) * size(vs)).cast("int")))
  }

  /** DuckDB twin of [[quantileSketch]] + [[sketchQuantile]]: `keyedCte`
    * must yield (grp, key, v) by the identical expressions; emits one row
    * per group (grp, n_sample, and one column per requested quantile
    * named q<permille>). The sketch state is recomputed RELATIONALLY —
    * `DISTINCT (h, v) ORDER BY h, v LIMIT k` per group IS the buffer. */
  /** The sample-recompute core every sketch oracle shares (and
    * [[graft.ops.LayoutOps.rangePlanSql]] reuses): per-grp sorted sample
    * list `s` — DISTINCT (hash, v) pairs, ORDER BY h, v LIMIT k,
    * values sorted. `keyedCte` must yield (grp, key, v). */
  def quantileSketchSampleSql(keyedCte: String, k: Int = 256): String = {
    val poly = graft.functions.PolyHash.sql("key")
    s"""SELECT grp, list_sort(list(v)) AS s FROM (
       |  SELECT grp, h, v,
       |    row_number() OVER (PARTITION BY grp ORDER BY h, v) AS rn
       |  FROM (SELECT DISTINCT grp,
       |      (($poly) * $qsA + $qsB) % $P AS h, CAST(v AS DOUBLE) AS v
       |    FROM ($keyedCte))
       |  QUALIFY rn <= $k)
       |GROUP BY 1""".stripMargin
  }

  def quantileSketchSql(keyedCte: String, qs: Seq[Double],
      k: Int = 256): String = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"quantiles must be in (0, 1], got $qs")
    val cols = qs.map { q =>
      val name = s"q${(q * 1000).round}"
      s"s[greatest(1, CAST(ceil($q * len(s)) AS INT))] AS $name"
    }.mkString(",\n       |  ")
    s"""WITH samp AS (${quantileSketchSampleSql(keyedCte, k)})
       |SELECT grp, CAST(len(s) AS BIGINT) AS n_sample,
       |  $cols
       |FROM samp""".stripMargin
  }

  /** DuckDB twin of [[graft.functions.WeightedQuantileAgg]] (the
    * [[graft.plans.ApproxQuantileRewrite]] certificate): `relCte` must
    * yield the value column `v`; emits one row with a `q<permille>`
    * column per quantile. Recomputes the sketch state
    * relationally — GROUP BY value for exact multiplicities, the qsA/qsB
    * hash over CAST(v AS VARCHAR), ORDER BY h, v LIMIT k — and the
    * identical BIGINT readout (smallest kept v with cum·1e6 ≥ qPpm·total). */
  def distinctValueQuantileSql(relCte: String, qs: Seq[Double],
      k: Int = 256): String = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"quantiles must be in (0, 1], got $qs")
    val poly = graft.functions.PolyHash.sql("key")
    val cols = qs.map { q =>
      val qPpm = math.max(1L, math.round(q * 1000000.0))
      val name = s"q${(q * 1000).round}"
      s"(SELECT min(v) FROM cum, tot WHERE cw * 1000000 >= $qPpm * t) AS $name"
    }.mkString(",\n       |  ")
    s"""WITH counted AS (
       |  SELECT v, CAST(count(*) AS BIGINT) AS c
       |  FROM ($relCte)
       |  WHERE v IS NOT NULL AND isfinite(CAST(v AS DOUBLE)) GROUP BY 1),
       |hashed AS (
       |  SELECT (($poly) * $qsA + $qsB) % $P AS h, v, c FROM (
       |    SELECT CAST(v AS VARCHAR) AS key, v, c FROM counted)),
       |kept AS (
       |  SELECT h, v, c, row_number() OVER (ORDER BY h, v) AS rn
       |  FROM hashed QUALIFY rn <= $k),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM kept),
       |cum AS (SELECT v, CAST(sum(c) OVER (ORDER BY v) AS BIGINT) AS cw
       |  FROM kept)
       |SELECT
       |  $cols""".stripMargin
  }

  // ---- HLL distinct-count registers --------------------------------------
  /** Same decorrelation rationale as the KMV mix: rank = zero-run length
    * is an order-statistic-like use of the hash bits, and raw PolyHash of
    * structured strings clusters. Distinct seed from CMS (7) and KMV (11). */
  // exposed for ApproxNdvRewrite's catalyst hash mirror (one definition)
  private[graft] val (hllA, hllB): (Long, Long) = {
    val (as, bs) = cmsCoefficients(1, seed = 13L)
    (as(0), bs(0))
  }

  /** Mixed portable hash feeding [[graft.functions.HllAgg]]: cube the
    * PolyHash mod P, then affine-mix. The AFFINE-only mix that fixes KMV
    * is NOT enough here: structured key sets ("user-day") are lattices in
    * PolyHash space, affine maps preserve lattices, and the HLL rank is a
    * deep-tail bit statistic that sees the lattice (measured on the
    * user-day domain: affine-only estimates swung −25%…+22% with a +19%
    * mean bias). Cubing is NON-linear yet bijective on Z_P — gcd(3, P−1)
    * = 1 since P−1 = 2·500000003 with neither factor divisible by 3 — so
    * it breaks the lattice without losing hash values (x² would be 2:1
    * and halve the distinct count). Measured: mean bias −2%, spread
    * within the sketch's nominal 1.04/√m. Every product stays < 2^60
    * (ANSI-safe: operands < 2^30). */
  def hllHash(key: Column): Column = {
    val p = graft.functions.PolyHash(key)
    val p3 = pmod(pmod(p * p, lit(P)) * p, lit(P))
    pmod(p3 * lit(hllA) + lit(hllB), lit(P))
  }

  /** Per-group HLL registers over a string key: (groupCols..., registers
    * array<int> of length m). One groupBy with an m-byte buffer — map-side
    * combine compresses each partition to one sketch per group before the
    * exchange, the same shape as the histogram fill. */
  def hllRegisters(rel: DataFrame, groupCols: Seq[String], key: Column,
      m: Int = 64): DataFrame =
    rel.groupBy(groupCols.map(col): _*)
      .agg(graft.functions.HllAgg(hllHash(key), m).as("registers"))

  /** Harmonic-mean HLL estimate from a registers array, in EXACT dyadic
    * arithmetic: Σ 2^-rank is computed as an integer Σ 2^(rmax-rank)
    * (rank ≤ rmax ≤ 25, ≤ m terms ⇒ fits a long exactly), so the only
    * floating-point step is one literal/long division — bit-identical on
    * any IEEE engine, which is what makes the estimate oracle-checkable. */
  def hllEstimate(registersCol: String = "registers", m: Int = 64): Column = {
    val rmax = graft.functions.HllAgg.rankBits(m) + 1
    val sScaled = expr(
      s"aggregate(`$registersCol`, CAST(0 AS BIGINT), " +
      s"(acc, r) -> acc + shiftleft(CAST(1 AS BIGINT), $rmax - r))")
    val raw = lit(hllAlphaM2(m) * 2.0 * hllDomainSize(m)) / sScaled.cast("double")
    // small-range (linear-counting) correction, standard HLL practice:
    // below ~2.5m the harmonic estimator is biased and the zero-register
    // count V carries more information — est = m·ln(m/V). The branch
    // CONDITION compares the exactly-deterministic raw estimate, so both
    // engines always take the same branch; ln's last-ulp engine
    // difference dies in round(·, 4).
    val v = expr(s"aggregate(`$registersCol`, 0, (acc, r) -> acc + IF(r = 0, 1, 0))")
    round(when(raw <= lit(2.5 * m) && v > 0,
      lit(m.toDouble) * log(lit(m.toDouble) / v.cast("double")))
      .otherwise(raw), 4)
  }

  /** Rank-domain size W = |{h div m}| — NOT a power of two (hash domain is
    * [0, P)), so P(rank ≥ r) = 2^(rmax-r)/W = 2^(1-r) · γ with
    * γ = 2^(rmax-1)/W ≈ 1.074: vs the ideal geometric the sketch behaves
    * as if fed γ·n distinct keys. The estimator divides by γ, folded into
    * the constant: est = α·m² / (S_scaled/2^rmax) / γ = α·m²·2W/S_scaled
    * (S_scaled = Σ2^(rmax-rank) is the exact integer sum) — removing the
    * +7.4% systematic domain bias. */
  def hllDomainSize(m: Int): Double = ((P - 1) / m + 1).toDouble

  /** α_m · m² (Flajolet et al. 2007 constants; the exact double value is
    * embedded verbatim in the SQL twin). */
  def hllAlphaM2(m: Int): Double = {
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _ => 0.7213 / (1.0 + 1.079 / m)
    }
    alpha * m * m
  }

  /** Merge two register arrays (elementwise max) — for combining sketches
    * persisted from different snapshots. Per-sketch-row lambda cost only. */
  def hllMergeRegisters(a: Column, b: Column): Column =
    zip_with(a, b, (x, y) => greatest(x, y))

  /** Time-windowed HLL: one m-byte register set per event-time window —
    * (window, registers). Works on batch and streaming inputs alike (for
    * streaming add `.withWatermark` upstream); state per open window is m
    * bytes, the sketch's whole point — the streaming "distinct users per
    * hour" answer without a per-key state store. Same batch/stream
    * code-path coupling as [[windowedCmsSketch]]. */
  def windowedHllRegisters(rel: DataFrame, tsCol: Column,
      windowDuration: String, key: Column, m: Int = 64): DataFrame =
    rel.select(window(tsCol, windowDuration).as("window"), key.as("key"))
      .groupBy("window")
      .agg(graft.functions.HllAgg(hllHash(col("key")), m).as("registers"))

  /** Trailing-window distinct-key estimate — "distinct users in the last
    * 24 hours, per hour" — via HLL register merges over a RANGE window:
    * one m-register sketch per bucket (the only corpus-sized pass), then
    * per register index a trailing `max` window over the BUCKET relation,
    * then the standard estimator per bucket. The sliding merge costs
    * O(buckets × m) integers regardless of corpus size — the exact
    * rolling COUNT(DISTINCT) this replaces recounts every window.
    *
    * The RANGE frame is on the bucket epoch (seconds), so missing
    * buckets (quiet hours) do NOT stretch the trailing horizon the way a
    * ROWS frame would. All window arithmetic is integer (register ranks);
    * only the final estimate divides, with the same deterministic
    * branch + round(4) contract as [[hllEstimate]].
    *
    * Returns (bucket_start epoch-seconds, hll_est) — one row per
    * NON-EMPTY bucket (an empty bucket has no row to anchor a window;
    * callers wanting a dense grid resample first). */
  def slidingHllEstimate(rel: DataFrame, tsCol: Column, key: Column,
      bucketSeconds: Long = 3600L, trailingBuckets: Int = 24,
      m: Int = 64): DataFrame = {
    require(bucketSeconds > 0, s"bucketSeconds must be > 0, got $bucketSeconds")
    require(trailingBuckets >= 1, s"trailingBuckets >= 1, got $trailingBuckets")
    import org.apache.spark.sql.expressions.Window
    val rmax = graft.functions.HllAgg.rankBits(m) + 1
    val buckets = windowedHllRegisters(
        rel.select(tsCol.as("__ts"), key.as("__key")),
        col("__ts"), s"$bucketSeconds seconds", col("__key"), m)
      .select(col("window.start").cast("long").as("bucket_start"),
        col("registers"))
    val ex = buckets.select(col("bucket_start"),
      posexplode(col("registers")).as(Seq("idx", "rank")))
    val w = Window.partitionBy("idx").orderBy(col("bucket_start"))
      .rangeBetween(-(trailingBuckets - 1) * bucketSeconds, 0)
    val merged = ex.select(col("bucket_start"),
      max(col("rank")).over(w).as("mrank"))
    val s = merged.groupBy("bucket_start").agg(
      expr(s"sum(shiftleft(CAST(1 AS BIGINT), $rmax - mrank))").as("s_scaled"),
      sum(when(col("mrank") === 0, 1L).otherwise(0L)).as("v"))
    val aM2 = hllAlphaM2(m) * 2.0 * hllDomainSize(m)
    val raw = lit(aM2) / col("s_scaled").cast("double")
    s.select(col("bucket_start"),
      round(when(raw <= lit(2.5 * m) && col("v") > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / col("v").cast("double")))
        .otherwise(raw), 4).as("hll_est"))
  }

  /** DuckDB twin of [[slidingHllEstimate]]: the relational register
    * recompute ([[hllRegistersSql]]) + the identical RANGE window merge
    * and scaled-integer estimator. `keyCte` must yield (grp, key) with
    * grp the bucket epoch-seconds. */
  def slidingHllEstimateSql(keyCte: String, bucketSeconds: Long = 3600L,
      trailingBuckets: Int = 24, m: Int = 64): String = {
    val rmax = graft.functions.HllAgg.rankBits(m) + 1
    val aM2 = hllAlphaM2(m) * 2.0 * hllDomainSize(m)
    val range = (trailingBuckets - 1) * bucketSeconds
    s"""WITH reg AS (SELECT * FROM (${hllRegistersSql(keyCte, m)})),
       |mg AS (SELECT grp AS bucket_start,
       |  max(rank) OVER (PARTITION BY idx ORDER BY grp
       |    RANGE BETWEEN $range PRECEDING AND CURRENT ROW) AS mrank
       |  FROM reg),
       |s AS (SELECT bucket_start,
       |  CAST(sum(CAST(1 AS BIGINT) << ($rmax - mrank)) AS BIGINT) AS s_scaled,
       |  CAST(sum(CASE WHEN mrank = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v
       |  FROM mg GROUP BY 1)
       |SELECT bucket_start,
       |  round(CASE WHEN $aM2 / CAST(s_scaled AS DOUBLE) <= ${2.5 * m}
       |    AND v > 0 THEN $m.0 * ln($m.0 / CAST(v AS DOUBLE))
       |    ELSE $aM2 / CAST(s_scaled AS DOUBLE) END, 4) AS hll_est
       |FROM s""".stripMargin
  }

  /** DuckDB twin of the register computation: `keyCte` must yield columns
    * (`grp`, `key`). Recomputes registers RELATIONALLY — group by
    * `h % m` with max rank — i.e. an independent formulation of the same
    * sketch, zero-filled to all m registers per group. */
  /** The cube-then-affine mix as SQL — must stay the verbatim twin of
    * [[hllHash]]. Emitted as FROM-clause staging so the list_reduce
    * polynomial evaluates once per key, not three times. `keyCte` must
    * yield a `key` column (plus any `carry` columns passed through
    * untouched) — this is the ONE hash emitter every HLL oracle uses. */
  def hllHashSql(keyCte: String, carry: Seq[String] = Nil): String = {
    val cs = carry.map(c => s"$c, ").mkString
    val poly = graft.functions.PolyHash.sql("key")
    s"""SELECT $cs(p3 * $hllA + $hllB) % $P AS h FROM (
       |  SELECT $cs((p * p) % $P * p) % $P AS p3 FROM (
       |    SELECT $cs($poly) AS p FROM ($keyCte)))""".stripMargin
  }

  private def hllKeyedHashCte(keyCte: String): String =
    s"""SELECT DISTINCT grp, h FROM (
       |${hllHashSql(keyCte, Seq("grp"))})""".stripMargin

  /** The register-rank expression over a hash column `h` — shared by the
    * keyed and scalar estimate twins so the rank formula cannot drift. */
  private def hllRankSql(m: Int): String = {
    val rmax = graft.functions.HllAgg.rankBits(m) + 1
    s"CASE WHEN h // $m = 0 THEN $rmax ELSE $rmax - length(bin(h // $m)) END"
  }

  /** Scalar (ungrouped) DuckDB twin of [[hllEstimate]]: one row
    * `(hll_est)` from a relation of hash values (`hashCte` yields `h`).
    * Identical scaled-integer register sum and small-range branch as the
    * keyed [[hllEstimateSql]]; empty input estimates 0 (COALESCE guard,
    * matching the engine's all-zero-registers linear-counting branch). */
  def hllEstimateScalarSql(hashCte: String, m: Int = 64): String = {
    val rmax = graft.functions.HllAgg.rankBits(m) + 1
    val aM2 = hllAlphaM2(m) * 2.0 * hllDomainSize(m)
    s"""SELECT round(CASE WHEN $aM2 / CAST(s_scaled AS DOUBLE) <= ${2.5 * m}
       |    AND v > 0 THEN $m.0 * ln($m.0 / CAST(v AS DOUBLE))
       |    ELSE $aM2 / CAST(s_scaled AS DOUBLE) END, 4) AS hll_est
       |FROM (SELECT
       |  COALESCE(CAST(sum(CAST(1 AS BIGINT) << ($rmax - rank)) AS BIGINT), 0)
       |    + ($m - count(*)) * (CAST(1 AS BIGINT) << $rmax) AS s_scaled,
       |  $m - count(*) AS v
       |  FROM (SELECT h % $m AS idx, max(${hllRankSql(m)}) AS rank
       |    FROM ($hashCte) GROUP BY 1))""".stripMargin
  }

  def hllRegistersSql(keyCte: String, m: Int = 64): String = {
    val rmax = graft.functions.HllAgg.rankBits(m) + 1
    s"""WITH keys AS ($keyCte),
       |hs AS (${hllKeyedHashCte("SELECT grp, key FROM keys")}),
       |reg AS (SELECT grp, h % $m AS idx, max(${hllRankSql(m)}) AS rank
       |  FROM hs GROUP BY 1, 2),
       |grid AS (SELECT g.grp, r.range AS idx
       |  FROM (SELECT DISTINCT grp FROM keys) g CROSS JOIN range(0, $m) r)
       |SELECT grid.grp, CAST(grid.idx AS BIGINT) AS idx,
       |  CAST(COALESCE(reg.rank, 0) AS INT) AS rank
       |FROM grid LEFT JOIN reg ON grid.grp = reg.grp AND grid.idx = reg.idx""".stripMargin
  }

  /** DuckDB twin of [[hllEstimate]] over the same `keyCte`: per-group
    * (grp, n_exact, hll_est) with the identical scaled-integer sum. */
  def hllEstimateSql(keyCte: String, m: Int = 64): String = {
    val rmax = graft.functions.HllAgg.rankBits(m) + 1
    val aM2 = hllAlphaM2(m) * 2.0 * hllDomainSize(m)
    s"""WITH keys AS ($keyCte),
       |hs AS (${hllKeyedHashCte("SELECT grp, key FROM keys")}),
       |reg AS (SELECT grp, h % $m AS idx, max(${hllRankSql(m)}) AS rank
       |  FROM hs GROUP BY 1, 2),
       |s AS (SELECT grp,
       |  CAST(sum(CAST(1 AS BIGINT) << ($rmax - rank)) AS BIGINT)
       |    + ($m - count(*)) * (CAST(1 AS BIGINT) << $rmax) AS s_scaled,
       |  $m - count(*) AS v
       |  FROM reg GROUP BY 1),
       |ex AS (SELECT grp, CAST(count(DISTINCT key) AS BIGINT) AS n_exact
       |  FROM keys GROUP BY 1)
       |SELECT ex.grp, ex.n_exact,
       |  round(CASE WHEN $aM2 / CAST(s.s_scaled AS DOUBLE) <= ${2.5 * m}
       |    AND s.v > 0 THEN $m.0 * ln($m.0 / CAST(s.v AS DOUBLE))
       |    ELSE $aM2 / CAST(s.s_scaled AS DOUBLE) END, 4) AS hll_est
       |FROM ex JOIN s ON ex.grp = s.grp""".stripMargin
  }

  /** DuckDB twin of [[cmsTokenCounts]] — same PolyHash, same seeded
    * coefficients, same cell grid. */
  def cmsTokenCountsSql(probes: Seq[String], depth: Int = 4, width: Int = 1024,
      seed: Long = 7L): String = {
    val (as, bs) = cmsCoefficients(depth, seed)
    val coef = (0 until depth).map(r => s"($r, ${as(r)}, ${bs(r)})").mkString(", ")
    // '' doubling: probe tokens are caller-supplied and may carry quotes
    def sq(t: String) = "'" + t.replace("'", "''") + "'"
    val probeVals = probes.map(t => s"(${sq(t)})").mkString(", ")
    val inList = probes.map(sq).mkString(", ")
    def poly(c: String) = graft.functions.PolyHash.sql(c)
    s"""WITH tok AS (
       |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
       |th AS (SELECT tok, ${poly("tok")} AS h FROM tok),
       |coef(r, a, b) AS (VALUES $coef),
       |cells AS (
       |  SELECT r, ((h * a + b) % $P) % $width AS bucket, count(*) AS cnt
       |  FROM th CROSS JOIN coef GROUP BY 1, 2),
       |probes(token) AS (VALUES $probeVals),
       |ph AS (SELECT token, ${poly("token")} AS h FROM probes),
       |pb AS (SELECT token, r, ((h * a + b) % $P) % $width AS bucket
       |       FROM ph CROSS JOIN coef),
       |est AS (
       |  SELECT token, CAST(min(COALESCE(cnt, 0)) AS BIGINT) AS cms_est
       |  FROM pb LEFT JOIN cells USING (r, bucket) GROUP BY 1),
       |ex AS (SELECT tok AS token, count(*) AS exact_n FROM tok
       |       WHERE tok IN ($inList) GROUP BY 1)
       |SELECT p.token, COALESCE(ex.exact_n, 0) AS exact_n, est.cms_est
       |FROM probes p LEFT JOIN ex USING (token) JOIN est USING (token)""".stripMargin
  }
}
