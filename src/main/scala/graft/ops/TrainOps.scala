package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** In-engine training of the hashed-feature linear QUALITY CLASSIFIER —
  * the FineWeb/DCLM curation-loop model
  * ([[PipelineOps.classifierScoreTrained]] applies such weights; this
  * trains them, closing the one model family the engine previously
  * imported; cf. the in-engine k-means ([[SimilarityOps.kmeansLloyd]]),
  * BPE ([[BpeOps]]), and unigram-LM ([[UnigramOps]]) trainers).
  *
  * Model: linear scorer over hashed unigram features with the engine's
  * PORTABLE rational link σ(z) = 1/2 + z/(2(1+|z|)) — the same softsign
  * squash [[PipelineOps.classifierScore]] scores with (chosen there
  * because it needs no libm call whose last ulp differs across
  * engines). Training is batch gradient descent with the textbook
  * logistic-regression update form Δw ∝ −Σ(σ(zᵢ)−yᵢ)·xᵢ, which for ANY
  * monotone link is the EXACT gradient of that link's convex matching
  * loss (Helmbold–Kivinen–Warmuth, NIPS'95/"matching loss"; for the
  * logistic link the matching loss is cross-entropy — the softsign link
  * trades ≤1 bit of tail sharpness for engine-exact replayability).
  *
  * Determinism (the [[GraphOps.pageRankSql]] oracle discipline,
  * integer-hardened): EVERY round-carried number is an exact integer —
  *  - features x ∈ {0, 1000}: PRESENCE of a token bucket (binary
  *    bag-of-words — the standard linear-classifier form; count
  *    fractions were tried first and buried the sparse-token signal
  *    200× below the bias, flatlining training at the base rate);
  *    bias feature = 1000;
  *  - weights w in micro-units (real weight = w/10⁶);
  *  - margins z' = Σ w·x exact BIGINT (real margin = z'/10⁹);
  *  - σ−y is the exact rational (Z+|z'|+z'−2y(Z+|z'|)) / (2(Z+|z'|)),
  *    Z = 10⁹, and each row's per-feature gradient contribution is
  *    quantized to micro-units by TRUNCATION-TOWARD-ZERO division
  *    (positive-operand `div`/`//` agree across engines; sign applied
  *    outside — no floor-vs-trunc divergence, no rounding bias);
  *  - the weight update w ← w − tdz(lrNum·G, lrDen·F·1000·r) is the
  *    same all-integer rule on the summed gradient, where F = TOTAL
  *    feature activations (Σ_docs (distinct buckets + 1)) — dividing
  *    by the feature mass instead of the doc count is the integer form
  *    of a Lipschitz/feature-scale normalization — and r is the
  *    1-indexed round: the classic Robbins–Monro 1/r decay, which lets
  *    a large first step coexist with stable late rounds (constant
  *    steps measurably oscillated at high lr).
  * Sums of integers are order-independent, so the DuckDB oracle replays
  * the ENTIRE trajectory as `rounds` chained CTEs and the final
  * weights/margins hash-match bit-for-bit (FIXTURES.md class A — pure
  * integers end to end; products ride DECIMAL(38,0)/HUGEINT
  * internally, outputs are BIGINT).
  *
  * 100 TB shape: the feature relation is built once (two token-keyed
  * aggregates) and persisted; each round is ONE map-side-combined
  * aggregate with dim+1 keys — a model-sized (65-row) result to the
  * driver, the [[SimilarityOps.kmeansStep]] shape. The margin is a
  * per-row fold against the broadcast weight literal (no join, no
  * shuffle); nothing grows with corpus size except the one narrow
  * gradient pass per round.
  */
object TrainOps {

  /** Weight grid: micro-units (real w = w_q / 1e6). */
  val S = 1000000L
  /** Margin scale: z real = z' / Z (weight micro-units × milli-features). */
  val Z = 1000000000L
  /** Per-row gradient quantization: micro-units. */
  val Q = 1000000L
  /** Token→bucket decorrelation mixer (the demo-classifier mix;
    * PolyHash < 2^30 × mix < 2^32 stays < 2^62 — ANSI-safe). */
  val Mix = 2654435761L

  /** Per-round sample hash: prime modulus (the [[PipelineOps.idBucket]]
    * discipline) and two public mixing constants — MurmurHash2's
    * multiplier and the Numerical-Recipes LCG increment — chosen, like
    * every idBucket use-site multiplier, to decorrelate from the other
    * sampling decisions in the engine. */
  val SampleP = 1000000007L
  val SampleM1 = 1540483477L
  val SampleM2 = 1013904223L

  /** Deterministic per-round sample bucket in [0, 1000): the
    * [[PipelineOps.idBucket]] discipline with the GLOBAL round index
    * mixed into the hash, so successive rounds see rotating subsets
    * (mini-batch GD's coverage property) while any given round's
    * membership is a replayable pure function of (doc_id, round) — the
    * oracle applies the identical predicate. Overflow-safe:
    * (id mod P)·M1 < 10⁹·2^31 ≈ 2^61 and the round term adds < 2^36. */
  def sampleBucket(id: Column, round: Int): Column =
    pmod(pmod(pmod(id, lit(SampleP)) * lit(SampleM1) +
      lit(round.toLong + 1L) * lit(SampleM2), lit(SampleP)), lit(1000L))

  /** DuckDB twin of [[sampleBucket]] (doc ids are nonnegative, so `%`
    * and pmod agree — the idBucketSql contract). */
  def sampleBucketSql(id: String, round: Int): String = {
    // pre-fold the round term: DuckDB types bare literals INT32, and
    // (round+1) * M2 overflows INT32 from round 2 on
    val roundTerm = (round + 1L) * SampleM2
    s"((($id % $SampleP) * $SampleM1 + ${roundTerm}) % $SampleP) % 1000"
  }

  /** Truncation-toward-zero integer division — the ONE quantizer
    * (engine + specs + driver updates share it): both engines compute
    * positive÷positive identically, so the sign is applied outside. */
  def tdz(a: BigInt, b: BigInt): BigInt = {
    require(b > 0, s"tdz needs a positive divisor, got $b")
    if (a.signum < 0) -((-a) / b) else a / b
  }

  /** SPARSE per-doc feature vectors: (doc_id, js array<int> of the
    * ACTIVE bucket indices, sorted ascending, with the bias index `dim`
    * appended last) — hashed-unigram PRESENCE (x = 1000 at every listed
    * index, 0 elsewhere; the presence value is the module convention,
    * not stored). One aggregate over the token relation; the sparse
    * array keeps both the per-round margin fold and the gradient
    * explode proportional to the ACTIVE count, not dim+1 (the dense
    * transform/zip_with form walked every slot of every doc through
    * interpreted higher-order functions — measured 17.4 s on the
    * dim=512 bigram trainer at sf0.1, 10.1 s sparse). */
  def docFeatures(docs: DataFrame, dim: Int, ngram: Int = 1): DataFrame = {
    require(dim >= 2 && dim <= 4096, s"dim must be in [2, 4096], got $dim")
    require(ngram >= 1 && ngram <= 3, s"ngram must be in [1, 3], got $ngram")
    // word k-shingles for k = 1..ngram (fastText's word-ngram features;
    // k = 1 is the plain token) — the dedup shingle expression, so the
    // SQL twin shares its positional definition verbatim. All k levels
    // ride ONE scan + ONE explode over the concatenated shingle arrays
    // (a per-k union re-scanned and re-split the corpus once per k;
    // same row multiset, so the distinct bucket set is unchanged)
    val tok = docs.select(col("doc_id"),
      explode(
        if (ngram == 1) graft.functions.WordShingles(col("text"), 1)
        else concat((1 to ngram).map(k =>
          graft.functions.WordShingles(col("text"), k)): _*)).as("tok"))
    // per-doc dedup INSIDE the aggregate (collect_set == distinct +
    // collect_list on values, sets sorted identically): the standalone
    // .distinct() hash-partitioned the token relation by (doc_id, j)
    // and the groupBy re-shuffled it by doc_id — one full exchange of
    // the corpus-sized bucket relation removed (guide §2.4), and the
    // set dedup now happens map-side in the partial aggregate
    tok.select(col("doc_id"),
        pmod(graft.functions.PolyHash(col("tok")) * lit(Mix),
          lit(dim.toLong)).cast("int").as("j"))
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("j"))).as("ja"))
      // bias index dim is the largest possible (buckets are < dim), so
      // appending it keeps the array sorted
      .select(col("doc_id"),
        concat(col("ja"), array(lit(dim))).as("js"))
  }

  /** Exact integer margin z' = Σⱼ wⱼ·xⱼ against the weight vector held
    * in a codegen'd expression ([[graft.functions.WeightSum]]) — a
    * per-row loop over the ACTIVE indices, no shuffle. x = 1000
    * presence makes Σ x·w = 1000·Σ_{j∈js} w(j) exactly (integer
    * distributivity — the dense fold's value, bit for bit). Caller
    * guarantees (dim+1)·1000·max|w| < 2^63 ([[trainLr]] asserts it per
    * round). */
  def marginCol(wq: Array[Long]): Column =
    graft.functions.WeightSum(col("js"), wq) * lit(1000L)

  /** One gradient round: per-(feature) sums of the quantized per-row
    * contributions tdz((σ−y)·x·Q) over `labeled` = docFeatures ⋈ labels
    * (columns js, y), restricted to the round's [[sampleBucket]] subset
    * when `sampleMilli` < 1000. Returns (gradient by j, F_r): dim+1
    * model-sized sums plus F_r, the round's total feature-activation
    * mass, read from the same aggregate's per-key activation counts
    * (they ride the same shuffle, at most dim+1 extra longs), so a
    * round is one pass and one job. */
  private def gradientRound(labeled: DataFrame, wq: Array[Long], round: Int,
      sampleMilli: Int): (Array[BigInt], Long) = {
    val d = wq.length - 1
    val sampled =
      if (sampleMilli == 1000) labeled
      else labeled.filter(sampleBucket(col("doc_id"), round) <
        lit(sampleMilli.toLong))
    val rows = sampled
      .withColumn("zq", marginCol(wq))
      .select(col("y"),
        (lit(Z) + abs(col("zq")) + col("zq") -
          lit(2L) * col("y") * (lit(Z) + abs(col("zq")))).as("n1"),
        (lit(2L) * (lit(Z) + abs(col("zq")))).as("den"),
        // sparse js lists exactly the x > 0 slots (x = 1000 presence),
        // so the explode is active-count rows — the dense posexplode +
        // filter(x > 0) relation, same rows, same values
        explode(col("js")).as("j"))
      .select(col("j"),
        expr(s"CASE WHEN n1 < 0 " +
          s"THEN -((CAST(-n1 AS DECIMAL(38,0)) * 1000L * ${Q}L) div den) " +
          s"ELSE (CAST(n1 AS DECIMAL(38,0)) * 1000L * ${Q}L) div den END")
          .as("g"))
      .groupBy("j")
      .agg(sum(col("g").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
        .as("gg"), count(lit(1)).as("c"))
      .collect()
    val out = Array.fill(d + 1)(BigInt(0))
    var mass = 0L
    rows.foreach { r =>
      out(r.getInt(0)) = BigInt(r.getDecimal(1).toBigInteger)
      mass += r.getLong(2)
    }
    (out, mass)
  }

  /** Batch-GD training loop: `rounds` fixed rounds from w = 0 (or
    * `init`), learning rate lrNum/lrDen, labels y ∈ {0,1} from `label`.
    * Returns the dim+1 integer micro-unit weights (bias last). The
    * feature relation is persisted across rounds (built once; each round
    * re-reads it for the one gradient aggregate, which also materializes
    * the persist in the first round).
    *
    * `sampleMilli` < 1000 is the 100 TB form: each round's gradient is
    * computed over a deterministic hash-sampled subset ([[sampleBucket]]
    * < sampleMilli, the round index in the hash so samples ROTATE —
    * mini-batch GD with replayable batches), so per-round cost is
    * corpus·sampleMilli/1000, not corpus. Every round normalizes its
    * update by F_r, the feature mass its aggregate saw — the integer
    * form of the per-batch mean gradient; at the default 1000 no sample
    * filter is applied and F_r is the corpus mass F. The oracle twins
    * replay the identical trajectory: [[trainLrSql]] for the full pass,
    * [[trainLrSampledSql]] with the same rotating-subset predicate as
    * pure SQL over (doc_id, round). */
  def trainLr(docs: DataFrame, label: Column, dim: Int, rounds: Int,
      lrNum: Long, lrDen: Long, ngram: Int = 1,
      init: Array[Long] = null, startRound: Int = 0,
      sampleMilli: Int = 1000): Array[Long] = {
    require(rounds >= 1 && startRound >= 0 && startRound + rounds <= 64,
      s"need 1 <= rounds, 0 <= startRound, startRound + rounds <= 64; " +
        s"got rounds=$rounds startRound=$startRound")
    require(sampleMilli >= 1 && sampleMilli <= 1000,
      s"sampleMilli must be in [1, 1000], got $sampleMilli")
    require(init == null || init.length == dim + 1,
      s"init weights must have dim+1 = ${dim + 1} entries, " +
        s"got ${if (init == null) "null" else init.length.toString}")
    require(lrNum > 0 && lrDen > 0, s"lr must be positive: $lrNum/$lrDen")
    val labeled = docFeatures(docs, dim, ngram)
      .join(docs.select(col("doc_id"), label.cast("long").as("y")),
        "doc_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val wq = if (init == null) Array.fill(dim + 1)(0L) else init.clone()
      // guards EVERY downstream Long expression, not just z' itself:
      // the largest is calibrationTable's 10*(Z+|z'|+z') <= 10*(Z+2|z'|),
      // so cap |z'| <= Long.MaxValue/25 (then n1 <= 2(Z+|z'|) and the
      // calibration numerator both stay < 2^63 with margin)
      val wBound = Long.MaxValue / (25L * 1000L * (dim + 1))
      // the decay divisor and the sample hash use the GLOBAL round index,
      // so a warm-started continuation walks the identical trajectory as
      // the straight run: resume(train(R1), R2, startRound = R1) ==
      // train(R1 + R2) bit-for-bit (the RESUME LAW, spec-pinned and
      // oracle-certified by quality_train_lr_resume hashing against the
      // straight twin)
      var r = startRound
      while (r < startRound + rounds) {
        val (g, fr) = gradientRound(labeled, wq, r, sampleMilli)
        // loud, not silent: an empty round would divide by zero, and
        // skipping it would diverge from the oracle's replay, which has
        // no empty-group escape hatch
        require(fr > 0,
          if (sampleMilli == 1000) "trainLr: empty corpus"
          else s"trainLr: round $r sampled zero docs — raise " +
            s"sampleMilli ($sampleMilli) or the corpus")
        var j = 0
        while (j <= dim) {
          // 1/r Robbins-Monro decay: large early steps, stable late ones.
          // Bound-check the BigInt BEFORE narrowing: .toLong wraps
          // silently, so a blown-up update could alias back inside
          // wBound (and math.abs(Long.MinValue) is negative) if the
          // check ran on the narrowed value.
          val newW = BigInt(wq(j)) - tdz(BigInt(lrNum) * g(j),
            BigInt(lrDen) * fr * 1000L * (r + 1))
          require(newW.abs < wBound,
            s"trainLr: weight $j overflowed the margin bound " +
              s"(|w| >= $wBound) — lower the learning rate")
          wq(j) = newW.toLong
          j += 1
        }
        r += 1
      }
      wq
    } finally labeled.unpersist()
  }

  /** Persist a trained model: weights parquet + a one-row meta sidecar
    * (dim, ngram, rounds_done — what [[readModel]] validates and a
    * warm-start continuation needs). The PqIndex sidecar discipline
    * applied to the classifier. */
  def writeModel(spark: SparkSession, wq: Array[Long], ngram: Int,
      roundsDone: Int, path: String): Unit = {
    import spark.implicits._
    weightsDf(spark, wq).coalesce(1).write.mode("overwrite")
      .parquet(s"$path/weights")
    Seq((wq.length - 1, ngram, roundsDone)).toDF("dim", "ngram", "rounds_done")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Load a persisted model with shape validation at LOAD time (a
    * truncated or duplicated weights relation must fail up front, not
    * mid-retrain). Returns (weights, ngram, rounds_done). */
  def readModel(spark: SparkSession, path: String): (Array[Long], Int, Int) = {
    val meta = spark.read.parquet(s"$path/meta").collect()
    require(meta.length == 1, s"model meta must be one row, got ${meta.length}")
    val dim = meta(0).getAs[Int]("dim")
    val ngram = meta(0).getAs[Int]("ngram")
    val roundsDone = meta(0).getAs[Int]("rounds_done")
    val rows = spark.read.parquet(s"$path/weights").collect()
    require(rows.length == dim + 1,
      s"model weights incomplete: ${rows.length} rows for dim=$dim")
    // the same margin bound training enforces per round: a loaded model
    // (hand-edited, or trained elsewhere) whose |w| exceeds it would
    // overflow marginCol's Long sum silently — lrScore and
    // calibrationTable have no per-round guard of their own
    val wBound = Long.MaxValue / (25L * 1000L * (dim + 1))
    val wq = Array.fill(dim + 1)(Long.MinValue)
    rows.foreach { r =>
      val j = r.getAs[Long]("j").toInt
      require(j >= 0 && j <= dim && wq(j) == Long.MinValue,
        s"model weights corrupt at j=$j (out of range or duplicate)")
      val w = r.getAs[Long]("w")
      require(w > -wBound && w < wBound,
        s"model weight $j = $w exceeds the margin bound (|w| >= $wBound " +
          s"for dim=$dim) — scoring it would overflow the margin fold")
      wq(j) = w
    }
    (wq, ngram, roundsDone)
  }

  /** Trained weights as a relation (j, w) — the hash-checkable model. */
  def weightsDf(spark: SparkSession, wq: Array[Long]): DataFrame = {
    import spark.implicits._
    wq.zipWithIndex.map { case (w, j) => (j.toLong, w) }.toSeq
      .toDF("j", "w")
  }

  /** Score the corpus with trained weights: exact integer margin
    * (real margin = margin/10⁹), the boolean decision, and the label —
    * all class-A integer outputs. */
  def lrScore(docs: DataFrame, label: Column, wq: Array[Long],
      ngram: Int = 1): DataFrame = {
    val dim = wq.length - 1
    docFeatures(docs, dim, ngram)
      .join(docs.select(col("doc_id"), label.cast("long").as("y")),
        "doc_id")
      .select(col("doc_id"), marginCol(wq).as("margin"), col("y"))
      .select(col("doc_id"), col("margin"),
        (col("margin") > 0L).as("pred"), col("y"))
  }

  // ---- DuckDB twins -------------------------------------------------------

  /** Sparse feature CTEs over `rel` (tok/f + labels/fa, names prefixed
    * by `px`): the same PRESENCE features as [[docFeatures]],
    * relational form (absent buckets are zero rows there and zero
    * contributions here; the bias row comes straight from the doc
    * relation — every doc tokenizes to at least one token, so the doc
    * sets match). `fa` is F, the total feature-activation count
    * normalizing the update. `labelSql` must compute the identical 0/1
    * label from the doc row. */
  private def featureCtes(dim: Int, labelSql: String,
      rel: String = "documents", px: String = "", ngram: Int = 1,
      withFa: Boolean = true): String = {
    val poly = graft.functions.PolyHash.sql("tok")
    // word k-shingle union, k = 1..ngram — the dedup shinglesSqlCte
    // positional definition, parameterized by relation
    val shingleSelects = (1 to ngram).map { k =>
      val terms = (0 until k).map {
        case 0 => "string_split(text,' ')[pos]"
        case i => s"string_split(text,' ')[pos+$i]"
      }.mkString(" || ' ' || ")
      s"""SELECT DISTINCT doc_id, $terms AS tok
         |  FROM (SELECT doc_id, text,
         |    unnest(range(1, greatest(len(string_split(text,' ')) - ${k - 2}, 1))) AS pos
         |    FROM $rel)""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    // MATERIALIZED: the round CTEs reference f/lab once per round and
    // DuckDB re-opens the documents parquet per un-materialized
    // reference — 24 rounds blew the process fd limit before this
    s"""${px}tok AS MATERIALIZED (
       |  $shingleSelects),
       |${px}f AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, ($poly * $Mix) % $dim AS j, 1000 AS x
       |  FROM ${px}tok
       |  UNION ALL
       |  SELECT doc_id, $dim AS j, 1000 AS x FROM $rel),
       |${px}lab AS MATERIALIZED (
       |  SELECT doc_id, CAST($labelSql AS BIGINT) AS y FROM $rel)""".stripMargin +
      (if (withFa)
        s""",
           |${px}fa AS MATERIALIZED (SELECT count(*) AS f FROM ${px}f)"""
          .stripMargin
       else "")
  }

  /** The round-unrolled training replay ([[GraphOps.pageRankSql]]
    * discipline): CTEs w0..w`rounds`, each round = margin join +
    * rational residual + quantized gradient + integer update — the
    * exact [[trainLr]] trajectory. Emits everything up to and
    * including `w$rounds`; callers append their SELECT. */
  /** ONE round body shared by the full-pass and sampled replays (the
    * quantized-gradient and weight-update arithmetic must never fork
    * between the two twins): margin join over `feat`, rational
    * residual, quantized gradient, and the integer update normalized by
    * `norm` (a one-row (f) relation — corpus mass `fa` for the full
    * pass, the round's `fr\$i` for the sampled one). */
  private def roundCtes(i: Int, feat: String, norm: String, lrNum: Long,
      lrDen: Long): String =
    s"""z$i AS MATERIALIZED (
       |  SELECT f.doc_id, sum(CAST(f.x AS HUGEINT) * w.w) AS z
       |  FROM $feat f JOIN w${i - 1} w ON w.j = f.j GROUP BY 1),
       |r$i AS (
       |  SELECT z.doc_id,
       |    $Z + abs(z.z) + z.z - 2*lab.y*($Z + abs(z.z)) AS n1,
       |    2*($Z + abs(z.z)) AS den
       |  FROM z$i z JOIN lab USING (doc_id)),
       |g$i AS (
       |  SELECT f.j,
       |    sum(CASE WHEN r.n1 < 0
       |      THEN -(((-CAST(r.n1 AS HUGEINT)) * f.x * $Q) // r.den)
       |      ELSE (CAST(r.n1 AS HUGEINT) * f.x * $Q) // r.den END) AS gg
       |  FROM $feat f JOIN r$i r USING (doc_id) GROUP BY 1),
       |w$i AS MATERIALIZED (
       |  SELECT w.j,
       |    CAST(w.w - (CASE WHEN COALESCE(g.gg, 0) < 0
       |      THEN -(((-COALESCE(g.gg, 0)) * $lrNum)
       |             // (CAST($lrDen AS HUGEINT) * nrm.f * 1000 * $i))
       |      ELSE (COALESCE(g.gg, 0) * $lrNum)
       |             // (CAST($lrDen AS HUGEINT) * nrm.f * 1000 * $i) END)
       |      AS BIGINT) AS w
       |  FROM w${i - 1} w LEFT JOIN g$i g USING (j) CROSS JOIN $norm nrm)"""
      .stripMargin

  // string interpolation, not String.format: %d is FORMAT-locale
  // sensitive (non-Latin default digit sets would corrupt the SQL)
  private def w0Cte(dim: Int): String =
    s"w0 AS (\n  SELECT unnest(generate_series(0, $dim))" +
      " AS j,\n    CAST(0 AS BIGINT) AS w)"

  private def trainCtes(dim: Int, rounds: Int, lrNum: Long, lrDen: Long,
      labelSql: String, rel: String = "documents", ngram: Int = 1)
      : String = {
    val rcs = (1 to rounds).map(i => roundCtes(i, "f", "fa", lrNum, lrDen))
      .mkString(",\n")
    s"""${featureCtes(dim, labelSql, rel, "", ngram)},
       |${w0Cte(dim)},
       |$rcs""".stripMargin
  }

  /** DuckDB twin of [[trainLr]] + [[weightsDf]]. */
  def trainLrSql(dim: Int, rounds: Int, lrNum: Long, lrDen: Long,
      labelSql: String, ngram: Int = 1): String =
    s"""WITH ${trainCtes(dim, rounds, lrNum, lrDen, labelSql,
        "documents", ngram)}
       |SELECT CAST(j AS BIGINT) AS j, w FROM w$rounds""".stripMargin

  /** The SAMPLED-round replay ([[trainLr]]'s twin body with a
    * `sampleMilli`): round i restricts the feature relation to
    * [[sampleBucketSql]]'s rotating subset, reads F_r from the
    * restricted relation, and divides the update by it — the identical
    * trajectory, sample predicate and all, as chained CTEs. */
  private def trainSampledCtes(dim: Int, rounds: Int, lrNum: Long,
      lrDen: Long, sampleMilli: Int, labelSql: String,
      rel: String = "documents", ngram: Int = 1): String = {
    val rcs = (1 to rounds).map { i =>
      // Scala round index r = i - 1 (startRound = 0); sampleBucketSql
      // mixes in r + 1 = i. The round body is the SHARED [[roundCtes]]
      // pointed at the round's sampled relation + its own mass.
      val pred = s"${sampleBucketSql("doc_id", i - 1)} < $sampleMilli"
      // empty-sample guard: the Scala twin fails this round with a clear
      // require; without the CASE the SQL twin surfaced the same
      // condition as a cryptic division-by-zero from the w-update — both
      // engines now report the same diagnosis (error() is lazy in CASE)
      s"""sf$i AS MATERIALIZED (
         |  SELECT doc_id, j, x FROM f WHERE $pred),
         |fr$i AS (SELECT CASE WHEN count(*) = 0
         |    THEN CAST(error('trainLr: round ${i - 1} sampled zero docs — raise sampleMilli or the corpus') AS BIGINT)
         |    ELSE count(*) END AS f FROM sf$i),
         |${roundCtes(i, s"sf$i", s"fr$i", lrNum, lrDen)}""".stripMargin
    }.mkString(",\n")
    s"""${featureCtes(dim, labelSql, rel, "", ngram, withFa = false)},
       |${w0Cte(dim)},
       |$rcs""".stripMargin
  }

  /** DuckDB twin of [[trainLr]] with `sampleMilli` + [[weightsDf]]. */
  def trainLrSampledSql(dim: Int, rounds: Int, lrNum: Long, lrDen: Long,
      sampleMilli: Int, labelSql: String, ngram: Int = 1): String =
    s"""WITH ${trainSampledCtes(dim, rounds, lrNum, lrDen, sampleMilli,
        labelSql, "documents", ngram)}
       |SELECT CAST(j AS BIGINT) AS j, w FROM w$rounds""".stripMargin

  /** Held-out confusion twin for the SAMPLED trainer (the
    * [[lrHoldoutEvalSql]] shape over [[trainSampledCtes]]): the
    * convergence certificate that sampled rounds still learn the
    * distilled gate. */
  def lrSampledHoldoutEvalSql(dim: Int, rounds: Int, lrNum: Long,
      lrDen: Long, sampleMilli: Int, labelSql: String, trainRel: String,
      scoreRel: String, ngram: Int = 1): String =
    s"""WITH ${trainSampledCtes(dim, rounds, lrNum, lrDen, sampleMilli,
        labelSql, trainRel, ngram)},
       |${featureCtes(dim, labelSql, scoreRel, "s_", ngram, withFa = false)},
       |sc AS (
       |  SELECT f.doc_id, CAST(sum(CAST(f.x AS HUGEINT) * w.w) AS BIGINT)
       |    AS margin
       |  FROM s_f f JOIN w$rounds w ON w.j = f.j GROUP BY 1),
       |pr AS (
       |  SELECT sc.margin > 0 AS pred, lab.y
       |  FROM sc JOIN s_lab lab USING (doc_id))
       |SELECT tp, fp, tn, fn, n,
       |  (1000000 * (tp + tn)) // n AS acc_ppm FROM (
       |  SELECT
       |    CAST(sum(CASE WHEN pred AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |    CAST(sum(CASE WHEN pred AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |    CAST(sum(CASE WHEN NOT pred AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
       |    CAST(sum(CASE WHEN NOT pred AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM pr)""".stripMargin

  /** DuckDB twin of [[lrScore]] under the [[trainLrSql]]-replayed
    * weights: the full trajectory, then one scoring join. */
  def lrScoreSql(dim: Int, rounds: Int, lrNum: Long, lrDen: Long,
      labelSql: String, ngram: Int = 1): String =
    s"""WITH ${trainCtes(dim, rounds, lrNum, lrDen, labelSql,
        "documents", ngram)},
       |sc AS (
       |  SELECT f.doc_id, CAST(sum(CAST(f.x AS HUGEINT) * w.w) AS BIGINT)
       |    AS margin
       |  FROM f JOIN w$rounds w ON w.j = f.j GROUP BY 1)
       |SELECT sc.doc_id, sc.margin, sc.margin > 0 AS pred, lab.y
       |FROM sc JOIN lab USING (doc_id)""".stripMargin

  /** CALIBRATION (reliability) table for a scored corpus: bin each
    * doc by its predicted probability p = σ(margin) in fixed 10%
    * bins — bin = (10·(Z+|z'|+z')) div (2(Z+|z'|)), pure integer
    * arithmetic on the exact softsign rational, clamped to 9 at p = 1 —
    * and report per-bin doc count, positives, and the empirical
    * positive rate in ppm. A well-calibrated filter has rate ≈ bin
    * midpoint; the table is what justifies (or refutes) reading the
    * squash output as a probability before thresholding. Class-A
    * integer outputs end to end. */
  def calibrationTable(scored: DataFrame): DataFrame =
    scored
      .withColumn("bin",
        least(expr(s"(10L * (${Z}L + abs(margin) + margin)) div " +
          s"(2L * (${Z}L + abs(margin)))"), lit(9L)))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("positives"))
      .select(col("bin"), col("n"), col("positives"),
        expr("(1000000L * positives) div n").as("rate_ppm"))

  /** DuckDB twin of [[calibrationTable]] over [[lrScoreSql]]. */
  def calibrationSql(dim: Int, rounds: Int, lrNum: Long, lrDen: Long,
      labelSql: String, ngram: Int = 1): String =
    s"""SELECT bin, n, positives, (1000000 * positives) // n AS rate_ppm
       |FROM (
       |  SELECT least((10 * ($Z + abs(margin) + margin))
       |      // (2 * ($Z + abs(margin))), 9) AS bin,
       |    CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(y) AS BIGINT) AS positives
       |  FROM (${lrScoreSql(dim, rounds, lrNum, lrDen, labelSql, ngram)})
       |  GROUP BY 1)""".stripMargin

  /** HELD-OUT evaluation twin: replay training over `trainRel`, build
    * an independent feature/label set over `scoreRel` (CTEs prefixed
    * s_), score it with the final weights, and emit the confusion
    * counts + ppm accuracy — the generalization certificate next to
    * the training-accuracy one. */
  def lrHoldoutEvalSql(dim: Int, rounds: Int, lrNum: Long, lrDen: Long,
      labelSql: String, trainRel: String, scoreRel: String,
      ngram: Int = 1): String =
    s"""WITH ${trainCtes(dim, rounds, lrNum, lrDen, labelSql, trainRel,
        ngram)},
       |${featureCtes(dim, labelSql, scoreRel, "s_", ngram, withFa = false)},
       |sc AS (
       |  SELECT f.doc_id, CAST(sum(CAST(f.x AS HUGEINT) * w.w) AS BIGINT)
       |    AS margin
       |  FROM s_f f JOIN w$rounds w ON w.j = f.j GROUP BY 1),
       |pr AS (
       |  SELECT sc.margin > 0 AS pred, lab.y
       |  FROM sc JOIN s_lab lab USING (doc_id))
       |SELECT tp, fp, tn, fn, n,
       |  (1000000 * (tp + tn)) // n AS acc_ppm FROM (
       |  SELECT
       |    CAST(sum(CASE WHEN pred AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |    CAST(sum(CASE WHEN pred AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |    CAST(sum(CASE WHEN NOT pred AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
       |    CAST(sum(CASE WHEN NOT pred AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM pr)""".stripMargin
}
