package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Scale design (the 100 TB story):
  *  - dot/cosine are narrow codegen'd higher-order-function expressions —
  *    no UDF, no serialization cliff;
  *  - brute-force top-k is the correctness baseline: a broadcast of the
  *    (small) query set against the (huge) corpus — one pass, no shuffle
  *    of the corpus, per-partition top-k via window over query id;
  *  - the scale path is LSH bucketing (random hyperplane signatures):
  *    corpus is hashed to buckets in one narrow pass, candidates meet via
  *    an equi-join on (band, signature) — a shuffle on small keys instead
  *    of a cartesian product; exact re-rank only within buckets.
  *
  * All float math is widened to double *before* any arithmetic so the
  * DuckDB oracle (CAST(e AS DOUBLE[])) computes bit-identical values.
  */
object SimilarityOps {

  /** Sequential-fold dot product in double precision (deterministic).
    * HOF form kept for reference/tests; the hot path uses the native
    * [[graft.functions.CosineSim]] expression (same fp semantics). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
  def dotSql(a: String, b: String): String =
    s"list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))"

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity: native one-pass expression; bit-identical to
    * dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b))) with sequential sums. */
  def cosine(a: Column, b: Column): Column = graft.functions.CosineSim(a, b)
  def cosineSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})))"

  /** Spread a (possibly single-split) corpus before per-pair work —
    * conditional pass-through for well-split inputs; see [[Spread]]. */
  private def spread(df: DataFrame): DataFrame = Spread(df)

  /** The k best-scored (query_id, neighbor_id, sim) rows per query, ranked
    * by rounded sim descending, neighbor id ascending. */
  private def topKBySim(scored: DataFrame, k: Int): DataFrame =
    scored.withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("sim").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "sim", "rank")

  /** Brute-force cosine top-k: for each query vector, the k nearest corpus
    * vectors. Query side is broadcast (small); ranking uses the *rounded*
    * similarity (6 dp) with id tie-break so ordering is engine-portable. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val c = spread(corpus).select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
    // without it (sf0.1): BroadcastNestedLoopJoin BuildRight, the corpus broadcast
    val scored = broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", round(cosine(col("qe"), col("ce")), 6))
      // zero-norm embeddings give NaN cosine, and Spark orders NaN above
      // every double — without this filter a zero vector ranks #1 for
      // every query
      .filter(!isnan(col("sim")))
    topKBySim(scored, k)
  }

  /** Hard-negative mining for contrastive training: for each query
    * vector, the k most-similar corpus vectors with a DIFFERENT label —
    * the negatives that sit closest to the decision boundary (the
    * in-batch-negatives upgrade every embedding-model recipe reaches
    * for; Karpukhin et al. 2020 DPR-style). Identical plan shape to
    * [[bruteForceTopK]] (broadcast queries, label inequality rides in
    * the join condition, two-phase WindowGroupLimit top-k); the label
    * filter drops same-class pairs BEFORE ranking, so k true negatives
    * come back even when a query's own class dominates its
    * neighborhood. Self-pairs are excluded by the label inequality.
    *
    * 100 TB shape: same contract as [[bruteForceTopK]] — a linear scan
    * per query batch, correct as the exhaustive baseline and for
    * nightly hard-negative refreshes over bounded query sets; for
    * corpus-scale mining swap the scan for [[annTopK]]/[[ivfPqTopK]]
    * candidates and apply the same label-inequality filter before the
    * re-rank (candidate generation is label-blind either way). */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col("label").as("qlabel"), col("embedding").as("qe"))
    val c = spread(corpus).select(col("vec_id").as("neighbor_id"),
      col("label").as("nlabel"), col("embedding").as("ce"))
    // without it (sf0.1): BroadcastNestedLoopJoin BuildRight, the corpus broadcast
    val scored = broadcast(q).join(c, col("qlabel") =!= col("nlabel"))
      .withColumn("sim", round(cosine(col("qe"), col("ce")), 6))
      .filter(!isnan(col("sim")))
    topKBySim(scored, k)
  }

  /** Seeded integer centroid matrix for [[ivfTopK]]'s coarse quantizer:
    * Gaussian coordinates scaled to the quantized-embedding magnitude
    * (embedding std ≈ 0.125 × QuantScale ≈ 32) and rounded. Public so the
    * DuckDB oracle embeds the identical entries as VALUES. At 100 TB the
    * centroid set is trained offline (sampled k-means) and passed to
    * [[ivfTopK]] explicitly; the index/probe machinery is identical. */
  def seededCentroids(nCentroids: Int, dim: Int,
      seed: Long = 42L): Array[Array[Long]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(nCentroids, dim)(math.round(rng.nextGaussian() * 32.0))
  }

  /** IVF-style ANN (inverted-file with coarse quantizer).
    *
    * Scale path #2 (complement to [[annTopK]]'s LSH): corpus vectors are
    * assigned to their nearest of k centroids in one narrow pass; queries
    * probe their `nprobe` nearest centroid lists via an equi-join on the
    * centroid id; exact cosine re-rank only inside probed lists.
    * Assignment is exact integer arithmetic over quantized values (see
    * [[graft.functions.NearestCentroid]]) so cell membership is
    * deterministic and oracle-checkable. Pass offline-trained centroids
    * via `centroids`; the default is the seeded demo quantizer.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, dim: Int, k: Int,
      nCentroids: Int = 16, nprobe: Int = 4, seed: Long = 42L,
      centroids: Option[Array[Array[Long]]] = None): DataFrame = {
    val cents = centroids.getOrElse(seededCentroids(nCentroids, dim, seed))
    val cs = spread(corpus).select(col("vec_id").as("neighbor_id"),
      col("embedding").as("ce"),
      element_at(graft.functions.NearestCentroid(col("embedding"), cents, 1), 1)
        .as("cell"))
    ivfRerank(queries, cs, cents, k, nprobe)
  }

  /** Exact in-cell re-rank shared by the fresh and the index-backed IVF
    * search paths: probe cells on the (broadcast) query side, equi-join
    * on cell, cosine + rounded-rank top-k. */
  private def ivfRerank(queries: DataFrame, cs: DataFrame,
      cents: Array[Array[Long]], k: Int, nprobe: Int): DataFrame = {
    val qs = queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"),
      explode(graft.functions.NearestCentroid(col("embedding"), cents, nprobe))
        .as("cell"))
    // without it (sf0.1, 256 KB threshold): SortMergeJoin + 2 Exchange
    val scored = broadcast(qs).join(cs, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", round(cosine(col("qe"), col("ce")), 6))
      .filter(!isnan(col("sim"))) // zero-norm guard (see bruteForceTopK)
    topKBySim(scored, k)
  }

  // ---- persisted IVF index ----------------------------------------------
  /** A built IVF index: corpus cell assignments + the centroid matrix.
    * Building pays the one assignment pass over the corpus; searches
    * against the index skip it entirely. */
  final case class IvfIndex(assignments: DataFrame,
      centroids: Array[Array[Long]])

  def buildIvfIndex(corpus: DataFrame, dim: Int, nCentroids: Int = 16,
      seed: Long = 42L,
      centroids: Option[Array[Array[Long]]] = None): IvfIndex = {
    val cents = centroids.getOrElse(seededCentroids(nCentroids, dim, seed))
    val a = spread(corpus).select(col("vec_id"), col("embedding"),
      element_at(graft.functions.NearestCentroid(col("embedding"), cents, 1), 1)
        .as("cell"))
    IvfIndex(a, cents)
  }

  /** Persist the index: assignments PARTITIONED BY cell (query-time cell
    * probes prune whole directories — the parquet-layout form of an IVF
    * posting list) + the centroid matrix as a tiny meta table. */
  def writeIvfIndex(idx: IvfIndex, path: String): Unit = {
    val spark = idx.assignments.sparkSession
    import spark.implicits._
    idx.assignments.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/data")
    idx.centroids.zipWithIndex.toSeq.map { case (row, i) => (i, row.toSeq) }
      .toDF("i", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  def readIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): IvfIndex = {
    val cents = spark.read.parquet(s"$path/meta").collect()
      .sortBy(_.getInt(0))
      .map(_.getAs[scala.collection.Seq[Long]]("centroid").toArray)
    IvfIndex(spark.read.parquet(s"$path/data"), cents)
  }

  /** IVF search against a built (usually read-back) index — identical
    * results to [[ivfTopK]] with the same centroids, without the corpus
    * assignment pass. */
  def ivfTopKIndexed(queries: DataFrame, idx: IvfIndex, k: Int,
      nprobe: Int = 4): DataFrame = {
    val cs = idx.assignments.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("ce"), col("cell"))
    ivfRerank(queries, cs, idx.centroids, k, nprobe)
  }

  /** Per-vector near-duplicate stats at a cosine threshold: how many other
    * vectors exceed it, and the best match. Returns one row per corpus
    * vector (never empty — zero-filled via a join back to the corpus).
    * Brute-force baseline (inherently all-pairs; the corpus broadcast caps
    * it at broadcast-threshold scale — use the LSH/IVF paths beyond that).
    * NaN sims (zero-norm embeddings) are excluded: under Spark semantics
    * NaN >= threshold is TRUE and would inflate every count. */
  def nearDupStats(corpus: DataFrame, threshold: Double): DataFrame = {
    val a = spread(corpus).select(col("vec_id"), col("embedding").as("ea"))
    val b = corpus.select(col("vec_id").as("vb"), col("embedding").as("eb"))
    // without it (sf0.1, 256 KB threshold): CartesianProduct
    val stats = a.join(broadcast(b), col("vec_id") =!= col("vb"))
      .withColumn("sim", round(cosine(col("ea"), col("eb")), 6))
      .filter(!isnan(col("sim")))
      .groupBy("vec_id").agg(
        sum(when(col("sim") >= threshold, 1L).otherwise(0L)).as("n_near"),
        max(col("sim")).as("max_sim"))
    corpus.select(col("vec_id"))
      .join(stats, Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("n_near"), lit(0L)).as("n_near"),
        coalesce(col("max_sim"), lit(0.0)).as("max_sim"))
  }

  /** Scale form of [[nearDupStats]]: near-duplicate stats at a cosine
    * threshold with candidates from LSH signature buckets instead of an
    * all-pairs corpus broadcast. Returns, per corpus vector, the number of
    * neighbors with sim >= threshold and the best such sim (0-filled when
    * none) — i.e. stats over QUALIFYING pairs only, which is the quantity
    * a candidate-based plan can compute without touching every pair (the
    * baseline's max-over-all-pairs `max_sim` inherently needs all pairs).
    *
    * Plan shape (the 100 TB story): one narrow signature pass, ONE
    * (band, sig) self-join moving only ids+signatures, embeddings joined
    * back only for surviving candidates (equi-join), exact verify, then a
    * zero-fill left join — no broadcast of the corpus, no cartesian
    * product. Recall is the LSH collision probability at the pair's true
    * sim: ≈1 for the near-1 sims dedup hunts (miss ~1e-11 at sim 0.999
    * with 16×16 default), lower right at the threshold — size
    * (bands, rowsPerBand) to the sim regime being hunted. */
  def nearDupStatsLsh(corpus: DataFrame, threshold: Double, dim: Int,
      bands: Int = 16, rowsPerBand: Int = 16, seed: Long = 42L): DataFrame = {
    val sigs = lshSignatures(spread(corpus), dim, bands, rowsPerBand, seed)
    val s = sigs.select(col("vec_id"), posexplode(col("sigs")).as(Seq("b", "sig")))
    val cand = s.as("l").join(s.as("r"), Seq("b", "sig"))
      .filter(col("l.vec_id") < col("r.vec_id"))
      .select(col("l.vec_id").as("va"), col("r.vec_id").as("vb"))
      .distinct()
    val emb = corpus.select(col("vec_id"), col("embedding"))
    val verified = cand
      .join(emb.select(col("vec_id").as("va"), col("embedding").as("ea")), Seq("va"))
      .join(emb.select(col("vec_id").as("vb"), col("embedding").as("eb")), Seq("vb"))
      .withColumn("sim", round(cosine(col("ea"), col("eb")), 6))
      // NaN guard as in nearDupStats: NaN >= t is TRUE under Spark ordering
      .filter(!isnan(col("sim")) && col("sim") >= threshold)
    val sym = verified.select(col("va").as("vec_id"), col("sim"))
      .unionByName(verified.select(col("vb").as("vec_id"), col("sim")))
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_near"), max(col("sim")).as("max_sim"))
    corpus.select(col("vec_id"))
      .join(sym, Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("n_near"), lit(0L)).as("n_near"),
        coalesce(col("max_sim"), lit(0.0)).as("max_sim"))
  }

  /** SemDedup-style semantic dedup (Abbas et al. 2023): cluster embeddings
    * by nearest centroid, compare pairs only WITHIN a cluster, and elect
    * the minimum-id member of each near-duplicate neighborhood as the
    * keeper. Returns one row per vector: (vec_id, cell, n_near, keep).
    *
    * Scale shape: the coarse-quantizer assignment is one narrow pass (the
    * centroid matrix rides inside the [[graft.functions.NearestCentroid]]
    * expression); the only shuffle is the equi-join on cell id, and pair
    * cost is Σ_c |cell_c|² — bounded by training enough centroids (sampled
    * k-means offline at 100 TB; the seeded demo quantizer here keeps the
    * whole pipeline oracle-checkable). No all-pairs term, no broadcast of
    * the corpus. */
  def semanticDedup(corpus: DataFrame, threshold: Double, dim: Int,
      nCentroids: Int = 16, seed: Long = 42L,
      centroids: Option[Array[Array[Long]]] = None): DataFrame = {
    val cents = centroids.getOrElse(seededCentroids(nCentroids, dim, seed))
    val cells = spread(corpus).select(col("vec_id"), col("embedding"),
      element_at(graft.functions.NearestCentroid(col("embedding"), cents, 1), 1)
        .cast("long").as("cell"))
    val a = cells.select(col("cell"), col("vec_id").as("va"), col("embedding").as("ea"))
    val b = cells.select(col("cell"), col("vec_id").as("vb"), col("embedding").as("eb"))
    val pairs = a.join(b, Seq("cell")).filter(col("va") < col("vb"))
      .withColumn("sim", round(cosine(col("ea"), col("eb")), 6))
      // NaN guard: NaN >= t is TRUE under Spark ordering (see nearDupStats)
      .filter(!isnan(col("sim")) && col("sim") >= threshold)
      .select("va", "vb")
    val sym = pairs.select(col("va").as("vec_id"), col("vb").as("nb"))
      .unionByName(pairs.select(col("vb").as("vec_id"), col("va").as("nb")))
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_near"), min(col("nb")).as("min_nb"))
    cells.select(col("vec_id"), col("cell"))
      .join(sym, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        (col("min_nb").isNull || col("min_nb") > col("vec_id")).as("keep"))
  }

  /** Order-independent mean of a float-lane column: lanes quantize to
    * round(x·10⁶) integers, the moment sum is exact in any partition /
    * merge order (decimal(38,0) here, HUGEINT in the DuckDB twin), and
    * the mean derives from identical integers through correctly-rounded
    * IEEE ops (int→double cast, two divisions) in identical order — so
    * the output DOUBLE is bit-identical across engines and needs NO
    * final round. Deliberately unrounded: Spark's round(x, d) (exact
    * BigDecimal HALF_UP) and DuckDB's (std::round on a 10^d-scaled
    * double) are different algorithms that disagree within an ulp of a
    * tie even on identical inputs — a 6-dp round here REINTRODUCED a
    * flake (emb_kmeans cell at -0.0019655). Use this for ANY aggregate
    * over non-decimal-grid doubles (raw-double avg/sum is
    * summation-order-dependent across engines; the emb_covariance flake
    * class). */
  def quantizedMean(v: Column): Column = {
    val q = round(v.cast("double") * lit(1e6), 0).cast("decimal(38,0)")
    // count(q), not count(*): null lanes are skipped by the sum, so they
    // must be skipped by the denominator too (avg()'s null semantics)
    sum(q).cast("double") / count(q).cast("double") / lit(1e6)
  }

  /** DuckDB twin of [[quantizedMean]]. */
  def quantizedMeanSql(expr: String): String = {
    val q = s"CAST(round(CAST($expr AS DOUBLE) * 1e6) AS BIGINT)"
    s"CAST(sum($q) AS DOUBLE) / CAST(count($q) AS DOUBLE) / 1e6"
  }

  /** One Lloyd (k-means) update step over the embedding column: assign
    * every vector to its nearest centroid (exact integer arithmetic via
    * [[graft.functions.NearestCentroid]] — deterministic, oracle-checkable
    * cell membership), then the per-(cell, dimension) member count and new
    * centroid coordinate ([[quantizedMean]] — deterministic across
    * engines and partitionings).
    *
    * Scale shape: assignment is one narrow pass (centroid matrix rides in
    * the expression); the update is one groupBy over (cell, dim) — k·d
    * result rows regardless of corpus size, with map-side partial
    * aggregation so only k·d·partitions rows shuffle. This is how the IVF
    * coarse quantizer ([[ivfTopK]]) gets trained in-engine instead of
    * imported. */
  def kmeansStep(corpus: DataFrame, cents: Array[Array[Long]]): DataFrame =
    spread(corpus).select(
        element_at(graft.functions.NearestCentroid(col("embedding"), cents, 1), 1)
          .cast("long").as("cell"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("cell", "dim")
      .agg(count(lit(1)).as("n"), quantizedMean(col("v")).as("c_new"))

  /** Full Lloyd iteration: run [[kmeansStep]] `iters` times, re-quantizing
    * the updated means to the integer centroid grid each round
    * (floor(mean·scale + 0.5) — the exact quantizer applied to
    * embeddings, so assignment stays integer-exact every round). Cells
    * that lose all members keep their previous centroid. The k×d collect
    * per round is the centroid table itself (tiny by construction). */
  def kmeansLloyd(corpus: DataFrame, initial: Array[Array[Long]], iters: Int,
      scale: Double = graft.functions.HyperplaneSig.QuantScale): Array[Array[Long]] = {
    var cents = initial
    var it = 0
    while (it < iters) {
      val next = cents.map(_.clone())
      kmeansStep(corpus, cents).collect().foreach { r =>
        next(r.getLong(0).toInt)(r.getInt(1)) =
          math.floor(r.getDouble(3) * scale + 0.5).toLong
      }
      cents = next
      it += 1
    }
    cents
  }

  /** Random-hyperplane LSH signatures: `bands` bands of `rowsPerBand` sign
    * bits each, hyperplanes drawn from a seeded RNG on the driver and
    * broadcast as literals (Charikar 2002 SimHash for cosine). Returns
    * (vec_id, embedding, sigs: array<string>) — one signature per band. */
  def lshSignatures(df: DataFrame, dim: Int, bands: Int, rowsPerBand: Int,
      seed: Long = 42L): DataFrame =
    df.select(col("vec_id"), col("embedding"),
      graft.functions.HyperplaneSig(col("embedding"), dim, bands, rowsPerBand,
        seed).as("sigs"))

  /** (id, band_idx, sig) long form — the inverted-index key layout: ONE
    * equi-join on (band_idx, sig) replaces a join per band. */
  private def explodeSigs(df: DataFrame, idAlias: String): DataFrame =
    df.select(col("vec_id").as(idAlias), posexplode(col("sigs")).as(Seq("b", "sig")))

  /** Distinct (query_id, neighbor_id) pairs, other than a vector with
    * itself, that share a signature in some band. */
  private def lshCandidates(queries: DataFrame, corpus: DataFrame, dim: Int,
      bands: Int, rowsPerBand: Int, seed: Long): DataFrame = {
    val qs = explodeSigs(lshSignatures(queries, dim, bands, rowsPerBand, seed), "query_id")
    val cs = explodeSigs(lshSignatures(spread(corpus), dim, bands, rowsPerBand, seed), "neighbor_id")
    // without it (sf0.1): BroadcastHashJoin BuildRight, the corpus signatures broadcast
    broadcast(qs).join(cs, Seq("b", "sig"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
  }

  /** ANN via LSH: bucket-join candidates on (band, signature), exact cosine
    * re-rank, top-k. Same output schema as [[bruteForceTopK]]; recall < 1
    * by construction (checked against brute force in OpsSpec). Embeddings
    * are joined back only for surviving candidate pairs — signatures, not
    * vectors, flow through the shuffle. */
  def annTopK(queries: DataFrame, corpus: DataFrame, dim: Int, k: Int,
      bands: Int = 8, rowsPerBand: Int = 8, seed: Long = 42L): DataFrame = {
    val scored = lshCandidates(queries, corpus, dim, bands, rowsPerBand, seed)
      // without it (sf0.1, 256 KB threshold): SortMergeJoin + 2 Exchange
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("qe"))), Seq("query_id"))
      .join(corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("ce")), Seq("neighbor_id"))
      .withColumn("sim", round(cosine(col("qe"), col("ce")), 6))
      .filter(!isnan(col("sim"))) // zero-norm guard (see bruteForceTopK)
    topKBySim(scored, k)
  }

  /** The SCALE path for [[hardNegatives]]: LSH-bucketed candidate
    * generation (the [[annTopK]] machinery, label-blind) with the
    * label-inequality filter applied BEFORE the exact re-rank — at
    * corpus scale the linear scan goes away and mining cost tracks
    * bucket-collision volume. Recall inherits annTopK's band/bits
    * trade (tested against the brute form on real embeddings);
    * same-label collisions are dropped post-candidate, so k negatives
    * come back whenever enough other-label candidates collide. */
  def hardNegativesLsh(queries: DataFrame, corpus: DataFrame, dim: Int,
      k: Int, bands: Int = 8, rowsPerBand: Int = 8,
      seed: Long = 42L): DataFrame = {
    val scored = lshCandidates(queries, corpus, dim, bands, rowsPerBand, seed)
      // without it (sf0.1, 256 KB threshold): SortMergeJoin + 2 Exchange
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("label").as("qlabel"), col("embedding").as("qe"))), Seq("query_id"))
      .join(corpus.select(col("vec_id").as("neighbor_id"),
        col("label").as("nlabel"), col("embedding").as("ce")), Seq("neighbor_id"))
      .filter(col("qlabel") =!= col("nlabel"))
      .withColumn("sim", round(cosine(col("qe"), col("ce")), 6))
      .filter(!isnan(col("sim")))
    topKBySim(scored, k)
  }

  // ---- covariance / PCA -------------------------------------------------
  /** Upper-triangle covariance matrix of the embedding column, one
    * distributed pass over lanes quantized to integers:
    * qᵢ = round(xᵢ·10⁶) as a 64-bit integer, then
    * cov(i,j) = (n·Σqᵢqⱼ − Σqᵢ·Σqⱼ) / (n²·10¹²).
    *
    * Why quantize: the raw-float form summed doubles, and the two engines'
    * (Spark vs the DuckDB oracle) different summation orders left
    * ~1e-12-relative differences that the catastrophic-cancellation
    * subtraction amplified past a 0.5e-6 rounding boundary on a few of the
    * d(d+1)/2 cells. With integer lanes every moment sum is EXACT in any
    * order (decimal(38,0) here, HUGEINT in DuckDB), and the derived value
    * flows through correctly-rounded IEEE ops in identical order — so the
    * output DOUBLE is bit-identical across engines with NO final round
    * (see [[quantizedMean]] for why a final round would itself reintroduce
    * an engine divergence). Same pattern as the integer-quantized ANN
    * oracles. Quantization error is a deterministic ≤5e-7 per lane — fine
    * for a covariance exhibit, and identical on both sides by
    * construction.
    *
    * Scale shape: the per-row double posexplode expands each vector to
    * d(d+1)/2 (i,j) cells, but map-side combine collapses every partition
    * to at most d(d+1)/2 aggregate rows before the shuffle — the exchange
    * carries O(d² · partitions) sums, never corpus rows. CPU cost is the
    * honest O(rows · d²) of covariance itself, spread across executors.
    *
    * Returns (i, j, n, cov) for 0 <= i <= j < d. */
  def embeddingCovariance(df: DataFrame,
      vecCol: String = "embedding"): DataFrame = {
    // float → double is exact; ·1e6 and the 0-dp round are IEEE-identical
    // in both engines, so the quantized lane is the same integer everywhere.
    val q = transform(col(vecCol).cast("array<double>"),
      x => round(x * lit(1e6), 0).cast("decimal(38,0)"))
    val nD = col("n").cast("double")
    spread(df)
      .select(posexplode(q).as(Seq("i", "qi")), q.as("__q"))
      .select(col("i"), col("qi"), posexplode(col("__q")).as(Seq("j", "qj")))
      .filter(col("j") >= col("i"))
      .groupBy("i", "j")
      .agg(count(lit(1)).as("n"), sum(col("qi")).as("sx"),
        sum(col("qj")).as("sy"), sum(col("qi") * col("qj")).as("sxy"))
      // exact integer moments → double, identical op order in the twin
      .select(col("i"), col("j"), col("n"),
        ((nD * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
          (nD * nD * lit(1e12))).as("cov"))
  }

  /** DuckDB twin of [[embeddingCovariance]]: same quantization, exact
    * HUGEINT moment sums, same double op order; 0-based indices. */
  def embeddingCovarianceSql(): String =
    """WITH e AS (
      |  SELECT vec_id,
      |    CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS i,
      |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS q
      |  FROM embeddings)
      |SELECT a.i, b.i AS j, CAST(count(*) AS BIGINT) AS n,
      |  (CAST(count(*) AS DOUBLE) * CAST(sum(a.q * b.q) AS DOUBLE)
      |    - CAST(sum(a.q) AS DOUBLE) * CAST(sum(b.q) AS DOUBLE))
      |    / (CAST(count(*) AS DOUBLE) * CAST(count(*) AS DOUBLE) * 1e12) AS cov
      |FROM e a JOIN e b ON a.vec_id = b.vec_id AND b.i >= a.i
      |GROUP BY 1, 2""".stripMargin

  /** Dominant eigenvector of the embedding covariance via driver-side
    * power iteration — the matrix is d×d (bounded, collect is O(d²)
    * regardless of corpus size; the distributed work is
    * [[embeddingCovariance]]'s one pass). Deterministic: fixed uniform
    * start vector, fixed iteration count, sign fixed so the first
    * nonzero component is positive. */
  def principalComponent(df: DataFrame, vecCol: String = "embedding",
      iters: Int = 50): Array[Double] = {
    val cells = embeddingCovariance(df, vecCol)
      .select("i", "j", "cov").collect()
    require(cells.nonEmpty,
      "principalComponent: no covariance cells — empty corpus or all-null embeddings")
    val d = cells.iterator.map(_.getInt(1)).max + 1
    val m = Array.ofDim[Double](d, d)
    cells.foreach { r =>
      val (i, j, c) = (r.getInt(0), r.getInt(1), r.getDouble(2))
      m(i)(j) = c; m(j)(i) = c
    }
    powerIteration(m, iters)
  }

  /** Power iteration on a symmetric matrix (driver-side; exposed for
    * tests). Converges to the dominant eigenvector for any start vector
    * not orthogonal to it; the all-ones start is fine for covariance
    * matrices (nonnegative diagonal dominance in practice). */
  def powerIteration(m: Array[Array[Double]], iters: Int): Array[Double] = {
    val d = m.length
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    var it = 0
    while (it < iters) {
      val nv = Array.tabulate(d) { i =>
        var s = 0.0; var j = 0
        while (j < d) { s += m(i)(j) * v(j); j += 1 }
        s
      }
      val n = math.sqrt(nv.map(x => x * x).sum)
      require(n > 0, "power iteration hit the zero vector (rank-0 matrix?)")
      v = nv.map(_ / n)
      it += 1
    }
    val lead = v.find(math.abs(_) > 1e-12).getOrElse(0.0)
    if (lead < 0) v.map(-_) else v
  }

  /** Project embeddings onto a fixed component vector (e.g. the output of
    * [[principalComponent]]): one narrow codegen'd pass, no shuffle. */
  def pcaProject(df: DataFrame, component: Array[Double],
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val lit1 = array(component.map(lit): _*)
    df.select(col(idCol),
      round(dot(col(vecCol), lit1), 6).as("projection"))
  }

  /** FULL eigendecomposition of the embedding covariance — the PCA
    * model behind whitening, OPQ-style rotation before product
    * quantization, and variance-explained reports. The matrix is d×d
    * (driver-bounded whatever the corpus size; the distributed work is
    * [[embeddingCovariance]]'s single pass + one mean pass), solved
    * with cyclic Jacobi — the textbook symmetric eigensolver, chosen
    * here because its fixed sweep order makes the decomposition
    * DETERMINISTIC bit-for-bit for a given covariance.
    *
    * Conventions (all deterministic): eigenpairs sorted by eigenvalue
    * descending, ties by original column index; each eigenvector's
    * sign fixed so its largest-|component| entry (first such index on
    * ties) is positive.
    *
    * Returns (mean, eigenvalues desc, rotation) — rotation rows are
    * components, so `rotation(j)` dot (v − mean) is score j. */
  def pcaModel(df: DataFrame, vecCol: String = "embedding")
      : (Array[Double], Array[Double], Array[Array[Double]]) = {
    val cells = embeddingCovariance(df, vecCol)
      .select("i", "j", "cov").collect()
    require(cells.nonEmpty, "pcaModel: no covariance cells")
    val d = cells.iterator.map(_.getInt(1)).max + 1
    val m = Array.ofDim[Double](d, d)
    cells.foreach { r =>
      val (i, j, c) = (r.getInt(0), r.getInt(1), r.getDouble(2))
      m(i)(j) = c; m(j)(i) = c
    }
    val mean = df.select(posexplode(col(vecCol).cast("array<double>"))
        .as(Seq("i", "x")))
      .groupBy("i").agg(sum("x").as("s"), count(lit(1)).as("n"))
      .orderBy("i").collect()
      .map(r => r.getDouble(1) / r.getLong(2))
    require(mean.length == d, s"mean dim ${mean.length} != cov dim $d")
    val (evals, evecs) = jacobiEigen(m)
    (mean, evals, evecs)
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix
    * (driver-side; exposed for tests). Sweeps rotate every (p,q) pair
    * in fixed row-major order until the off-diagonal Frobenius norm
    * drops below 1e-12·‖A‖ (loud failure at 64 sweeps — far beyond
    * Jacobi's quadratic-convergence needs). Returns (eigenvalues desc,
    * eigenvectors as ROWS aligned to them, sign-fixed). */
  def jacobiEigen(a0: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    val normA = math.sqrt(a.map(_.map(x => x * x).sum).sum)
    def off(): Double = {
      var s = 0.0
      for (p <- 0 until d; q <- 0 until d if p != q) s += a(p)(q) * a(p)(q)
      math.sqrt(s)
    }
    var sweep = 0
    while (off() > 1e-12 * math.max(normA, 1e-300)) {
      require(sweep < 64, "jacobiEigen: no convergence in 64 sweeps")
      for (p <- 0 until d; q <- p + 1 until d if a(p)(q) != 0.0) {
        val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
        val t = math.signum(theta) match {
          case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1.0))
          case s0 => s0 / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
        }
        val c = 1.0 / math.sqrt(t * t + 1.0)
        val s = t * c
        for (k <- 0 until d) {
          val akp = a(k)(p); val akq = a(k)(q)
          a(k)(p) = c * akp - s * akq
          a(k)(q) = s * akp + c * akq
        }
        for (k <- 0 until d) {
          val apk = a(p)(k); val aqk = a(q)(k)
          a(p)(k) = c * apk - s * aqk
          a(q)(k) = s * apk + c * aqk
        }
        for (k <- 0 until d) {
          val vkp = v(k)(p); val vkq = v(k)(q)
          v(k)(p) = c * vkp - s * vkq
          v(k)(q) = s * vkp + c * vkq
        }
      }
      sweep += 1
    }
    val order = (0 until d).sortBy(j => (-a(j)(j), j))
    val evals = order.map(j => a(j)(j)).toArray
    val evecs = order.map { j =>
      val col0 = Array.tabulate(d)(i => v(i)(j))
      val mi = col0.indices.maxBy(i => (math.abs(col0(i)), -i))
      if (col0(mi) < 0) col0.map(-_) else col0
    }.toArray
    (evals, evecs)
  }

  /** Project embeddings onto the top `nComponents` of a [[pcaModel]]:
    * centered dot products against literal component rows — one narrow
    * codegen'd pass (array literals are SINGLE literal objects, not
    * per-element trees — the PqLut literal-cost lesson), no shuffle.
    * Scores round 6dp (sequential fold — deterministic order). */
  def pcaProjectAll(df: DataFrame, mean: Array[Double],
      rotation: Array[Array[Double]], nComponents: Int,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    require(nComponents >= 1 && nComponents <= rotation.length,
      s"nComponents must be in [1, ${rotation.length}], got $nComponents")
    val muLit = typedLit(mean)
    val centered = zip_with(col(vecCol).cast("array<double>"), muLit,
      (x, mu) => x - mu)
    val scores = (0 until nComponents).map { j =>
      val rLit = typedLit(rotation(j))
      round(aggregate(zip_with(centered, rLit, (x, r) => x * r),
        lit(0.0), (acc, x) => acc + x), 6)
    }
    df.select(col(idCol), array(scores: _*).as("scores"))
  }

  // ---- product quantization (Jégou et al., TPAMI 2011) ---------------------

  /** Seeded PQ codebooks: `m` subspaces × `k` sub-centroids × (dim/m)
    * INTEGER lanes (the [[seededCentroids]] magnitude rationale). Pass
    * offline-trained books to [[pqEncode]]/[[pqTopK]] in production —
    * [[kmeansLloyd]] per subspace trains them in-engine. */
  def pqCodebooks(m: Int, k: Int, dim: Int,
      seed: Long = 42L): Array[Array[Array[Long]]] = {
    require(m >= 1 && k >= 2, s"need m >= 1 subspaces, k >= 2 codes: $m, $k")
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val rng = new scala.util.Random(seed)
    Array.fill(m, k, dim / m)(math.round(rng.nextGaussian() * 32.0))
  }

  /** Train PQ codebooks IN-ENGINE: per subspace, Lloyd iterations over
    * the sliced lanes ([[kmeansLloyd]] — integer-grid re-quantization
    * keeps assignment exact every round), seeded from [[pqCodebooks]].
    * m × iters tiny jobs; each collect is one k×(dim/m) centroid table.
    * This is how production books are fit before [[pqEncode]] freezes
    * them. */
  def pqTrainBooks(corpus: DataFrame, dim: Int, m: Int = 8, k: Int = 16,
      iters: Int = 3, seed: Long = 42L): Array[Array[Array[Long]]] = {
    val init = pqCodebooks(m, k, dim, seed)
    val sub = dim / m
    (0 until m).toArray.map { j =>
      val lanes = spread(corpus).select(col("vec_id"),
        slice(col("embedding"), j * sub + 1, sub).as("embedding"))
      kmeansLloyd(lanes, init(j), iters)
    }
  }

  /** PQ ENCODE: vector → `m` small codes (argmin sub-centroid per
    * subspace by exact integer squared L2 — [[graft.functions.NearestCentroid]]
    * per lane slice, ties to the lower code). ONE narrow pass; the
    * output is m ints per row — the 100 TB representation (a 64-dim
    * float vector compresses 32×, and search never re-reads vectors). */
  def pqEncode(corpus: DataFrame, dim: Int, m: Int = 8, k: Int = 16,
      seed: Long = 42L,
      books: Option[Array[Array[Array[Long]]]] = None): DataFrame = {
    val cb = books.getOrElse(pqCodebooks(m, k, dim, seed))
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    require(cb.length == m && cb.forall(_.length == k) &&
      cb.forall(_.forall(_.length == dim / m)),
      s"codebook shape mismatch (want $m x $k x ${dim / m})")
    val sub = dim / m
    val codes = (0 until m).map { j =>
      element_at(graft.functions.NearestCentroid(
        slice(col("embedding"), j * sub + 1, sub), cb(j), 1), 1)
    }
    spread(corpus).select(col("vec_id"), array(codes: _*).as("codes"))
  }

  /** PQ asymmetric-distance top-k (ADC): each query computes its exact
    * per-(subspace, code) partial squared distances ONCE — an m·k
    * integer lookup table — and every encoded corpus row scores as the
    * sum of m table entries addressed by its codes. The corpus moves
    * only as (id, m codes); vectors are never touched after the encode
    * pass, which is the entire point at 100 TB. Exact Long arithmetic
    * end-to-end (same quantization as the encode side), rank by
    * (adc asc, neighbor_id) — deterministic and oracle-checkable.
    * Approximation contract: ADC ranks by distance-to-codes, so recall
    * vs [[bruteForceTopK]] is < 1 by construction (tested).
    *
    * SCALE NOTE — this is the brute-ADC BASELINE: every query batch
    * scans the FULL encoded corpus (a BroadcastNestedLoopJoin by
    * contract). At corpus scale, default to [[pqTopKIndexed]] against a
    * persisted [[PqIndex]] (or [[ivfPqTopK]] when not persisting): the
    * cell equi-join prunes the scan to the probed fraction. */
  def pqTopK(queries: DataFrame, encoded: DataFrame, dim: Int, topK: Int,
      m: Int = 8, k: Int = 16, seed: Long = 42L,
      books: Option[Array[Array[Array[Long]]]] = None): DataFrame = {
    val cb = books.getOrElse(pqCodebooks(m, k, dim, seed))
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    require(cb.length == m && cb.forall(_.length == k) &&
      cb.forall(_.forall(_.length == dim / m)),
      s"codebook shape mismatch (want $m x $k x ${dim / m})")
    val q = queries.select(col("vec_id").as("query_id"),
      pqLut(cb, dim / m).as("__lut"))
    // without it (sf0.1): BroadcastNestedLoopJoin BuildRight, the encoded corpus broadcast
    val scored = broadcast(q)
      .join(encoded.select(col("vec_id").as("neighbor_id"), col("codes")),
        col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", pqAdc(m, k))
    pqRank(scored, topK)
  }

  /** The per-query ADC lookup table as a flat array<long> column: entry
    * j·k + c = exact integer ||q_j − book(j)(c)||² (same quantization as
    * NearestCentroid, so encode and search live on one grid). */
  /** Native operator-held-state LUT ([[graft.functions.PqLut]]): the
    * earlier literal-tree form (m·k·sub arithmetic nodes) cost seconds
    * of optimizer/codegen time per query run. */
  private def pqLut(cb: Array[Array[Array[Long]]], sub: Int): Column =
    graft.functions.PqLut(col("embedding"), cb)

  /** Σ_j lut[j·k + codes[j]] — m codegen'd element_at's. */
  private def pqAdc(m: Int, k: Int): Column =
    (0 until m).map(j =>
      element_at(col("__lut"),
        (lit(j * k) + element_at(col("codes"), j + 1) + 1).cast("int")))
      .reduce(_ + _)

  private def pqRank(scored: DataFrame, topK: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc").asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select("query_id", "neighbor_id", "adc", "rank")
  }

  /** A persisted PQ index: the encoded (vec_id, cell, codes) relation
    * plus the exact books/centroids it was encoded with. Search against
    * a mismatched codebook family silently returns garbage distances, so
    * the sidecar carries (m, k, dim, seed or explicit books) and
    * [[pqTopKIndexed]] reads books from it — the CMS-style
    * params-ride-with-the-data discipline. */
  final case class PqIndex(encoded: DataFrame,
      books: Array[Array[Array[Long]]], centroids: Array[Array[Long]])

  /** Build the IVF+PQ index relation: ONE narrow corpus pass producing
    * (vec_id, cell, codes). Persist with [[writePqIndex]]; each
    * subsequent query batch then reads codes only (cell-partition-pruned
    * by the probe set) and the corpus vectors are never touched again. */
  def buildPqIndex(corpus: DataFrame, dim: Int, m: Int = 8, k: Int = 16,
      nCentroids: Int = 16, seed: Long = 42L,
      books: Option[Array[Array[Array[Long]]]] = None,
      centroids: Option[Array[Array[Long]]] = None): PqIndex = {
    val cents = centroids.getOrElse(seededCentroids(nCentroids, dim, seed))
    val cb = books.getOrElse(pqCodebooks(m, k, dim, seed))
    val sub = dim / m
    val codes = (0 until m).map { j =>
      element_at(graft.functions.NearestCentroid(
        slice(col("embedding"), j * sub + 1, sub), cb(j), 1), 1)
    }
    PqIndex(spread(corpus).select(col("vec_id"),
      element_at(graft.functions.NearestCentroid(col("embedding"), cents, 1), 1)
        .as("cell"),
      array(codes: _*).as("codes")), cb, cents)
  }

  /** Cell-partitioned layout (probe joins prune directories) + books and
    * coarse centroids in a meta sidecar. */
  def writePqIndex(idx: PqIndex, path: String): Unit = {
    val spark = idx.encoded.sparkSession
    import spark.implicits._
    idx.encoded.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/data")
    val bookRows = for (j <- idx.books.indices; c <- idx.books(j).indices)
      yield (j, c, idx.books(j)(c).toSeq)
    bookRows.toDF("j", "c", "bv")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/books")
    idx.centroids.zipWithIndex.toSeq.map { case (row, i) => (i, row.toSeq) }
      .toDF("i", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** INCREMENTAL index maintenance: encode a new vector batch with the
    * index's OWN books/centroids (read from the sidecar — never
    * retrained, so old and new codes live on one quantization grid) and
    * append its (vec_id, cell, codes) rows into the cell partition
    * directories. The incremental-dedup discipline applied to search:
    * the existing corpus is never re-read, never re-encoded; a nightly
    * embedding batch costs ONE narrow pass over the new rows. Searches
    * against the appended index are identical to a full rebuild with
    * the same books (test-pinned). Caller contract: new vec_ids must
    * not collide with existing ones (same as every id-keyed relation
    * here). Quantizer drift is the documented trade: appends reuse the
    * frozen coarse centroids, so cell balance degrades only as the
    * data distribution drifts — the point where production retrains and
    * rebuilds (a full [[buildPqIndex]] + [[writePqIndex]]). */
  def appendToPqIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      newVectors: DataFrame): Unit = {
    val idx = readPqIndex(spark, path)
    val m = idx.books.length
    val sub = idx.books(0)(0).length
    val dim = m * sub
    val codes = (0 until m).map { j =>
      element_at(graft.functions.NearestCentroid(
        slice(col("embedding"), j * sub + 1, sub), idx.books(j), 1), 1)
    }
    // dim sanity BEFORE the append: an inconsistent books/centroids
    // sidecar must refuse up front, not after the index has already been
    // mutated with rows encoded from it
    require(dim == idx.centroids(0).length, "sidecar dim inconsistency")
    spread(newVectors).select(col("vec_id"),
        element_at(graft.functions.NearestCentroid(col("embedding"),
          idx.centroids, 1), 1).as("cell"),
        array(codes: _*).as("codes"))
      .write.mode("append").partitionBy("cell").parquet(s"$path/data")
  }

  def readPqIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): PqIndex = {
    val raw = spark.read.parquet(s"$path/books").collect()
      .map(r => (r.getInt(0), r.getInt(1),
        r.getAs[scala.collection.Seq[Long]](2).toArray))
    val m = raw.map(_._1).max + 1
    val k = raw.map(_._2).max + 1
    val books = Array.ofDim[Array[Long]](m, k)
    raw.foreach { case (j, c, bv) => books(j)(c) = bv }
    require(books.forall(_.forall(_ != null)),
      s"PQ books sidecar is incomplete (expected dense $m x $k)")
    // shape validation at LOAD time: a truncated/mixed sidecar must fail
    // here, not as a confusing lut/NearestCentroid dimension error later
    val sub = books(0)(0).length
    require(books.forall(_.forall(_.length == sub)),
      s"PQ books sidecar has mixed sub-dimensions (expected all $sub)")
    val cents = spark.read.parquet(s"$path/meta").collect()
      .sortBy(_.getInt(0))
      .map(_.getAs[scala.collection.Seq[Long]]("centroid").toArray)
    require(cents.nonEmpty && cents.forall(_.length == m * sub),
      s"PQ meta sidecar centroid dim ${cents.headOption.map(_.length)} " +
        s"inconsistent with books m*sub = ${m * sub}")
    PqIndex(spark.read.parquet(s"$path/data"), books, cents)
  }

  /** IVF+PQ search against a built (usually read-back) index — identical
    * results to [[ivfPqTopK]] with the same books/centroids, without the
    * encode pass; the probe equi-join prunes cell partitions on the
    * index scan. */
  def pqTopKIndexed(queries: DataFrame, idx: PqIndex, topK: Int,
      nprobe: Int = 4): DataFrame = {
    val m = idx.books.length
    val k = idx.books(0).length
    val sub = idx.books(0)(0).length
    val qp = queries.select(col("vec_id").as("query_id"),
        pqLut(idx.books, sub).as("__lut"),
        graft.functions.NearestCentroid(col("embedding"), idx.centroids, nprobe)
          .as("__cells"))
      .select(col("query_id"), col("__lut"),
        explode(col("__cells")).as("cell"))
    // without it (sf0.1): BroadcastHashJoin BuildRight, the encoded corpus broadcast
    val scored = broadcast(qp)
      .join(idx.encoded.select(col("vec_id").as("neighbor_id"),
        col("cell"), col("codes")), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", pqAdc(m, k))
    pqRank(scored, topK)
  }

  /** IVF+PQ — the production 100 TB ANN layout (FAISS's IVFPQ shape,
    * composed from this file's parts): the corpus is coarse-assigned to
    * cells AND PQ-encoded in ONE narrow pass (row payload after it:
    * cell id + m codes); queries probe their `nprobe` nearest cells and
    * ADC-score ONLY those cells' rows via the cell equi-join — scanned
    * volume drops by ~nprobe/nCentroids on top of PQ's per-row
    * compression, and raw vectors are never read at query time. Same
    * exact-integer determinism (and oracle) as [[pqTopK]]; recall
    * compounds the IVF probe miss and the ADC approximation (tested
    * against brute force). */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, dim: Int, topK: Int,
      m: Int = 8, k: Int = 16, nCentroids: Int = 16, nprobe: Int = 4,
      seed: Long = 42L,
      books: Option[Array[Array[Array[Long]]]] = None,
      centroids: Option[Array[Array[Long]]] = None): DataFrame = {
    val cents = centroids.getOrElse(seededCentroids(nCentroids, dim, seed))
    val cb = books.getOrElse(pqCodebooks(m, k, dim, seed))
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    require(cb.length == m && cb.forall(_.length == k) &&
      cb.forall(_.forall(_.length == dim / m)),
      s"codebook shape mismatch (want $m x $k x ${dim / m})")
    val sub = dim / m
    val codes = (0 until m).map { j =>
      element_at(graft.functions.NearestCentroid(
        slice(col("embedding"), j * sub + 1, sub), cb(j), 1), 1)
    }
    val enc = spread(corpus).select(col("vec_id").as("neighbor_id"),
      element_at(graft.functions.NearestCentroid(col("embedding"), cents, 1), 1)
        .as("cell"),
      array(codes: _*).as("codes"))
    val qp = queries.select(col("vec_id").as("query_id"),
        pqLut(cb, sub).as("__lut"),
        graft.functions.NearestCentroid(col("embedding"), cents, nprobe)
          .as("__cells"))
      .select(col("query_id"), col("__lut"),
        explode(col("__cells")).as("cell"))
    // without it (sf0.1): BroadcastHashJoin BuildRight, the encoded corpus broadcast
    val scored = broadcast(qp).join(enc, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", pqAdc(m, k))
    pqRank(scored, topK)
  }

  // ---- scalar quantization (SQ8) ----------------------------------------
  // The FAISS ScalarQuantizer shape (Jégou et al.'s engineering sibling to
  // PQ): each dimension is independently affine-mapped to an 8-bit level
  // with per-dimension [min, max] trained from the corpus. Codes are
  // dim bytes instead of dim*4 float bytes (4x compression at full
  // dimensionality — PQ compresses harder but coarser), and search is an
  // exact *integer* dot product over code levels, so scoring is
  // deterministic Long arithmetic and the DuckDB oracle replays it
  // bit-for-bit. 100 TB shape: the range vector is a 2·dim-double sidecar
  // (trained once, rides with the index like PQ books); encoding is one
  // narrow corpus pass; search is broadcast-queries x codes with the same
  // two-phase WindowGroupLimit top-k as every other ANN path here.

  /** Per-dimension [min, max] over the corpus — ONE aggregate scan with
    * 2·dim agg expressions (no posexplode shuffle of n·dim rows); result
    * is a driver-sized sidecar (16 bytes/dim), the trained-offline
    * artifact at scale. */
  def sqRanges(corpus: DataFrame, dim: Int): Array[(Double, Double)] = {
    val aggs = (1 to dim).flatMap { i =>
      val v = element_at(col("embedding"), i).cast("double")
      Seq(min(v).as(s"m$i"), max(v).as(s"x$i"))
    }
    val row = corpus.agg(aggs.head, aggs.tail: _*).collect()(0)
    Array.tabulate(dim)(i => (row.getDouble(2 * i), row.getDouble(2 * i + 1)))
  }

  /** level = clamp(floor((v − min) · 255 / (max − min)), 0, 255); a
    * degenerate dimension (max == min) encodes 0. Double math in the
    * exact literal shape the oracle mirrors, so levels are identical. */
  private def sqCode(v: Column, lo: Double, hi: Double): Column =
    if (hi > lo)
      least(lit(255L), greatest(lit(0L),
        floor((v.cast("double") - lit(lo)) * lit(255.0) / lit(hi - lo))
          .cast("long")))
    else lit(0L)

  /** Encode vectors to `codes: array<long>` of 0..255 levels (one narrow
    * pass; at rest these are byte-packable — the 4x figure). */
  def sqEncode(df: DataFrame, ranges: Array[(Double, Double)],
      idAlias: String = "vec_id"): DataFrame =
    df.select(col("vec_id").as(idAlias),
      array(ranges.indices.map { i =>
        sqCode(element_at(col("embedding"), i + 1), ranges(i)._1, ranges(i)._2)
      }: _*).as("codes"))

  /** SQ8 top-k: exact integer squared-L2 distance between code levels
    * (the ScalarQuantizer analog of PQ's ADC — scoring on the quantized
    * grid, here at full dimensionality). Queries broadcast against the
    * encoded corpus (corpus codes never shuffle); per-query top-k via
    * the rank-window that Spark rewrites to a two-phase
    * WindowGroupLimit. Distance ties break on neighbor id, so ordering
    * is engine-portable with no float comparison anywhere in the rank. */
  def sqTopK(queries: DataFrame, corpus: DataFrame, dim: Int, k: Int,
      ranges: Option[Array[(Double, Double)]] = None): DataFrame = {
    val r = ranges.getOrElse(sqRanges(corpus, dim))
    require(r.length == dim, s"ranges length ${r.length} != dim $dim")
    val q = sqEncode(queries, r, "query_id")
      .withColumnRenamed("codes", "qcodes")
    val c = sqEncode(spread(corpus), r, "neighbor_id")
    val dist = (1 to dim).map { i =>
      val d = element_at(col("qcodes"), i) - element_at(col("codes"), i)
      d * d
    }.reduce(_ + _)
    // without it (sf0.1): BroadcastNestedLoopJoin BuildRight, the encoded corpus broadcast
    val scored = broadcast(q)
      .join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("dist", dist)
    val w = Window.partitionBy("query_id")
      .orderBy(col("dist").asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "dist", "rank")
  }

  /** DuckDB twin of [[sqTopK]]: ranges CTE (same min/max over
    * CAST-to-double), same clamp/floor level math, same integer L2 and
    * (dist ASC, id ASC) rank. */
  def sqTopKSql(dim: Int, k: Int,
      queryWhere: String = "q.vec_id < 10"): String = {
    val rangeAggs = (1 to dim).map(i =>
      s"min(CAST(embedding[$i] AS DOUBLE)) AS m$i, " +
        s"max(CAST(embedding[$i] AS DOUBLE)) AS x$i").mkString(",\n    ")
    val codeExprs = (1 to dim).map(i =>
      s"""CASE WHEN r.x$i > r.m$i THEN LEAST(255, GREATEST(0,
         |      CAST(floor((CAST(embedding[$i] AS DOUBLE) - r.m$i) * 255.0
         |        / (r.x$i - r.m$i)) AS BIGINT))) ELSE 0 END AS c$i"""
        .stripMargin).mkString(",\n    ")
    val distExpr = (1 to dim).map(i =>
      s"(q.c$i - c.c$i) * (q.c$i - c.c$i)").mkString(" + ")
    s"""WITH r AS (
       |  SELECT $rangeAggs
       |  FROM embeddings),
       |codes AS (
       |  SELECT vec_id,
       |    $codeExprs
       |  FROM embeddings CROSS JOIN r),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    $distExpr AS dist
       |  FROM codes q JOIN codes c ON q.vec_id <> c.vec_id
       |  WHERE $queryWhere),
       |ranked AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY dist ASC, neighbor_id ASC) AS INT) AS rank FROM scored)
       |SELECT query_id, neighbor_id, dist, rank FROM ranked
       |WHERE rank <= $k""".stripMargin
  }

  // ---- per-dimension standardization --------------------------------------
  /** Per-dimension z-score standardization of the embedding column — the
    * feature-scaling pass run before distance-based ops (k-means, SQ8,
    * PQ) when dimensions carry unequal variance. Deterministic and
    * engine-portable: coordinates quantize to the 1e6 integer grid, the
    * per-dim moments (Σq, Σq²) are EXACT decimal sums (order-independent
    * — no float accumulation), and the finishing mean/var/sqrt/divide is
    * the identical IEEE double sequence on both engines, so the rounded
    * z-scores hash-match. Constant dimensions (var 0) map to z = 0
    * rather than NaN.
    *
    * Scale shape: one d-fold posexplode into a (dim)-keyed hash
    * aggregate (d rows out regardless of corpus size, map-side combine),
    * then a broadcast join of the d-row moment table back onto the
    * narrow scan. Output is (vec_id, dim, z) rows; `zipBack = true`
    * would reassemble arrays with collect_list ordered by dim — left to
    * the caller, who usually feeds columnar consumers anyway. */
  def standardizeDims(corpus: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val qd = spread(corpus).select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("q", round(col("v").cast("double") * lit(1e6), 0)
        .cast("long"))
    val mom = qd.groupBy("dim").agg(
      sum(col("q").cast(dec)).as("s"),
      sum((col("q") * col("q")).cast(dec)).as("ss"),
      count(col("q")).as("n"))
    val s = col("s").cast("double"); val ss = col("ss").cast("double")
    val n = col("n").cast("double")
    val meanQ = s / n
    val varQ = ss / n - (s / n) * (s / n)
    // without it (sf0.1): BroadcastHashJoin BuildLeft, the per-dimension corpus values broadcast
    qd.join(broadcast(mom), Seq("dim"))
      .select(col("vec_id"), col("dim"),
        when(varQ <= 0.0, lit(0.0))
          .otherwise(round((col("q").cast("double") - meanQ) / sqrt(varQ), 6))
          .as("z"))
  }

  /** DuckDB twin of [[standardizeDims]]: identical quantizer, exact
    * HUGEINT moments, identical finishing double sequence. */
  def standardizeDimsSql(dim: Int): String =
    s"""WITH qd AS (
       |  SELECT vec_id, CAST(d.dim AS INT) AS dim,
       |    CAST(round(CAST(embedding[CAST(d.dim AS INT) + 1] AS DOUBLE)
       |      * 1e6) AS BIGINT) AS q
       |  FROM embeddings
       |  CROSS JOIN (SELECT unnest(range(0, $dim)) AS dim) d),
       |mom AS (
       |  SELECT dim, sum(q) AS s, sum(q * q) AS ss, count(q) AS n
       |  FROM qd GROUP BY 1)
       |SELECT vec_id, qd.dim,
       |  CASE WHEN (CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
       |      - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
       |        * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))) <= 0.0 THEN 0.0
       |    ELSE round((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
       |      / sqrt(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
       |        - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
       |          * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))), 6)
       |  END AS z
       |FROM qd JOIN mom USING (dim)""".stripMargin

  // ---- embedding outlier pruning ----------------------------------------
  /** Per-vector outlier score against the vector's OWN label centroid —
    * the "mislabeled / noise sample" pruning signal a curation pipeline
    * runs before training on labeled embeddings. INTEGER-EXACT end to
    * end, so the oracle hash-matches with no float-comparison hazard:
    *
    *  - coordinates quantize to the shared integer grid
    *    (floor(v·256 + 0.5), the [[graft.functions.NearestCentroid]]
    *    quantizer), shifted +4096 so every value is positive and both
    *    engines' integral division agree (trunc == floor on positives);
    *  - the label centroid coordinate is round-half-up(sum/n) computed as
    *    (2·sum + n) div (2·n) — pure integer, no doubles anywhere;
    *  - dist = Σ_d (q_d − c_d)² (exact BIGINT; ≤ 64·8192² ≈ 4.3e9 at any
    *    corpus size — per-vector, not per-corpus);
    *  - is_outlier ⇔ dist > 4·mean-dist(label), compared as
    *    dist·n > 4·Σdist in decimal(38,0) so the product cannot overflow
    *    at 100 TB label cardinalities.
    *
    * Scale shape: the d-fold posexplode feeds two hash aggregates with
    * map-side combine (per-label·dim centroid rows are tiny; per-vec dist
    * rows collapse to one per vector before the exchange); the centroid
    * join broadcasts a labels×d relation. No sort, no window, no collect. */
  def labelOutliers(corpus: DataFrame): DataFrame = {
    val qd = spread(corpus).select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("q", floor(col("v").cast("double") * lit(256.0) + lit(0.5))
        .cast("long") + lit(4096L))
      .drop("v")
    val cent = qd.groupBy("label", "dim")
      .agg(expr("(2 * sum(q) + count(q)) div (2 * count(q))").as("c"))
    // without it (sf0.1, 256 KB threshold): SortMergeJoin + 1 Exchange (and again in st)
    val dist = qd.join(broadcast(cent), Seq("label", "dim"))
      .withColumn("d1", (col("q") - col("c")) * (col("q") - col("c")))
      .groupBy("vec_id", "label").agg(sum(col("d1")).as("dist"))
    val st = dist.groupBy("label")
      .agg(sum(col("dist")).as("s"), count(lit(1)).as("n"))
    // without it (sf0.1, 256 KB threshold): SortMergeJoin + 1 Exchange
    dist.join(broadcast(st), Seq("label"))
      .select(col("vec_id"), col("label"), col("dist"),
        (col("dist").cast("decimal(38,0)") * col("n") >
          col("s").cast("decimal(38,0)") * lit(4)).as("is_outlier"))
  }

  /** DuckDB twin of [[labelOutliers]]: identical quantizer/shift, floor
    * division on positives, exact integer distance, HUGEINT threshold. */
  def labelOutliersSql(dim: Int): String =
    s"""WITH qd AS (
       |  SELECT vec_id, label, CAST(d.dim AS INT) AS dim,
       |    CAST(floor(CAST(embedding[CAST(d.dim AS INT) + 1] AS DOUBLE)
       |      * 256.0 + 0.5) AS BIGINT) + 4096 AS q
       |  FROM embeddings
       |  CROSS JOIN (SELECT unnest(range(0, $dim)) AS dim) d),
       |cent AS (
       |  SELECT label, dim,
       |    (2 * sum(q) + count(q)) // (2 * count(q)) AS c
       |  FROM qd GROUP BY 1, 2),
       |dist AS (
       |  SELECT vec_id, q.label, sum((q.q - c.c) * (q.q - c.c)) AS dist
       |  FROM qd q JOIN cent c USING (label, dim) GROUP BY 1, 2),
       |st AS (SELECT label, sum(dist) AS s, count(*) AS n
       |       FROM dist GROUP BY 1)
       |SELECT d.vec_id, d.label, CAST(d.dist AS BIGINT) AS dist,
       |  (CAST(d.dist AS HUGEINT) * st.n > CAST(st.s AS HUGEINT) * 4)
       |    AS is_outlier
       |FROM dist d JOIN st USING (label)""".stripMargin

  // ---- k-NN graph construction ------------------------------------------
  /** Distributed k-NN GRAPH: the top-k nearest neighbors of EVERY corpus
    * vector — the substrate for SemDedup-style clustering, graph-based
    * diversity sampling, and kNN label audits (reference-analog: the
    * embedding near-dup family, `/root/reference` has no graph op; this is
    * the extension surface).
    *
    * Scale shape — the crucial difference from [[ivfTopK]]: there the tiny
    * query batch broadcasts; here the "query side" IS the corpus, so
    * NOTHING broadcasts. Both sides reduce to (cell, id, vec) rows and meet
    * in a cell equi-join — a plain shuffle on the cell key, candidate
    * volume Σ_c n_c·m_c (nprobe-bounded), never n². A (src, dst) pair
    * can arise from at most ONE cell (dst is assigned to exactly one),
    * so no post-join dedup is needed. Ranking is the shared
    * rounded-cosine + id-tie-break WindowGroupLimit top-k. Recall vs the
    * exact [[knnGraphBrute]] is test-measured; pass offline-trained
    * centroids for production recall targets. */
  def knnGraph(corpus: DataFrame, dim: Int, k: Int, nCentroids: Int = 16,
      nprobe: Int = 4, seed: Long = 42L,
      centroids: Option[Array[Array[Long]]] = None): DataFrame = {
    val cents = centroids.getOrElse(seededCentroids(nCentroids, dim, seed))
    val cs = spread(corpus).select(col("vec_id").as("dst"),
      col("embedding").as("ce"),
      element_at(graft.functions.NearestCentroid(col("embedding"), cents, 1), 1)
        .as("cell"))
    val qs = spread(corpus).select(col("vec_id").as("src"),
      col("embedding").as("qe"),
      explode(graft.functions.NearestCentroid(col("embedding"), cents, nprobe))
        .as("cell"))
    val scored = qs.join(cs, Seq("cell"))
      .filter(col("src") =!= col("dst"))
      .withColumn("sim", round(cosine(col("qe"), col("ce")), 6))
      .filter(!isnan(col("sim"))) // zero-norm guard (see bruteForceTopK)
    val w = Window.partitionBy("src")
      .orderBy(col("sim").desc, col("dst").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("src", "dst", "sim", "rank")
  }

  /** Exact O(n²) twin of [[knnGraph]] — the certifying baseline for
    * recall tests and small corpora. All-pairs cosine with the same
    * rounded ranking; never use beyond broadcast scale. */
  def knnGraphBrute(corpus: DataFrame, k: Int): DataFrame = {
    val a = corpus.select(col("vec_id").as("src"), col("embedding").as("qe"))
    val b = spread(corpus).select(col("vec_id").as("dst"),
      col("embedding").as("ce"))
    // without it (sf0.1): BroadcastNestedLoopJoin BuildRight, the spread corpus broadcast
    val scored = broadcast(a).join(b, col("src") =!= col("dst"))
      .withColumn("sim", round(cosine(col("qe"), col("ce")), 6))
      .filter(!isnan(col("sim")))
    val w = Window.partitionBy("src")
      .orderBy(col("sim").desc, col("dst").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("src", "dst", "sim", "rank")
  }
}
