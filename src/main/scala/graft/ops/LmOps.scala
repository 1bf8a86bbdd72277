package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-trained n-gram language-model scoring — the classic
  * perplexity-based quality filter for pretraining data (CCNet-style
  * KenLM filtering, here as an in-engine bigram model so training and
  * scoring are one relational pipeline over the corpus itself).
  *
  * The reference engine has no LM surface; this extends the text-analysis
  * module (reference scope: /root/reference/src/dask_histogram only covers
  * histogram aggregation) with a scoring operator every large-scale data
  * pipeline needs.
  */
object LmOps {

  /** Per-document perplexity under an add-k-smoothed bigram LM trained on
    * the same corpus.
    *
    * p(w2|w1) = (c(w1 w2) + k) / (c(w1 ·) + k·V), V = corpus vocabulary
    * size; doc score = exp(-mean log p over the doc's bigram occurrences).
    *
    * Scale shape: per-doc counts partial-aggregate map-side, the global
    * model is a re-aggregate of the SAME per-doc relation (counts only —
    * raw text never reaches a shuffle), and scoring joins per-doc counts
    * against model counts on the bigram key. V rides as a broadcast
    * single-row cross join, not a driver constant, so the plan stays one
    * lazy DAG. Everything shuffled is bounded by (doc × distinct-bigram)
    * and vocabulary cardinality, never by corpus bytes. As a DAG the
    * corpus text is SCANNED three times (score branch, model branch,
    * vocab) — Spark does not materialize shared subplans; at corpus scale
    * persist the per-doc count relation (ids + counts, far smaller than
    * text) to pay one text scan.
    *
    * Returns one row per input doc: (doc_id, n_ngrams, ppl); docs with
    * fewer than 2 tokens have n_ngrams = 0 and NULL ppl.
    */
  def bigramPerplexity(df: DataFrame, k: Double = 0.5,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    ngramPerplexity(df, 2, k, textCol, idCol)

  /** General-n form of [[bigramPerplexity]]: p(wₙ|w₁..wₙ₋₁) with add-k
    * smoothing over positional n-gram counts. Same relational shape for
    * any n — a wider model only widens the join key. */
  def ngramPerplexity(df: DataFrame, n: Int, k: Double = 0.5,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(n >= 2, s"ngram order must be >= 2, got $n")
    require(k > 0, s"add-k smoothing requires k > 0, got $k")
    // positional (non-distinct) n-grams: occurrence counts are the model
    val bg = Spread(df).select(col(idCol).as("doc_id"),
      explode(graft.functions.WordShingles.all(col(textCol), n)).as("bg"))
    val perDoc = bg.groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
    val model = perDoc.groupBy("bg").agg(sum(col("c")).as("c2"))
    // prefix counts c(w₁..wₙ₋₁ ·) from the model itself (Σ continuations)
    val prefix = model
      .groupBy(substring_index(col("bg"), " ", n - 1).as("pfx"))
      .agg(sum(col("c2")).as("c1"))
    val vocab = df
      .select(explode(split(col(textCol), " ")).as("tok"))
      .agg(countDistinct(col("tok")).cast("double").as("v"))
    // NOTE (r15): pre-joining prefix into the model relation before the
    // per-doc join was tried and MEASURED SLOWER (1.43 → 2.53 s at
    // sf0.1) — the per-doc-side joins partial-aggregate and reuse the
    // perDoc exchange, while the enriched-model form recomputes the
    // model aggregate for both join sides. Kept in the original shape.
    val scored = perDoc
      .join(model, Seq("bg"))
      .withColumn("pfx", substring_index(col("bg"), " ", n - 1))
      .join(prefix, Seq("pfx"))
      .crossJoin(vocab)
      .groupBy("doc_id")
      .agg(
        sum(col("c")).as("n_ngrams"),
        (sum(col("c").cast("double") *
          -log((col("c2") + lit(k)) / (col("c1") + lit(k) * col("v")))) /
          sum(col("c").cast("double"))).as("nll"))
    df.select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
        round(exp(col("nll")), 6).as("ppl"))
  }

  /** Per-document perplexity under an INTERPOLATED KNESER–NEY bigram LM
    * trained on the same corpus — the smoothing real filtering LMs use
    * (Kneser & Ney 1995; the KenLM/CCNet quality-filter family), where
    * add-k systematically over-penalizes frequent-context bigrams:
    *
    *   P(w|v) = max(c(vw) − D, 0) / c(v·)
    *          + (D · N₁₊(v·) / c(v·)) · (N₁₊(·w) / N₁₊(··))
    *
    * with absolute discount `D ∈ (0,1)`, `N₁₊(v·)` = distinct
    * continuations of v, `N₁₊(·w)` = distinct predecessors of w (the
    * continuation probability — "how promiscuous is w", not "how
    * frequent"), `N₁₊(··)` = distinct bigram types. Trained-on-scored
    * corpus means every scored bigram is seen, so the backoff never
    * hits a zero context (the same closure property
    * [[bigramPerplexity]] relies on).
    *
    * Scale shape: identical to [[bigramPerplexity]] — per-doc counts
    * partial-aggregate map-side, the model and BOTH continuation-count
    * relations re-aggregate the same per-doc counts (model-sized, not
    * corpus-sized), the type total rides as a one-row broadcast. The
    * extra KN statistics cost two hash aggregates over the bigram-type
    * relation, nothing over raw text.
    *
    * Returns (doc_id, n_ngrams, ppl); < 2-token docs score NULL. */
  def knBigramPerplexity(df: DataFrame, d: Double = 0.75,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(d > 0 && d < 1, s"absolute discount D in (0,1), got $d")
    val bg = Spread(df).select(col(idCol).as("doc_id"),
      explode(graft.functions.WordShingles.all(col(textCol), 2)).as("bg"))
    val perDoc = bg.groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
    val model = perDoc.groupBy("bg").agg(sum(col("c")).as("c2"))
      .withColumn("pfx", substring_index(col("bg"), " ", 1))
      .withColumn("sfx", substring_index(col("bg"), " ", -1))
    val prefix = model.groupBy("pfx")
      .agg(sum(col("c2")).as("c1"), count(lit(1)).as("n1v"))
    val cont = model.groupBy("sfx").agg(count(lit(1)).as("n1w"))
    val total = model.agg(count(lit(1)).cast("double").as("n1all"))
    val p =
      greatest(col("c2").cast("double") - lit(d), lit(0.0)) /
        col("c1").cast("double") +
      ((lit(d) * col("n1v").cast("double")) / col("c1").cast("double")) *
        (col("n1w").cast("double") / col("n1all"))
    // NOTE (r15): enriching the model relation with prefix+continuation
    // stats before the per-doc join was tried and MEASURED SLOWER
    // (1.84 → 2.86 s at sf0.1) — same trade as [[ngramPerplexity]]'s
    // note. Kept in the original shape.
    val scored = perDoc
      .join(model.select("bg", "c2", "pfx", "sfx"), Seq("bg"))
      .join(prefix, Seq("pfx"))
      .join(cont, Seq("sfx"))
      .crossJoin(total)
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_ngrams"),
        (sum(col("c").cast("double") * -log(p)) /
          sum(col("c").cast("double"))).as("nll"))
    df.select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
        round(exp(col("nll")), 6).as("ppl"))
  }

  /** DuckDB twin of [[knBigramPerplexity]]: same tokenization, same
    * statistics, IDENTICAL float operation order in the probability
    * (max-discount term + (D·N₁₊(v·)/c1)·(N₁₊(·w)/N₁₊(··))). */
  def knBigramPerplexitySql(d: Double = 0.75): String =
    s"""WITH bg0 AS (
       |  SELECT doc_id,
       |    string_split(text,' ')[pos] || ' ' || string_split(text,' ')[pos+1] AS bg
       |  FROM (SELECT doc_id, text,
       |    unnest(range(1, greatest(len(string_split(text,' ')), 1))) AS pos
       |    FROM documents)),
       |perdoc AS (
       |  SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS c FROM bg0 GROUP BY 1, 2),
       |model AS (
       |  SELECT bg, CAST(sum(c) AS BIGINT) AS c2,
       |    string_split(bg,' ')[1] AS pfx,
       |    string_split(bg,' ')[-1] AS sfx
       |  FROM perdoc GROUP BY 1),
       |pfxs AS (
       |  SELECT pfx, CAST(sum(c2) AS BIGINT) AS c1,
       |    CAST(count(*) AS BIGINT) AS n1v
       |  FROM model GROUP BY 1),
       |conts AS (
       |  SELECT sfx, CAST(count(*) AS BIGINT) AS n1w FROM model GROUP BY 1),
       |tot AS (SELECT CAST(count(*) AS DOUBLE) AS n1all FROM model),
       |sc AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_ngrams,
       |    sum(CAST(c AS DOUBLE) * -ln(
       |      greatest(CAST(c2 AS DOUBLE) - $d, 0.0) / CAST(c1 AS DOUBLE)
       |      + (($d * CAST(n1v AS DOUBLE)) / CAST(c1 AS DOUBLE))
       |        * (CAST(n1w AS DOUBLE) / n1all)))
       |      / sum(CAST(c AS DOUBLE)) AS nll
       |  FROM perdoc
       |  JOIN model USING (bg)
       |  JOIN pfxs USING (pfx)
       |  JOIN conts USING (sfx)
       |  CROSS JOIN tot
       |  GROUP BY 1)
       |SELECT d.doc_id, COALESCE(s.n_ngrams, 0) AS n_ngrams,
       |  round(exp(s.nll), 6) AS ppl
       |FROM documents d LEFT JOIN sc s USING (doc_id)""".stripMargin

  /** DuckDB twin of [[bigramPerplexity]] (same tokenization — same
    * smoothing, same rounding). */
  /** General-n DuckDB twin of [[ngramPerplexity]] — the [[bigramPerplexitySql]]
    * shape with the gram built from n adjacent tokens and the prefix cut
    * by list slicing (identical strings to `substring_index(bg, ' ', n-1)`
    * on space-joined grams). */
  def ngramPerplexitySql(n: Int, k: Double = 0.5): String = {
    require(n >= 2, s"ngram order must be >= 2, got $n")
    val gram = (0 until n).map {
      case 0 => "ts[pos]"
      case i => s"ts[pos+$i]"
    }.mkString(" || ' ' || ")
    s"""WITH bg0 AS (
       |  SELECT doc_id, $gram AS bg
       |  FROM (SELECT doc_id, string_split(text,' ') AS ts,
       |    unnest(range(1, greatest(len(string_split(text,' ')) - ${n - 2}, 1)))
       |      AS pos
       |    FROM documents)),
       |perdoc AS (
       |  SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS c FROM bg0 GROUP BY 1, 2),
       |model AS (
       |  SELECT bg, CAST(sum(c) AS BIGINT) AS c2 FROM perdoc GROUP BY 1),
       |pfx AS (
       |  SELECT array_to_string(string_split(bg,' ')[1:${n - 1}], ' ') AS pfx,
       |    CAST(sum(c2) AS BIGINT) AS c1
       |  FROM model GROUP BY 1),
       |voc AS (
       |  SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v
       |  FROM (SELECT unnest(string_split(text,' ')) AS tok FROM documents)),
       |sc AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_ngrams,
       |    sum(CAST(c AS DOUBLE) * -ln((c2 + $k)/(c1 + $k * v)))
       |      / sum(CAST(c AS DOUBLE)) AS nll
       |  FROM perdoc
       |  JOIN model USING (bg)
       |  JOIN pfx ON array_to_string(string_split(bg,' ')[1:${n - 1}], ' ')
       |    = pfx.pfx
       |  CROSS JOIN voc
       |  GROUP BY 1)
       |SELECT d.doc_id, COALESCE(s.n_ngrams, 0) AS n_ngrams,
       |  round(exp(s.nll), 6) AS ppl
       |FROM documents d LEFT JOIN sc s USING (doc_id)""".stripMargin
  }

  def bigramPerplexitySql(k: Double = 0.5): String =
    s"""WITH bg0 AS (
       |  SELECT doc_id,
       |    string_split(text,' ')[pos] || ' ' || string_split(text,' ')[pos+1] AS bg
       |  FROM (SELECT doc_id, text,
       |    unnest(range(1, greatest(len(string_split(text,' ')), 1))) AS pos
       |    FROM documents)),
       |perdoc AS (
       |  SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS c FROM bg0 GROUP BY 1, 2),
       |model AS (
       |  SELECT bg, CAST(sum(c) AS BIGINT) AS c2 FROM perdoc GROUP BY 1),
       |pfx AS (
       |  SELECT string_split(bg,' ')[1] AS pfx, CAST(sum(c2) AS BIGINT) AS c1
       |  FROM model GROUP BY 1),
       |voc AS (
       |  SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v
       |  FROM (SELECT unnest(string_split(text,' ')) AS tok FROM documents)),
       |sc AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_ngrams,
       |    sum(CAST(c AS DOUBLE) * -ln((c2 + $k)/(c1 + $k * v)))
       |      / sum(CAST(c AS DOUBLE)) AS nll
       |  FROM perdoc
       |  JOIN model USING (bg)
       |  JOIN pfx ON string_split(bg,' ')[1] = pfx.pfx
       |  CROSS JOIN voc
       |  GROUP BY 1)
       |SELECT d.doc_id, COALESCE(s.n_ngrams, 0) AS n_ngrams,
       |  round(exp(s.nll), 6) AS ppl
       |FROM documents d LEFT JOIN sc s USING (doc_id)""".stripMargin

  // ---- Good-Turing frequency-of-frequencies --------------------------------

  /** Good–Turing count-of-counts table with the discounted re-estimates
    * (Good 1953): for each observed unigram frequency r, how many types
    * occur exactly r times (N_r) and the GT adjusted count
    * r* = (r+1)·N_{r+1}/N_r — the smoothing diagnostic behind
    * Katz/Kneser–Ney discounts ("how much probability mass do the
    * singletons claim"), plus the unseen-mass row r=0 whose
    * p0 = N_1/N is the leave-one-out estimate of unseen-type mass.
    *
    * Returns (r, n_types, r_star): r=0 carries (0, NULL, N_1/N);
    * observed rows carry exact BIGINT (r, N_r) and r* as ONE double
    * expression — NULL when N_{r+1} = 0 (the gap case real corpora hit
    * at high r, where GT hands off to the raw MLE), same CASE both
    * engines. `maxR` bounds the report to the rows smoothing actually
    * uses (Katz cuts over at r ≥ 5-ish).
    *
    * Types are word n-grams (default 3): unigram tables on filtered
    * corpora are often frequency-dense with no singleton tail, while
    * the n-gram relation is exactly the sparse regime GT smoothing
    * exists for (and the one the [[knBigramPerplexity]] discounts
    * apply to).
    *
    * 100 TB shape: the n-gram-count groupBy is the corpus pass the LM
    * ops already run; the count-of-counts re-aggregation is
    * frequency-bounded (≤ maxR + 1 rows survive), and the r+1 lookup is
    * a self-join of that tiny relation — nothing corpus-sized past the
    * first aggregate. */
  def goodTuring(docs: DataFrame, maxR: Long = 10L, n: Int = 3,
      textCol: String = "text"): DataFrame = {
    require(maxR >= 1L, s"maxR must be >= 1, got $maxR")
    require(n >= 1, s"n must be >= 1, got $n")
    val counts = docs
      .select(split(col(textCol), " ").as("ts"))
      // guard BEFORE sequence(): Spark's sequence(0, negative) counts
      // DOWN instead of returning empty
      .filter(size(col("ts")) >= n)
      .select(explode(expr(
        s"transform(sequence(0, size(ts) - $n)," +
          s" i -> concat_ws(' ', slice(ts, i + 1, $n)))")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("r"))
    val nr = counts.groupBy("r").agg(count(lit(1)).as("n_types"))
    val tot = counts.agg(sum(col("r")).as("n_tokens"),
      sum(when(col("r") === 1L, 1L).otherwise(0L)).as("n1"))
    val next = nr.select((col("r") - 1).as("r"), col("n_types").as("nr1"))
    val observed = nr.filter(col("r") <= maxR)
      .join(next, Seq("r"), "left")
      .select(col("r"), col("n_types"),
        when(col("nr1").isNull, lit(null).cast("double"))
          .otherwise(round((col("r") + 1).cast("double") *
            col("nr1").cast("double") / col("n_types").cast("double"), 6))
          .as("r_star"))
    val unseen = tot.select(lit(0L).as("r"),
      lit(null).cast("long").as("n_types"),
      round(col("n1").cast("double") / col("n_tokens").cast("double"), 6)
        .as("r_star"))
    unseen.unionByName(observed)
  }

  /** DuckDB twin of [[goodTuring]] over the `documents` table. */
  def goodTuringSql(maxR: Long = 10L, n: Int = 3): String = {
    require(maxR >= 1L, s"maxR must be >= 1, got $maxR")
    require(n >= 1, s"n must be >= 1, got $n")
    val gram = (0 until n).map(d => s"ts[i + $d]").mkString(" || ' ' || ")
    s"""WITH ts0 AS (SELECT string_split(text, ' ') AS ts FROM documents),
       |grams AS (
       |  SELECT $gram AS w
       |  FROM ts0, unnest(range(1, len(ts) - ${n - 2})) t(i)),
       |counts AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS r FROM grams GROUP BY 1),
       |nr AS (SELECT r, CAST(count(*) AS BIGINT) AS n_types
       |  FROM counts GROUP BY 1),
       |tot AS (SELECT CAST(sum(r) AS BIGINT) AS n_tokens,
       |  CAST(sum(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
       |  FROM counts)
       |SELECT CAST(0 AS BIGINT) AS r, CAST(NULL AS BIGINT) AS n_types,
       |  round(CAST(n1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS r_star
       |FROM tot
       |UNION ALL
       |SELECT a.r, a.n_types,
       |  CASE WHEN b.n_types IS NULL THEN NULL
       |    ELSE round(CAST(a.r + 1 AS DOUBLE) * CAST(b.n_types AS DOUBLE)
       |      / CAST(a.n_types AS DOUBLE), 6) END AS r_star
       |FROM nr a LEFT JOIN nr b ON b.r = a.r + 1
       |WHERE a.r <= $maxR""".stripMargin
  }
}
