package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Full-text relevance search over the corpus: BM25 (Robertson et al.,
  * the Okapi weighting; the scoring function behind Lucene/Elasticsearch
  * defaults) as a purely RELATIONAL pipeline — the "find me training
  * documents about X" query a corpus-curation engine needs next to its
  * dedup/quality operators.
  *
  * Scale shape: the query vocabulary is tiny and known up front, so the
  * term filter lands BEFORE any shuffle (on the scan, next to the
  * tokenizer) — only (doc, query-term) hit rows ever move, never the
  * corpus text. Per-term document frequencies and the query table
  * broadcast; corpus-level stats (N, avgdl) reduce to one row and ride a
  * broadcast cross join. The only O(corpus) exchange is the per-(doc,
  * term) tf groupBy on matching rows — at 100 TB with a 10-term query
  * that is hit rows only, and skew is bounded by df caps the caller can
  * apply upstream.
  *
  * Cross-engine determinism: ranking uses the ROUNDED score (6 dp) with
  * doc_id as tie-break, so the top-k cut is identical on any IEEE engine
  * (ln differs by ≤ 1 ulp between engines; 1e-15 absolute differences
  * cannot cross a 0.5e-6 rounding boundary except at measure-zero
  * coincidences — same discipline as every other oracle query here).
  */
object SearchOps {

  /** Top-k BM25 hits per query: (query_id, doc_id, score, rank), rank
    * 1-based by (score desc, doc_id asc).
    *
    * k1 tempers term-frequency saturation, b the length normalization —
    * the Okapi defaults (1.2, 0.75). Tokenization is whitespace splitting,
    * consistent with the shingle/token operators in this package. */
  def bm25TopK(docs: DataFrame, queries: Seq[(Int, Seq[String])], k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty), "need query terms")
    // mirror the SQL twin's rejection: an empty-string term would score
    // documents by their empty-token counts here while bm25TopKSql throws,
    // so the two engines could never be compared
    require(queries.forall(_._2.forall(_.nonEmpty)),
      "query terms must be non-empty strings")
    val vocab = queries.flatMap(_._2).distinct
    val spark = docs.sparkSession
    import spark.implicits._

    // one native pass per document computes dl + every query-term count
    // ([[graft.functions.TermCounts]]): no token explode, and — crucially —
    // no (doc_id, term) counting shuffle at all; tf rows are BORN
    // aggregated in the scan stage, so the first exchange in the plan
    // already carries only per-(doc, hit-term) scalars
    val per = docs.select(col(idCol).as("doc_id"),
      graft.functions.TermCounts(col(textCol), vocab).as("tc"))
    val tf = per.select(col("doc_id"), col("tc").getItem(0).as("dl"),
        posexplode(slice(col("tc"), 2, vocab.size)).as(Seq("vidx", "tf")))
      .filter(col("tf") > 0)
      .withColumn("term", element_at(typedlit(vocab), col("vidx") + 1))
      .drop("vidx")
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // corpus stats reuse the same native pass (dl is slot 0) instead of a
    // second tokenize-the-world scan
    val stats = per.agg(count(lit(1)).as("n_docs"),
      avg(col("tc").getItem(0)).as("avgdl"))
    val qterms = queries.flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("query_id", "term")

    val scored = tf
      // without it (sf0.1, 16 KB threshold): SortMergeJoin + 1 Exchange
      .join(broadcast(dfreq), Seq("term"))
      .join(qterms, Seq("term"))
      .crossJoin(stats)
      // idf = ln((N - df + 0.5)/(df + 0.5) + 1)  (Lucene's non-negative form)
      .withColumn("idf", log((col("n_docs") - col("df") + lit(0.5)) /
        (col("df") + lit(0.5)) + lit(1.0)))
      .withColumn("contrib", col("idf") * col("tf") /
        (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("query_id", "doc_id")
      .agg(round(sum(col("contrib")), 6).as("score"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Build and persist a term-bucketed INVERTED INDEX: postings
    * (doc_id, term, tf, dl) written as parquet partition directories
    * keyed by `bucket = PolyHash(term) mod nBuckets`, plus a one-row
    * corpus-stats sidecar (n_docs, avgdl). The [[PqIndex]]-style
    * amortization for search: tokenize the corpus ONCE at ingest, and
    * every subsequent query reads only the partition directories its
    * terms hash into — directory-level pruning the scan planner applies
    * before opening a single file.
    *
    * A term's postings live entirely in its bucket (hash partitioning
    * is a function of the term), so per-term document frequencies are
    * exact when recomputed from pruned buckets alone — the index needs
    * no separate df table and stays trivially consistent. Postings are
    * (8+str+8+8)-byte rows; text never reaches the index.
    *
    * 100 TB shape: one corpus scan + one (doc, term) count shuffle at
    * build; the partitionBy write fans each task's output into its
    * buckets. Queries touch |query vocab| directories out of
    * `nBuckets` — at production scale pick nBuckets ~ thousands so a
    * 10-term query opens ~0.1% of the index bytes. */
  def writeIndex(docs: DataFrame, path: String, nBuckets: Int = 64,
      textCol: String = "text", idCol: String = "doc_id"): Unit = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    newPostings(docs, textCol, idCol, nBuckets)
      .write.partitionBy("bucket").mode("overwrite")
      .parquet(s"$path/postings")
    // stats carry EXACT integer (n_docs, sum_dl) alongside the derived
    // avgdl, plus the bucket count — the sidecar [[appendToIndex]]
    // validates against (a mismatched bucket scheme would scatter a
    // term's postings across directories and silently break pruning).
    // avgdl keeps the historical avg() expression: dl are integers, so
    // the double sum is exact (< 2^53 ≈ 9e15 tokens — beyond 100 TB of
    // text) and avg(dl) == sum_dl/n_docs bit-for-bit.
    docs.select(size(split(col(textCol), " ", -1)).as("dl"))
      .agg(count(lit(1)).as("n_docs"),
        avg(col("dl").cast("double")).as("avgdl"),
        sum(col("dl").cast("long")).as("sum_dl"))
      .withColumn("n_buckets", lit(nBuckets))
      .write.mode("overwrite").parquet(s"$path/stats")
  }

  /** The (doc_id, term, tf, dl, bucket) posting derivation — ONE code
    * path shared by build and append so the two can never disagree on
    * tokenization or bucketing. */
  private def newPostings(docs: DataFrame, textCol: String, idCol: String,
      nBuckets: Int): DataFrame =
    Spread(docs).select(col(idCol).as("doc_id"),
        size(split(col(textCol), " ", -1)).as("dl"),
        explode(split(col(textCol), " ", -1)).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
      .withColumn("bucket",
        pmod(graft.functions.PolyHash(col("term")), lit(nBuckets.toLong)))

  /** Append a batch of NEW documents to a persisted [[writeIndex]]
    * layout without re-reading or re-tokenizing the indexed corpus —
    * the incremental-index discipline of [[SimilarityOps.appendToPqIndex]]
    * applied to search. Postings append into the same bucket partition
    * directories (the bucket count comes from the index's own sidecar,
    * never from the caller — a wrong scheme would silently break
    * directory pruning, so an index without the sidecar refuses);
    * corpus stats update by EXACT integer arithmetic
    * (n' = n + n_batch, sum_dl' = sum_dl + Σ batch dl), which lands on
    * bit-identical avgdl to a full rebuild — so an appended index
    * returns IDENTICAL scores and ranks (test-pinned).
    *
    * Contract: batch ids must be new (same as the PQ append); postings
    * for a re-sent id would double-count. Crash between the postings
    * append and the stats swap leaves stats stale — [[auditIndex]]
    * detects it; re-running the append is NOT safe (postings are not
    * idempotent), recovery is a stats rebuild from postings via the
    * audit's exact counts. Stats swap is staged + atomic-renamed via
    * the Hadoop FS API. */
  def appendToIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      newDocs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): Unit = {
    val stats = spark.read.parquet(s"$path/stats")
    require(stats.columns.contains("sum_dl") &&
      stats.columns.contains("n_buckets"),
      s"index at $path lacks the append sidecar (sum_dl, n_buckets) — " +
        "rebuilt with an older writer; rebuild via writeIndex before appending")
    val row = stats.head()
    val (n0, sum0) = (row.getAs[Long]("n_docs"), row.getAs[Long]("sum_dl"))
    val nBuckets = row.getAs[Int]("n_buckets")
    newPostings(newDocs, textCol, idCol, nBuckets)
      .write.partitionBy("bucket").mode("append").parquet(s"$path/postings")
    val add = newDocs
      .select(size(split(col(textCol), " ", -1)).cast("long").as("dl"))
      .agg(count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L)).as("s"))
      .head()
    val (n1, s1) = (add.getAs[Long]("n"), add.getAs[Long]("s"))
    import spark.implicits._
    val next = Seq(((n0 + n1), (sum0 + s1).toDouble / (n0 + n1),
        (sum0 + s1), nBuckets))
      .toDF("n_docs", "avgdl", "sum_dl", "n_buckets")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    val tmp = new org.apache.hadoop.fs.Path(s"$path/.stats-staging")
    val dst = new org.apache.hadoop.fs.Path(s"$path/stats")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    next.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    fs.delete(dst, true)
    if (!fs.rename(tmp, dst))
      sys.error(s"stats swap failed: $tmp -> $dst")
  }

  /** Consistency audit for a persisted index: recompute the exact doc
    * count and dl sum FROM THE POSTINGS (one scan — the recovery path
    * after a crashed [[appendToIndex]]) and compare with the sidecar.
    * One row: (stats_n_docs, postings_n_docs, stats_sum_dl,
    * postings_sum_dl, consistent). */
  def auditIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val perDoc = spark.read.parquet(s"$path/postings")
      .groupBy("doc_id").agg(max(col("dl")).cast("long").as("dl"))
    val fromPostings = perDoc.agg(count(lit(1)).as("postings_n_docs"),
      coalesce(sum(col("dl")), lit(0L)).as("postings_sum_dl"))
    spark.read.parquet(s"$path/stats")
      .select(col("n_docs").as("stats_n_docs"),
        col("sum_dl").as("stats_sum_dl"))
      .crossJoin(fromPostings)
      .withColumn("consistent",
        col("stats_n_docs") === col("postings_n_docs") &&
          col("stats_sum_dl") === col("postings_sum_dl"))
  }

  /** [[bm25TopK]] against a persisted [[writeIndex]] layout — the plan
    * users run per query batch: bucket partition-pruning + term filter
    * reach the postings scan; df comes from the pruned postings (exact,
    * see [[writeIndex]]); corpus stats ride from the one-row sidecar.
    * Scores and ranks are IDENTICAL to the direct [[bm25TopK]] (the
    * index is lossless), which is what lets `search_bm25_indexed` share
    * the direct query's oracle. */
  def bm25TopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: Seq[(Int, Seq[String])], k: Int = 10, nBuckets: Int = 64,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty), "need query terms")
    require(queries.forall(_._2.forall(_.nonEmpty)),
      "query terms must be non-empty strings")
    import spark.implicits._
    val statsDf = spark.read.parquet(s"$path/stats")
    // bucket-scheme guard: probing with the wrong count computes wrong
    // bucket ids and silently MISSES postings — refuse instead
    if (statsDf.columns.contains("n_buckets")) {
      val nb = statsDf.head().getAs[Int]("n_buckets")
      require(nb == nBuckets,
        s"index at $path was bucketed with n_buckets=$nb, probed with " +
          s"$nBuckets — a mismatched scheme would silently miss postings")
    }
    val vocab = queries.flatMap(_._2).distinct
    val buckets = vocab
      .map(t => graft.functions.PolyHash.hash(t, 31L) % nBuckets).distinct
    val tf = spark.read.parquet(s"$path/postings")
      .filter(col("bucket").isInCollection(buckets) &&
        col("term").isInCollection(vocab))
      .select("doc_id", "term", "tf", "dl")
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = statsDf.select("n_docs", "avgdl")
    val qterms = queries.flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("query_id", "term")
    val scored = tf
      // without it (sf0.1, 256 KB threshold): SortMergeJoin + 1 Exchange
      .join(broadcast(dfreq), Seq("term"))
      .join(qterms, Seq("term"))
      .crossJoin(stats)
      .withColumn("idf", log((col("n_docs") - col("df") + lit(0.5)) /
        (col("df") + lit(0.5)) + lit(1.0)))
      .withColumn("contrib", col("idf") * col("tf") /
        (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("query_id", "doc_id")
      .agg(round(sum(col("contrib")), 6).as("score"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** DuckDB twin of [[bm25TopK]]: identical formula, identical operation
    * order (so the doubles agree bit-for-bit up to the final ln ulp),
    * identical rounded-score ranking. */
  /** Rank-biased overlap (Webber et al., TOIS 2010) between two
    * top-`k` rankings, per query — THE similarity measure for "how
    * much did my retrieval change after retuning", top-weighted so a
    * swap at rank 1 moves the score far more than one at rank k.
    * Truncated-depth form with normalized geometric weights:
    *
    *   RBO@k = Σ_{d=1..k} [ p^(d−1)·(1−p)/(1−p^k) ] · |A_d ∩ B_d| / d
    *
    * Engine-exactness: prefix agreements come from the identity
    * "doc counts toward every depth ≥ max(rank_A, rank_B)" — pure
    * integer counting; each depth's contribution is scaled to BIGINT
    * (round(1e9·…), with (1−p) and the normalizer precomputed as
    * literals so only pow(p, d−1) is engine-evaluated) and the total
    * is an exact integer sum. Queries with zero overlap report 0, not
    * an absent row.
    *
    * 100 TB shape: one (query, doc) equi-join of two k·|queries|-row
    * relations, one depth explode bounded by k — evaluation cost is
    * rankings-sized, never corpus-sized. */
  def rankingRbo(a: DataFrame, b: DataFrame, k: Int, p: Double = 0.9)
      : DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(p > 0.0 && p < 1.0, s"p must be in (0,1), got $p")
    val norm = (1.0 - p) / (1.0 - math.pow(p, k))
    val joined = a.select(col("query_id"), col("doc_id"),
        col("rank").as("ra"))
      .join(b.select(col("query_id"), col("doc_id"), col("rank").as("rb")),
        Seq("query_id", "doc_id"))
      .withColumn("m", greatest(col("ra"), col("rb")))
      .filter(col("m") <= k)
    val contribs = joined
      .select(col("query_id"), explode(expr(s"sequence(m, ${k}L)")).as("d"))
      .groupBy("query_id", "d").agg(count(lit(1)).as("inter"))
      .select(col("query_id"), expr(
        s"CAST(round(1000000000.0 * pow($p, d - 1) * $norm * inter / d)" +
          " AS BIGINT)").as("c"))
      .groupBy("query_id").agg(sum("c").as("rbo_e9"))
    a.select("query_id").distinct()
      .join(contribs, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("rbo_e9"), lit(0L)).as("rbo_e9"))
  }

  /** DuckDB twin of [[rankingRbo]] over `ra`/`rb` CTEs with
    * (query_id, doc_id, rank) columns. */
  def rankingRboSql(k: Int, p: Double = 0.9): String = {
    val norm = (1.0 - p) / (1.0 - math.pow(p, k))
    s"""SELECT q.query_id, CAST(COALESCE(c.rbo_e9, 0) AS BIGINT) AS rbo_e9
       |FROM (SELECT DISTINCT query_id FROM ra) q
       |LEFT JOIN (
       |  SELECT query_id, CAST(sum(c) AS BIGINT) AS rbo_e9 FROM (
       |    SELECT query_id,
       |      CAST(round(1000000000.0 * pow($p, d - 1) * $norm
       |        * inter / d) AS BIGINT) AS c
       |    FROM (
       |      SELECT query_id, d, count(*) AS inter
       |      FROM (
       |        SELECT ra.query_id, greatest(ra.rank, rb.rank) AS m
       |        FROM ra JOIN rb USING (query_id, doc_id)
       |        WHERE greatest(ra.rank, rb.rank) <= $k) mm,
       |        unnest(range(mm.m, ${k + 1})) t(d)
       |      GROUP BY 1, 2))
       |  GROUP BY 1) c USING (query_id)""".stripMargin
  }

  def bm25TopKSql(queries: Seq[(Int, Seq[String])], k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): String = {
    // SQL-quote each term: '' doubling guards terms carrying quotes, and
    // empty terms (sloppy tokenization) are rejected rather than silently
    // matching the empty string
    def sq(t: String): String = {
      require(t.nonEmpty, "bm25TopKSql: empty query term")
      "'" + t.replace("'", "''") + "'"
    }
    val vocab = queries.flatMap(_._2).distinct
    val inList = vocab.map(sq).mkString(", ")
    val qvals = queries.flatMap { case (qid, ts) => ts.map(t => s"($qid, ${sq(t)})") }
      .mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, len(string_split(text, ' ')) AS dl,
       |    unnest(string_split(text, ' ')) AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
       |  FROM toks WHERE term IN ($inList) GROUP BY 1, 2),
       |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |stats AS (SELECT count(*) AS n_docs,
       |  avg(len(string_split(text, ' '))) AS avgdl FROM documents),
       |qterms(query_id, term) AS (VALUES $qvals),
       |scored AS (
       |  SELECT q.query_id, tf.doc_id,
       |    round(sum(
       |      ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
       |      * tf.tf / (tf.tf + $k1 * (1.0 - $b + $b * tf.dl / s.avgdl))
       |    ), 6) AS score
       |  FROM tf JOIN dfreq d USING (term) JOIN qterms q USING (term)
       |  CROSS JOIN stats s
       |  GROUP BY 1, 2)
       |SELECT query_id, doc_id, score,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, doc_id ASC) AS INT) AS rank
       |FROM scored
       |QUALIFY rank <= $k""".stripMargin
  }

  // ---- retrieval-quality metrics ------------------------------------------

  /** Graded relevance judgments derived from query-term coverage:
    * rel(query, doc) = the number of DISTINCT query terms the document
    * contains (docs matching no term are absent = grade 0). A
    * deterministic, corpus-derivable stand-in for human qrels that gives
    * retrieval metrics an exact oracle; [[retrievalMetrics]] takes ANY
    * (query_id, doc_id, rel) relation, so production labels drop in with
    * no plan change.
    *
    * 100 TB shape: reuses the [[graft.functions.TermCounts]] single-pass
    * scan (no token explode, no corpus shuffle) — only (doc, hit-term)
    * rows leave the scan, and the query table broadcasts. */
  def termCoverageQrels(docs: DataFrame, queries: Seq[(Int, Seq[String])],
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty), "need query terms")
    require(queries.forall(_._2.forall(_.nonEmpty)),
      "query terms must be non-empty strings")
    val vocab = queries.flatMap(_._2).distinct
    val spark = docs.sparkSession
    import spark.implicits._
    val hits = docs.select(col(idCol).as("doc_id"),
        graft.functions.TermCounts(col(textCol), vocab).as("tc"))
      .select(col("doc_id"),
        posexplode(slice(col("tc"), 2, vocab.size)).as(Seq("vidx", "tf")))
      .filter(col("tf") > 0)
      .withColumn("term", element_at(typedlit(vocab), col("vidx") + 1))
    val qterms = queries.flatMap { case (qid, ts) => ts.distinct.map(t => (qid, t)) }
      .toDF("query_id", "term")
    hits.join(qterms, Seq("term"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("rel"))
  }

  /** DuckDB twin of [[termCoverageQrels]] over the `documents` table. */
  def termCoverageQrelsSql(queries: Seq[(Int, Seq[String])]): String = {
    def sq(t: String): String = {
      require(t.nonEmpty, "termCoverageQrelsSql: empty query term")
      "'" + t.replace("'", "''") + "'"
    }
    val vocab = queries.flatMap(_._2).distinct
    val inList = vocab.map(sq).mkString(", ")
    val qvals = queries
      .flatMap { case (qid, ts) => ts.distinct.map(t => s"($qid, ${sq(t)})") }
      .mkString(", ")
    s"""SELECT q.query_id, h.doc_id, CAST(count(*) AS BIGINT) AS rel
       |FROM (
       |  SELECT DISTINCT doc_id, term FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |    FROM documents)
       |  WHERE term IN ($inList)) h
       |JOIN (SELECT * FROM (VALUES $qvals) v(query_id, term)) q USING (term)
       |GROUP BY 1, 2""".stripMargin
  }

  /** Per-query retrieval-quality metrics at cutoff `k` — **nDCG@k**
    * (graded, exponential gain — Järvelin & Kekäläinen, TOIS 2002),
    * **MRR@k** and **recall@k** — of a ranking (query_id, doc_id, rank)
    * against relevance judgments (query_id, doc_id, rel).
    *
    * Judgment contract: rel rows with rel <= 0 are ignored (absent and
    * zero-graded mean the same thing on both engines); grades are small
    * integers (the 1e9-scaled exponential gain stays within int64 for
    * rel <= 32 — ranking-eval grades are single digits in practice).
    *
    * Cross-engine determinism: each DCG term (2^rel − 1)/log2(rank + 1)
    * is integer-scaled to 1e-9 units and SUMMED AS BIGINT (the
    * [[rankingRbo]] discipline) so float summation order never matters;
    * nDCG is then ONE double division of two exact integers. MRR divides
    * 1 by an integer rank once; recall divides two exact counts once. A
    * query with no relevant docs yields NULL ndcg and recall (0/0) and
    * mrr 0.0 via the same CASE on both engines.
    *
    * 100 TB shape: the ranking is k·|queries| rows and qrels are
    * label-sized — every join and window here is evaluation-sized, never
    * corpus-sized; the ideal-DCG window runs over the qrels relation
    * only (rel-desc row_number, tie order irrelevant to the sum because
    * equal grades contribute equal terms). */
  def retrievalMetrics(ranking: DataFrame, qrels: DataFrame, k: Int)
      : DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val rel = qrels.filter(col("rel") > 0)
    val gain = "CAST(round(1000000000.0 * (pow(2.0, rel) - 1.0) / " +
      "log2(%s + 1)) AS BIGINT)"
    val dcg = ranking.filter(col("rank") <= k)
      .join(rel, Seq("query_id", "doc_id"))
      .groupBy("query_id")
      .agg(sum(expr(gain.format("rank"))).as("dcg_e9"),
        min("rank").as("first_rel"), count(lit(1)).as("hits"))
    val iw = Window.partitionBy("query_id")
      .orderBy(col("rel").desc, col("doc_id").asc)
    val ideal = rel.withColumn("irank", row_number().over(iw))
      .filter(col("irank") <= k)
      .groupBy("query_id")
      .agg(sum(expr(gain.format("irank"))).as("idcg_e9"))
    val nrel = rel.groupBy("query_id").agg(count(lit(1)).as("n_rel"))
    ranking.select("query_id").distinct()
      .join(dcg, Seq("query_id"), "left")
      .join(ideal, Seq("query_id"), "left")
      .join(nrel, Seq("query_id"), "left")
      .select(col("query_id"),
        when(col("idcg_e9").isNull, lit(null).cast("double"))
          .otherwise(round(coalesce(col("dcg_e9"), lit(0L)).cast("double") /
            col("idcg_e9").cast("double"), 6)).as("ndcg"),
        round(coalesce(lit(1.0) / col("first_rel"), lit(0.0)), 6).as("mrr"),
        when(col("n_rel").isNull, lit(null).cast("double"))
          .otherwise(round(coalesce(col("hits"), lit(0L)).cast("double") /
            col("n_rel").cast("double"), 6)).as("recall"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"))
  }

  /** DuckDB twin of [[retrievalMetrics]] over `ranking`
    * (query_id, doc_id, rank) and `qrels` (query_id, doc_id, rel) CTEs. */
  def retrievalMetricsSql(k: Int): String = {
    require(k >= 1, s"k must be >= 1, got $k")
    s"""SELECT b.query_id,
       |  CASE WHEN i.idcg_e9 IS NULL THEN NULL
       |    ELSE round(CAST(COALESCE(d.dcg_e9, 0) AS DOUBLE)
       |      / CAST(i.idcg_e9 AS DOUBLE), 6) END AS ndcg,
       |  round(COALESCE(1.0 / d.first_rel, 0.0), 6) AS mrr,
       |  CASE WHEN n.n_rel IS NULL THEN NULL
       |    ELSE round(CAST(COALESCE(d.hits, 0) AS DOUBLE)
       |      / CAST(n.n_rel AS DOUBLE), 6) END AS recall,
       |  COALESCE(n.n_rel, 0) AS n_rel
       |FROM (SELECT DISTINCT query_id FROM ranking) b
       |LEFT JOIN (
       |  SELECT r.query_id,
       |    sum(CAST(round(1000000000.0 * (pow(2.0, q.rel) - 1.0)
       |      / log2(r.rank + 1)) AS BIGINT)) AS dcg_e9,
       |    min(r.rank) AS first_rel, CAST(count(*) AS BIGINT) AS hits
       |  FROM ranking r JOIN qrels q USING (query_id, doc_id)
       |  WHERE r.rank <= $k AND q.rel > 0 GROUP BY 1) d USING (query_id)
       |LEFT JOIN (
       |  SELECT query_id,
       |    sum(CAST(round(1000000000.0 * (pow(2.0, rel) - 1.0)
       |      / log2(irank + 1)) AS BIGINT)) AS idcg_e9
       |  FROM (
       |    SELECT query_id, rel, row_number() OVER (PARTITION BY query_id
       |      ORDER BY rel DESC, doc_id ASC) AS irank
       |    FROM qrels WHERE rel > 0) t
       |  WHERE irank <= $k GROUP BY 1) i USING (query_id)
       |LEFT JOIN (
       |  SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
       |  FROM qrels WHERE rel > 0 GROUP BY 1) n USING (query_id)""".stripMargin
  }
}
