package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Checkpoints._

/** Document-frequency cap policy for inverted-index candidate generation
  * ([[DedupOps.jaccardNearDupStats]]). A shared-key self-join costs
  * Σ_s df(s)² candidate rows, so the cap is the difference between a plan
  * that scales and one that melts on the first viral shingle; the ADT
  * forces every caller to make that choice explicitly. */
sealed trait DfCap extends Serializable
object DfCap {
  /** Exact all-pairs form — carries the Σdf² candidate term. Only for
    * corpora known to have no high-df keys (tests, small bounded sets). */
  case object Uncapped extends DfCap
  /** Drop keys with document frequency > maxDf from candidate generation
    * (reported similarity becomes a lower bound where hot keys exist). */
  final case class Capped(maxDf: Int) extends DfCap {
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
  }
}

/** Deduplication operators for training-data pipelines: exact, word-shingle
  * Jaccard, MinHash+LSH, SimHash. Each comes in a correctness-baseline form
  * (oracle-checkable) and a scale form (bucketed, no cartesian products).
  *
  * Scale design: every variant reduces candidate generation to an
  * equi-join on derived keys (text hash / shingle / band signature) —
  * shuffles move only keys+ids, never full documents; exact verification
  * happens only inside candidate buckets.
  */
object DedupOps {

  // ---- exact ------------------------------------------------------------
  /** Exact dedup: one row per distinct text with the kept (minimum) id and
    * the duplicate count. Groups on the 8-byte `xxhash64(text)`, not the
    * text — full documents never shuffle (the module's design invariant);
    * only hashes and ids cross the wire. Collision probability ~n²/2^65 is
    * negligible against corpus sizes; [[exactDupGroups]] keeps the
    * text-keyed form where the raw grouping is wanted. */
  def exactDedup(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    df.select(xxhash64(col(textCol)).as("__th"), col(idCol).as("__id"))
      .groupBy(col("__th"))
      .agg(min(col("__id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))

  /** Skew-safe exact dedup: identical result to [[exactDedup]] via
    * two-phase salted aggregation. A viral document duplicated 10^8 times
    * sends every copy to ONE reducer in the naive groupBy; salting splits
    * each text's copies across `salts` partial groups (first shuffle),
    * then merges the per-salt partials (second shuffle over ≤ salts rows
    * per text). Same pattern applies to any skewed-key aggregate. */
  def exactDedupSalted(df: DataFrame, salts: Int = 16, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    // group on the 8-byte text hash, not the text: full documents never
    // shuffle (the module's design invariant); collision probability is
    // ~n²/2^65 — negligible against corpus sizes
    df.select(xxhash64(col(textCol)).as("__th"), col(idCol).as("__id"))
      .withColumn("__salt", pmod(xxhash64(col("__id")), lit(salts.toLong)))
      .groupBy(col("__th"), col("__salt"))
      .agg(min(col("__id")).as("keep_p"), count(lit(1)).as("n_p"))
      .groupBy(col("__th"))
      .agg(min(col("keep_p")).as("keep_id"), sum(col("n_p")).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))

  /** Normalization-aware exact dedup: [[exactDedup]] over the canonical
    * text form ([[TextOps.normalize]] — case folding, punctuation/space
    * collapsing), so trivially-reformatted copies land in one group. Same
    * scale shape as exactDedup: only 8-byte hashes of the normalized text
    * shuffle. */
  def normalizedDedup(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    exactDedup(df.withColumn(textCol, TextOps.normalize(col(textCol))),
      textCol, idCol)

  // ---- incremental (cross-snapshot) dedup --------------------------------
  /** Cross-snapshot exact dedup: flag every new-batch document whose text
    * already exists (byte-identical) in the old corpus. The result is
    * EXACT — the Bloom filters are purely scale devices and never change
    * the output (false positives are re-checked by the join; false
    * negatives cannot occur).
    *
    * Scale shape (the 100 TB story): snapshot-vs-snapshot dedup as a plain
    * join shuffles BOTH corpora. Here (1) a Bloom filter over the old
    * side's 8-byte text hashes (1 MiB at the default sizing) is collected
    * once and probed inside whole-stage codegen over the new-batch scan —
    * a 99%-new batch is resolved entirely map-side; (2) a second filter
    * over ALL new-batch hashes prunes the OLD-side scan before the
    * exact-confirm join (an old row surviving it matches some new hash —
    * a dup of a bloom-positive new row, or an FP), so neither corpus
    * shuffles beyond the (tiny) candidate sets. Filter (2) covers all new
    * keys rather than just the positives: that costs only the FP-rate in
    * old-side pruning and needs NO materialized intermediate — every
    * path stays lazy and recomputable (executor loss recomputes instead
    * of failing on truncated lineage; nothing leaks into cache storage).
    * This is the runtime-filter pattern Spark applies to selective
    * joins, made explicit and snapshot-reusable (persist the old-side
    * filter bytes and the next batch skips pass 1's aggregate
    * entirely). */
  def incrementalDedup(newDocs: DataFrame, oldDocs: DataFrame,
      numBits: Int = 1 << 23,
      numHashes: Int = graft.functions.BloomFilter.DefaultNumHashes,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    import graft.functions.{BloomContains, BloomFilterAgg}
    val oldKeyed = oldDocs.select(xxhash64(col(textCol)).as("__h"),
      col(textCol).as("__t"))
    // one-row driver collect (the filter bytes) — the same by-design move
    // as the IVF centroid table, not a data-sized collect
    val oldFilter = oldKeyed
      .agg(BloomFilterAgg(col("__h"), numBits, numHashes).as("f"))
      .head().getAs[Array[Byte]](0)
    val newKeyed = newDocs.select(col(idCol).as("doc_id"),
      xxhash64(col(textCol)).as("__h"), col(textCol).as("__t"))
    val newFilter = newKeyed
      .agg(BloomFilterAgg(col("__h"), numBits, numHashes).as("f"))
      .head().getAs[Array[Byte]](0)
    val positives = newKeyed
      .filter(BloomContains(col("__h"), oldFilter, numHashes))
    val oldPruned = oldKeyed.filter(BloomContains(col("__h"), newFilter, numHashes))
    // exact confirm on (hash, text): only bloom-surviving rows from either
    // side reach the shuffle; semi-join output is at-most-once per new row
    val dups = positives.join(oldPruned, Seq("__h", "__t"), "left_semi")
      .select(col("doc_id"), lit(true).as("is_dup"))
    newDocs.select(col(idCol).as("doc_id"))
      .join(dups, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("is_dup"), lit(false)).as("is_dup"))
  }

  /** Duplicate-only view: texts appearing more than once, with up to
    * `maxIds` member ids (smallest first). `n_copies` always counts ALL
    * copies; only the exhibited id list is capped — a boilerplate page
    * duplicated millions of times at web scale must not build a
    * million-element aggregation state for one group, so ids are
    * rank-pruned BEFORE the collect, keeping every group's state
    * O(maxIds). */
  def exactDupGroups(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", maxIds: Int = 1000): DataFrame = {
    require(maxIds >= 1, s"maxIds must be >= 1, got $maxIds")
    val counts = df.groupBy(col(textCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)
    // restrict the ranking pass to DUPLICATE texts before the window: on
    // a mostly-unique corpus the full-text shuffle+sort would otherwise
    // rank every singleton just for the join to discard it. Null-safe
    // (<=>) joins throughout: GROUP BY collects null texts into one group
    // and a plain equi-join would silently drop it.
    val dupRows = df.select(col(textCol), col(idCol))
      .join(counts.select(col(textCol).as("__t")),
        col(textCol) <=> col("__t"), "left_semi")
    val w = Window.partitionBy(textCol).orderBy(col(idCol).asc)
    val cappedIds = dupRows
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxIds)
      .groupBy(col(textCol))
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .withColumnRenamed(textCol, "__t")
    counts.join(cappedIds, col(textCol) <=> col("__t"))
      .select(col(textCol), col("keep_id"), col("n_copies"), col("ids"))
  }

  /** Spread a (possibly single-split) input across the cluster before
    * per-row fan-out work — conditional pass-through for well-split
    * inputs; see [[Spread]] for the scale rationale. */
  private def spread(df: DataFrame): DataFrame = Spread(df)

  // ---- word shingles ----------------------------------------------------
  /** Per-doc distinct k-word shingle ARRAY: one native pass per row
    * ([[graft.functions.WordShingles]]), so downstream consumers get
    * distinct (doc, shingle) pairs from a plain explode with NO dedup
    * shuffle and no per-element interpreted lambdas. */
  private def shingleArray(k: Int, textCol: String): org.apache.spark.sql.Column =
    graft.functions.WordShingles(col(textCol), k)

  /** Distinct k-word shingles per doc: (doc_id, shingle). Narrow + explode. */
  def shingles(df: DataFrame, k: Int, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    spread(df).select(col(idCol).as("doc_id"),
      explode(shingleArray(k, textCol)).as("shingle"))

  /** The (doc_id, tok, __df, rnk, size) relation every AllPairs-style
    * similarity join consumes — shingled, df-ranked and doc-sized —
    * built and MATERIALIZED once per invocation. The un-barriered form
    * recomputed the shingle explode and both ranking windows for every
    * downstream consumer (prefix side, full side, both verification
    * sides: 12 parquet scans in the r14 containment plan); since the
    * df-join is 1:1 (every tok row has a df), `ordered` carries every
    * tok row and can feed verification too, so ONE shingle pass and ONE
    * window pass serve the whole query. Fresh per invocation — nothing
    * is reused across calls. Both barriers are measured
    * ([[Checkpoints.materialize]]), so the planner sizes every join
    * against them from their real bytes. */
  private def orderedShingles(df: DataFrame, k: Int, textCol: String,
      idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = shingles(df, k, textCol, idCol)
      .withColumnRenamed("shingle", "tok")
      .materialize()
    // |dfreq| <= |tok|: the measured shingle relation bounds the df
    // aggregate, which the planner can only estimate
    val dfreq0 = tok.groupBy("tok").agg(count(lit(1)).as("__df"))
    val dfreq = if (fitsBroadcast(tok)) broadcast(dfreq0) else dfreq0
    val wRank = Window.partitionBy("doc_id")
      .orderBy(col("__df").asc, col("tok").asc)
    val wSize = Window.partitionBy("doc_id")
    tok.join(dfreq, Seq("tok"))
      .withColumn("rnk", row_number().over(wRank))
      .withColumn("size", count(lit(1)).over(wSize))
      .materialize()
  }

  /** Per-doc Jaccard near-duplicate stats over k-word shingles: for every
    * document, the number of neighbors with jaccard >= threshold and the
    * best jaccard. One row per doc (zero-filled; never empty).
    *
    * Candidates come from an equi-join on shared shingles (inverted
    * index) — no cartesian product; intersection counts fall out of the
    * join group sizes. Jaccard compared on 6-dp rounding for engine
    * portability.
    *
    * `dfCap` is classic prefix filtering and is REQUIRED: the self-join
    * costs Σ_s df(s)² candidate rows, so ONE viral shingle (df = 10^6)
    * alone generates 10^12 pairs. [[DfCap.Capped]] drops shingles with
    * document frequency > maxDf from candidate generation and intersection
    * counts (drop-only — the per-doc sizes in the union denominator keep
    * every shingle, so the reported jaccard is a lower bound when hot
    * shingles exist). [[DfCap.Uncapped]] is the exact all-pairs form and
    * carries the Σdf² term — spell it out only for corpora you KNOW have
    * no viral shingles (tests, bounded batches). There is deliberately no
    * default: an accidental uncapped call on a 100 TB corpus is a
    * cluster-killer, so the API forces the caller to choose the trade. */
  def jaccardNearDupStats(df: DataFrame, dfCap: DfCap, k: Int = 3,
      threshold: Double = 0.3, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // (doc, n_sh, shingle): per-doc size rides along with every exploded
    // row — no separate size aggregation, no size joins, and identical
    // left/right subplans let Spark reuse one shuffle exchange for the
    // self-join. Stage count is the cost driver here, not data volume.
    val arr = shingleArray(k, textCol)
    val sh = spread(df).select(col(idCol).as("doc_id"), arr.as("arr"))
      .select(col("doc_id"), size(col("arr")).as("n_sh"), explode(col("arr")).as("shingle"))
    // document-frequency cap: df computed and joined back on the same
    // shingle key, so the exchange introduced by the groupBy is reused by
    // the self-join below (no extra full shuffle of the shingle relation)
    val shf = dfCap match {
      case DfCap.Uncapped => sh
      case DfCap.Capped(maxDf) => sh.join(
        sh.groupBy("shingle").agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= maxDf).select("shingle"),
        Seq("shingle"))
    }
    val l = shf.select(col("doc_id").as("doc_a"), col("n_sh").as("na"), col("shingle"))
    val r = shf.select(col("doc_id").as("doc_b"), col("n_sh").as("nb"), col("shingle"))
    val pairs = l.join(r, Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_inter"), max(col("na")).as("na"), max(col("nb")).as("nb"))
      .withColumn("j", round(col("n_inter").cast("double") /
        (col("na") + col("nb") - col("n_inter")).cast("double"), 6))
    val sym = pairs.select(col("doc_a").as("doc_id"), col("j"))
      .unionByName(pairs.select(col("doc_b").as("doc_id"), col("j")))
    df.select(col(idCol).as("doc_id"))
      .join(sym.groupBy("doc_id").agg(
        sum(when(col("j") >= threshold, 1L).otherwise(0L)).as("n_near"),
        max(col("j")).as("max_j")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        coalesce(col("max_j"), lit(0.0)).as("max_j"))
  }

  /** EXACT all-pairs similarity join: every (doc_a < doc_b) pair with
    * Jaccard over distinct k-word SHINGLES >= tau — no LSH, no false
    * negatives — via the AllPairs/PPJoin prefix filter (Bayardo et al.
    * WWW'07; Xiao et al. WWW'08 Lemma 1).
    *
    * Principle: order every document's shingles by ONE global order
    * (document frequency ascending — rarest first — with the shingle
    * string as tie-break). J(A,B) >= tau implies |A∩B| >= ceil(tau·|A|),
    * so by pigeonhole the first |A| − ceil(tau·|A|) + 1 shingles of A
    * must contain a shared shingle; with both sides cut to that prefix,
    * the shared-global-order lemma keeps the guarantee. Candidates are
    * an equi-join on PREFIX shingles only, then a size filter
    * (tau·|A| <= |B| <= |A|/tau), then exact intersection counting
    * verifies — so pruning can only drop pairs the threshold already
    * excludes. The DuckDB oracle computes the UNPRUNED full shingle
    * join; a hash match certifies the filter lost nothing.
    *
    * SHINGLE granularity is load-bearing for the pruning, not just the
    * semantics (the [[containmentJoin]] lesson): at unigram granularity
    * a bounded vocabulary makes every document's RAREST token still
    * common — measured on this corpus at sf0.1, the unigram prefix join
    * emitted ~40× more candidates and ran 60 s where the shingle form
    * runs in ~2 s — while k-word shingles are near-unique, putting the
    * prefix df distribution back on the Zipf tail where AllPairs'
    * Σdf²-avoidance argument actually holds.
    *
    * 100 TB shape: the quadratic term lives only on prefix shingles
    * (each document's rarest); df comes from one corpus-wide aggregate
    * whose exchange the join-back reuses. Verification cost is
    * Σ_cand |A| — a candidate-linear expansion of shingle lists, never
    * a shuffle of text. Per-doc ranking windows partition on doc_id:
    * bounded by document length, unskewable. */
  def jaccardJoin(df: DataFrame, tau: Double, k: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    jaccardJoinInternals(df, tau, k, textCol, idCol)._2

  /** (candidates, verified-result) — the candidate relation is exposed
    * so soaks can measure the pruning bound the scaladoc claims. */
  private[graft] def jaccardJoinInternals(df: DataFrame, tau: Double,
      k: Int, textCol: String, idCol: String): (DataFrame, DataFrame) = {
    require(tau > 0 && tau <= 1, s"tau in (0,1], got $tau")
    // NOTE (r15): the [[orderedShingles]] barrier restructure (kept for
    // [[containmentJoinInternals]], where it saves a full second window
    // pass and measured 1.23×) was tried here with the then row-count
    // gated barriers and MEASURED SLOWER (1.7 → 2.2 s at sf0.1):
    // jaccard's verification sides read the cheap windowless `tok`
    // relation, so the extra barrier and count jobs cost more than the
    // two saved shingle passes. Original shape kept.
    import org.apache.spark.sql.expressions.Window
    val tok = shingles(df, k, textCol, idCol)
      .withColumnRenamed("shingle", "tok")
    val dfreq = tok.groupBy("tok").agg(count(lit(1)).as("__df"))
    val wRank = Window.partitionBy("doc_id").orderBy(col("__df").asc, col("tok").asc)
    val wSize = Window.partitionBy("doc_id")
    val ordered = tok.join(dfreq, Seq("tok"))
      .withColumn("rnk", row_number().over(wRank))
      .withColumn("size", count(lit(1)).over(wSize))
    // epsilon guard: pruning bounds only ever LENGTHEN the prefix /
    // WIDEN the size band under float rounding (extra candidates are
    // verified away; the final threshold below is exact), so the filter
    // is lossless for ANY tau, not just ones whose products hit exact
    // doubles
    val eps = 1e-9
    val prefix = ordered
      .filter(col("rnk") <=
        col("size") - ceil(lit(tau) * col("size") - lit(eps)) + 1)
    val pa = prefix.select(col("doc_id").as("doc_a"), col("tok"),
      col("size").as("size_a"))
    val pb = prefix.select(col("doc_id").as("doc_b"), col("tok"),
      col("size").as("size_b"))
    val cand = pa.join(pb, Seq("tok"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(lit(tau) * col("size_a") - lit(eps) <= col("size_b") &&
        lit(tau) * col("size_b") - lit(eps) <= col("size_a"))
      .select("doc_a", "doc_b", "size_a", "size_b").distinct()
    val ta = tok.select(col("doc_id").as("doc_a"), col("tok"))
    val tb = tok.select(col("doc_id").as("doc_b"), col("tok"))
    val inter = cand.join(ta, Seq("doc_a")).join(tb, Seq("doc_b", "tok"))
      .groupBy("doc_a", "doc_b", "size_a", "size_b")
      .agg(count(lit(1)).as("inter"))
    val jac = col("inter").cast("double") /
      (col("size_a") + col("size_b") - col("inter"))
    val result = inter.withColumn("__jac", jac)
      .filter(col("__jac") >= tau)
      .select(col("doc_a"), col("doc_b"), col("inter"),
        col("size_a"), col("size_b"), round(col("__jac"), 6).as("jaccard"))
    (cand, result)
  }

  /** Shingle relation CTE for the DuckDB twins (distinct k-word
    * shingles of `documents`, columns (doc_id, tok)) — one emitter so
    * the join/keep/cluster oracles cannot drift from each other. */
  def shinglesSqlCte(k: Int): String = {
    val terms = (0 until k).map {
      case 0 => "string_split(text,' ')[pos]"
      case i => s"string_split(text,' ')[pos+$i]"
    }.mkString(" || ' ' || ")
    s"""SELECT DISTINCT doc_id, $terms AS tok
       |FROM (SELECT doc_id, text,
       |unnest(range(1, greatest(len(string_split(text,' ')) - ${k - 2}, 1))) AS pos
       |FROM documents)""".stripMargin
  }

  /** DuckDB twin of [[jaccardJoin]] — deliberately UNPRUNED (full
    * shingle equi-join), so the hash match proves the prefix filter is
    * lossless. */
  def jaccardJoinSql(tau: Double, k: Int = 3): String =
    s"""WITH tok AS (${shinglesSqlCte(k)}),
       |sz AS (SELECT doc_id, count(*) AS size FROM tok GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |j AS (
       |  SELECT doc_a, doc_b, inter, sa.size AS size_a, sb.size AS size_b,
       |    CAST(inter AS DOUBLE) / (sa.size + sb.size - inter) AS jac
       |  FROM inter
       |  JOIN sz sa ON doc_a = sa.doc_id
       |  JOIN sz sb ON doc_b = sb.doc_id)
       |SELECT doc_a, doc_b, inter, size_a, size_b,
       |  round(jac, 6) AS jaccard
       |FROM j WHERE jac >= $tau""".stripMargin

  /** EXACT all-pairs BINARY-COSINE join: every (doc_a < doc_b) pair with
    * |A∩B| / √(|A|·|B|) >= tau over distinct k-word shingles — the
    * set-cosine (Ochiai) resemblance tier between [[jaccardJoin]]
    * (stricter: J <= cos always) and [[containmentJoin]] (asymmetric):
    * geometric-mean normalization tolerates moderate size imbalance that
    * Jaccard's union denominator punishes, which is the behavior
    * retrieval-style dedup (near-identical articles with different
    * boilerplate mass) wants.
    *
    * Pruning (exact, zero false negatives — the AllPairs prefix lemma
    * specialized to cosine, Bayardo et al. WWW'07 §4): from
    * o >= tau·√(a·b) and o <= min(a, b) follows o >= tau²·a for EACH
    * side's own size a (substitute b >= o), so under the global
    * (df asc, shingle asc) order the first a − ceil(tau²·a) + 1 shingles
    * of each document must contain a shared shingle; and the sizes obey
    * the band tau²·a <= b, tau²·b <= a. Candidates are the prefix
    * equi-join + band filter; exact intersection counting verifies. The
    * epsilon guard only lengthens prefixes / widens the band; the final
    * threshold compares the exact o/√(a·b) (IEEE sqrt and divide — both
    * engines correctly rounded). The DuckDB oracle runs the UNPRUNED
    * full shingle join ([[cosineJoinSql]]); a hash match certifies the
    * filter lost nothing.
    *
    * 100 TB shape: identical to [[jaccardJoin]] — the quadratic term
    * lives only on prefix shingles (each document's rarest; tau² makes
    * cosine prefixes longer than Jaccard's at equal tau, which is the
    * price of the looser metric — pick tau accordingly); df is one
    * corpus aggregate; verification is candidate-linear. */
  def cosineJoin(df: DataFrame, tau: Double, k: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    cosineJoinInternals(df, tau, k, textCol, idCol)._2

  private[graft] def cosineJoinInternals(df: DataFrame, tau: Double,
      k: Int, textCol: String, idCol: String): (DataFrame, DataFrame) = {
    require(tau > 0 && tau <= 1, s"tau in (0,1], got $tau")
    // same r15 negative result as [[jaccardJoinInternals]] — the
    // materialize+gate restructure measured neutral-to-slower here;
    // original shape kept (containment is the one that wins from it)
    import org.apache.spark.sql.expressions.Window
    val t2 = tau * tau
    val tok = shingles(df, k, textCol, idCol)
      .withColumnRenamed("shingle", "tok")
    val dfreq = tok.groupBy("tok").agg(count(lit(1)).as("__df"))
    val wRank = Window.partitionBy("doc_id").orderBy(col("__df").asc, col("tok").asc)
    val wSize = Window.partitionBy("doc_id")
    val ordered = tok.join(dfreq, Seq("tok"))
      .withColumn("rnk", row_number().over(wRank))
      .withColumn("size", count(lit(1)).over(wSize))
    val eps = 1e-9
    val prefix = ordered
      .filter(col("rnk") <=
        col("size") - ceil(lit(t2) * col("size") - lit(eps)) + 1)
    val pa = prefix.select(col("doc_id").as("doc_a"), col("tok"),
      col("size").as("size_a"))
    val pb = prefix.select(col("doc_id").as("doc_b"), col("tok"),
      col("size").as("size_b"))
    val cand = pa.join(pb, Seq("tok"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(lit(t2) * col("size_a") - lit(eps) <= col("size_b") &&
        lit(t2) * col("size_b") - lit(eps) <= col("size_a"))
      .select("doc_a", "doc_b", "size_a", "size_b").distinct()
    val ta = tok.select(col("doc_id").as("doc_a"), col("tok"))
    val tb = tok.select(col("doc_id").as("doc_b"), col("tok"))
    val inter = cand.join(ta, Seq("doc_a")).join(tb, Seq("doc_b", "tok"))
      .groupBy("doc_a", "doc_b", "size_a", "size_b")
      .agg(count(lit(1)).as("inter"))
    val cosv = col("inter").cast("double") /
      sqrt(col("size_a").cast("double") * col("size_b").cast("double"))
    val result = inter.withColumn("__cos", cosv)
      .filter(col("__cos") >= tau)
      .select(col("doc_a"), col("doc_b"), col("inter"),
        col("size_a"), col("size_b"), round(col("__cos"), 6).as("cosine"))
    (cand, result)
  }

  /** DuckDB twin of [[cosineJoin]] — deliberately UNPRUNED (full shingle
    * equi-join), so the hash match proves the prefix filter is
    * lossless. */
  def cosineJoinSql(tau: Double, k: Int = 3): String =
    s"""WITH tok AS (${shinglesSqlCte(k)}),
       |sz AS (SELECT doc_id, count(*) AS size FROM tok GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |j AS (
       |  SELECT doc_a, doc_b, inter, sa.size AS size_a, sb.size AS size_b,
       |    CAST(inter AS DOUBLE) /
       |      sqrt(CAST(sa.size AS DOUBLE) * CAST(sb.size AS DOUBLE)) AS cosv
       |  FROM inter
       |  JOIN sz sa ON doc_a = sa.doc_id
       |  JOIN sz sb ON doc_b = sb.doc_id)
       |SELECT doc_a, doc_b, inter, size_a, size_b,
       |  round(cosv, 6) AS cosine
       |FROM j WHERE cosv >= $tau""".stripMargin

  /** EXACT containment (subsumption) join: ordered pairs (a, b) with
    * |A∩B| / |A| >= tau over distinct k-word SHINGLES — "document a's
    * phrases are mostly inside document b". The asymmetric complement to
    * [[jaccardJoin]]: quote/excerpt detection, boilerplate-supersets, and
    * the "short doc swallowed by a long one" dups that resemblance misses
    * (a 50-token quote inside a 5000-token page has Jaccard ~0.01 but
    * containment 1.0). Shingle granularity is what makes the signal
    * selective: single-token containment saturates on any corpus with a
    * shared vocabulary (58% of ALL ordered pairs qualify at tau = 0.8 on
    * the test corpus; at 3-word shingles only true quotes survive —
    * 50 of 250k pairs).
    *
    * Pruning (exact, zero false negatives): shingles carry a global
    * (df asc, shingle asc) order; if |A∩B| >= ceil(tau·|A|) then among
    * the first |A| − ceil(tau·|A|) + 1 shingles of A at least one is in
    * B — so only A's prefix joins B's FULL shingle list (B cannot take a
    * prefix: the threshold never references |B|). One one-sided size
    * bound holds: |B| >= tau·|A|. The epsilon guard only ever lengthens
    * the prefix / loosens the bound; the final threshold is exact.
    * Certified by the driver hash-match against the UNPRUNED oracle
    * ([[containmentJoinSql]]). */
  def containmentJoin(df: DataFrame, tau: Double, k: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    containmentJoinInternals(df, tau, k, textCol, idCol)._2

  private[graft] def containmentJoinInternals(df: DataFrame, tau: Double,
      k: Int, textCol: String, idCol: String): (DataFrame, DataFrame) = {
    require(tau > 0 && tau <= 1, s"tau in (0,1], got $tau")
    val ordered = orderedShingles(df, k, textCol, idCol)
    val eps = 1e-9
    val prefix = ordered
      .filter(col("rnk") <=
        col("size") - ceil(lit(tau) * col("size") - lit(eps)) + 1)
    val pa = prefix.select(col("doc_id").as("doc_a"), col("tok"),
      col("size").as("size_a"))
    val tb = ordered.select(col("doc_id").as("doc_b"), col("tok"),
      col("size").as("size_b"))
    val cand = pa.join(tb, Seq("tok"))
      .filter(col("doc_a") =!= col("doc_b"))
      .filter(lit(tau) * col("size_a") - lit(eps) <= col("size_b"))
      .select("doc_a", "doc_b", "size_a", "size_b").distinct()
      .materialize()
    val ta = ordered.select(col("doc_id").as("doc_a"), col("tok"))
    val tb2 = ordered.select(col("doc_id").as("doc_b"), col("tok"))
    val inter = cand.join(ta, Seq("doc_a")).join(tb2, Seq("doc_b", "tok"))
      .groupBy("doc_a", "doc_b", "size_a", "size_b")
      .agg(count(lit(1)).as("inter"))
    val cont = col("inter").cast("double") / col("size_a")
    val result = inter.withColumn("__c", cont)
      .filter(col("__c") >= tau)
      .select(col("doc_a"), col("doc_b"), col("inter"),
        col("size_a"), col("size_b"), round(col("__c"), 6).as("containment"))
    (cand, result)
  }

  /** DuckDB twin of [[containmentJoin]] — deliberately UNPRUNED (full
    * ordered-pair shingle join), so the hash match certifies the prefix
    * filter dropped no qualifying pair. Same k-word shingle construction
    * as every shingle oracle in this file. */
  def containmentJoinSql(tau: Double, k: Int = 3): String = {
    val terms = (0 until k).map {
      case 0 => "string_split(text,' ')[pos]"
      case i => s"string_split(text,' ')[pos+$i]"
    }.mkString(" || ' ' || ")
    s"""WITH tok AS (
       |  SELECT DISTINCT doc_id, $terms AS tok
       |  FROM (SELECT doc_id, text,
       |    unnest(range(1, greatest(len(string_split(text,' ')) - ${k - 2}, 1))) AS pos
       |    FROM documents)),
       |sz AS (SELECT doc_id, count(*) AS size FROM tok GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id <> b.doc_id
       |  GROUP BY 1, 2),
       |c AS (
       |  SELECT doc_a, doc_b, inter, sa.size AS size_a, sb.size AS size_b,
       |    CAST(inter AS DOUBLE) / sa.size AS c
       |  FROM inter
       |  JOIN sz sa ON doc_a = sa.doc_id
       |  JOIN sz sb ON doc_b = sb.doc_id)
       |SELECT doc_a, doc_b, inter, size_a, size_b,
       |  round(c, 6) AS containment
       |FROM c WHERE c >= $tau""".stripMargin
  }

  /** EXACT end-to-end dedup keep decision: [[jaccardJoin]] pairs (zero
    * false negatives — unlike the MinHash pipeline there is no
    * probabilistic recall term anywhere) → connected components over the
    * qualifying-pair relation → min-id election, zero-filled over the
    * corpus. The guarantee a compliance-grade dedup needs: every pair at
    * Jaccard >= tau IS in one cluster, provably.
    *
    * Scale: the pair relation is threshold-qualified (cluster-sized, far
    * below corpus cardinality); components inherit the star-contraction
    * discipline; election is the same left-join + coalesce tail as
    * [[minhashDedupKeep]]. */
  def jaccardDedupKeep(df: DataFrame, tau: Double, k: Int = 3,
      textCol: String = "text",
      idCol: String = "doc_id", maxIter: Int = 64): DataFrame = {
    val pairs = jaccardJoin(df, tau, k, textCol, idCol)
      .select("doc_a", "doc_b")
    val comp = connectedComponents(pairs, maxIter)
    df.select(col(idCol).as("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("keep_id"),
        (coalesce(col("component"), col("doc_id")) === col("doc_id"))
          .as("is_kept"))
  }

  /** Substring-level duplication metrics (the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better" family,
    * at shingle granularity): for each document, what fraction of its
    * DISTINCT k-word shingles also occurs in at least one OTHER document.
    * Near-1 fractions flag boilerplate/templated text that doc-level
    * dedup misses entirely — the standard reason substring-level metrics
    * exist alongside MinHash.
    *
    * Scale shape: only (doc_id, shingle) pairs move — document text never
    * shuffles. The document-frequency groupBy and the join back land on
    * the SAME shingle key, so Spark reuses one exchange (the
    * [[jaccardNearDupStats]] pattern) — and unlike the pairwise jaccard
    * there is no Σdf² candidate term at all: a viral shingle costs df
    * rows, not df² pairs, so no df cap is needed. */
  def ngramDupStats(df: DataFrame, k: Int = 3, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val sh = shingles(df, k, textCol, idCol)
    val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("__df"))
    val per = sh.join(dfreq, Seq("shingle"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__df") >= 2, 1L).otherwise(0L)).as("n_dup"))
    df.select(col(idCol).as("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        round(coalesce(col("n_dup"), lit(0L)).cast("double") /
          greatest(coalesce(col("n_shingles"), lit(0L)), lit(1L)).cast("double"),
          6).as("dup_frac"))
  }

  /** Cross-corpus repeated-passage REMOVAL (the rewrite form of the
    * Lee et al. 2022 "Deduplicating Training Data Makes Language Models
    * Better" substring dedup, over word n-grams): every occurrence of an
    * n-gram that appears more than once in the corpus — except the
    * globally FIRST occurrence by (doc_id, pos) — has its n covered
    * tokens removed; the kept tokens are reassembled in order.
    *
    * Scale shape: occurrences shuffle as (doc_id, pos, 8-byte PolyHash)
    * — the n-token gram string never leaves its partition (the module
    * invariant; hash collisions merge distinct grams with probability
    * ~occ²/2⁶² — the exactDedup trade). First-occurrence election is a
    * min(struct) hash aggregate, no per-gram sort. Reassembly joins the
    * per-doc removal-position sets back and rewrites each affected doc
    * with one narrow per-row filter pass — tokens are never exploded
    * into a shuffle for reassembly, and unaffected docs pass through
    * with their original text.
    *
    * Returns (doc_id, kept_text, n_kept, n_removed), one row per doc. */
  def passageDedup(df: DataFrame, n: Int = 5, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val base = spread(df).select(col(idCol).as("doc_id"),
      split(col(textCol), " ").as("__a"))
    val occ = gramOccurrences(base, n)
    // first occurrence by (doc_id, pos), decomposed so every aggregate is
    // a primitive-typed HashAggregate: min(struct(...)) is not
    // hash-aggregable and falls back to SortAggregate — a per-partition
    // sort of the token-volume occurrence relation (plan-verified).
    // Lexicographic min == (min doc, min pos within that doc), so two
    // hash aggs + one (h, doc)-keyed join give the identical election.
    val perDoc = occ.groupBy("h", "doc_id")
      .agg(min(col("pos")).as("__mp"), count(lit(1)).as("__c"))
    val heads = perDoc.groupBy("h")
      .agg(min(col("doc_id")).as("__fd"), sum(col("__c")).as("__cnt"))
    val firsts = heads.join(
      perDoc.select(col("h"), col("doc_id").as("__fd"), col("__mp")),
      Seq("h", "__fd"))
    val dupOcc = occ.join(firsts, Seq("h"))
      .filter(col("__cnt") > 1 &&
        !(col("doc_id") === col("__fd") && col("pos") === col("__mp")))
    rewriteWithoutCoverage(base, dupOcc, n)
  }

  /** All n-gram occurrences of a (doc_id, __a: token array) relation as
    * (doc_id, pos, h) — the 8-byte PolyHash stands in for the gram string
    * so text never shuffles (collision trade documented at
    * [[passageDedup]]). */
  private def gramOccurrences(base: DataFrame, n: Int): DataFrame =
    base.filter(size(col("__a")) >= n)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(__a) - $n), " +
          s"i -> array_join(slice(__a, i + 1, $n), ' '))"))
        .as(Seq("pos", "gram")))
      .select(col("doc_id"), col("pos"),
        graft.functions.PolyHash(col("gram")).as("h"))

  /** Rewrite tail shared by [[passageDedup]] and [[decontaminateRewrite]]:
    * expand each offending occurrence (doc_id, pos) to its n covered
    * token positions, collect per-doc removal sets, and rewrite affected
    * docs with one narrow per-row filter pass — tokens never shuffle for
    * reassembly; unaffected docs pass through untouched. */
  private def rewriteWithoutCoverage(base: DataFrame, offending: DataFrame,
      n: Int): DataFrame = {
    val rm = offending
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("rm_pos"))
      .groupBy("doc_id").agg(collect_set(col("rm_pos")).as("__rm"))
    // NULL text splits to a NULL __a, where size() = -1 would break the
    // one-row-per-doc contract shape (kept_text=null, n_kept=-1); such
    // docs keep nothing and remove nothing: ('', 0, 0), same as the twins.
    base.withColumn("__a",
        coalesce(col("__a"), expr("CAST(array() AS ARRAY<STRING>)")))
      .join(rm, Seq("doc_id"), "left")
      .withColumn("__kept", when(col("__rm").isNull, col("__a"))
        .otherwise(expr(
          "transform(filter(zip_with(__a, sequence(0, size(__a) - 1), " +
            "(t, i) -> struct(t AS tok, i AS idx)), " +
            "s -> NOT array_contains(__rm, s.idx)), s -> s.tok)")))
      .select(col("doc_id"),
        array_join(col("__kept"), " ").as("kept_text"),
        size(col("__kept")).cast("long").as("n_kept"),
        (size(col("__a")) - size(col("__kept"))).cast("long").as("n_removed"))
  }

  /** Decontamination REWRITE: remove every corpus token covered by a
    * k-gram that appears anywhere in the eval set (the surgical form of
    * [[contaminationStats]] — drop the overlapping passages, keep the
    * rest of the document; docs with no hits pass through untouched).
    *
    * Scale: eval-set grams reduce to distinct 8-byte hashes — benchmark
    * suites are tiny, so the hash set broadcasts and corpus occurrences
    * are filtered map-side; corpus text never shuffles and only affected
    * docs are rewritten. */
  def decontaminateRewrite(corpus: DataFrame, evalSet: DataFrame,
      k: Int = 5, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val base = spread(corpus).select(col(idCol).as("doc_id"),
      split(col(textCol), " ").as("__a"))
    val evalGrams = shingles(evalSet, k, textCol, idCol)
      .select(graft.functions.PolyHash(col("shingle")).as("h")).distinct()
    val hits = gramOccurrences(base, k)
      // without it (sf0.1, 16 KB threshold): SortMergeJoin + 1 Exchange
      .join(broadcast(evalGrams), Seq("h"), "left_semi")
    rewriteWithoutCoverage(base, hits, k)
  }

  /** DuckDB twin of [[decontaminateRewrite]] over the documents table
    * (corpus = `corpusWhere` docs, eval set = `evalWhere` docs). */
  def decontaminateRewriteSql(k: Int, corpusWhere: String,
      evalWhere: String): String = {
    val h = graft.functions.PolyHash.sql("gram", 31L, MinHashP)
    val he = graft.functions.PolyHash.sql("shingle", 31L, MinHashP)
    s"""WITH arr AS (SELECT doc_id, string_split(text, ' ') AS a
       |            FROM documents WHERE $corpusWhere),
       |occ AS (
       |  SELECT doc_id, i AS pos, $h AS h
       |  FROM (SELECT doc_id, a, array_to_string(a[i + 1:i + $k], ' ') AS gram,
       |          i
       |        FROM arr, unnest(range(0, greatest(len(a) - $k + 1, 0))) r(i))),
       |ev AS (
       |  SELECT DISTINCT $he AS h FROM (
       |    SELECT array_to_string(a[i + 1:i + $k], ' ') AS shingle
       |    FROM (SELECT string_split(text, ' ') AS a
       |          FROM documents WHERE $evalWhere) e,
       |      unnest(range(0, greatest(len(a) - $k + 1, 0))) r(i))),
       |rm AS (
       |  SELECT DISTINCT occ.doc_id, occ.pos + u.o AS rm_pos
       |  FROM occ JOIN ev USING (h), unnest(range(0, $k)) u(o)),
       |toks AS (
       |  SELECT doc_id, generate_subscripts(a, 1) - 1 AS pos, unnest(a) AS tok
       |  FROM arr),
       |kept AS (
       |  SELECT t.doc_id, t.pos, t.tok
       |  FROM toks t LEFT JOIN rm ON rm.doc_id = t.doc_id AND rm.rm_pos = t.pos
       |  WHERE rm.doc_id IS NULL),
       |agg AS (
       |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS kept_text,
       |    CAST(count(*) AS BIGINT) AS n_kept
       |  FROM kept GROUP BY 1)
       |SELECT d.doc_id, COALESCE(kk.kept_text, '') AS kept_text,
       |  COALESCE(kk.n_kept, 0) AS n_kept,
       |  CAST(COALESCE(len(string_split(d.text, ' ')), 0) AS BIGINT)
       |    - COALESCE(kk.n_kept, 0) AS n_removed
       |FROM (SELECT doc_id, text FROM documents WHERE $corpusWhere) d
       |LEFT JOIN agg kk USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** DuckDB twin of [[passageDedup]] over the documents table: same
    * tokenization, same PolyHash occurrence keys, same (doc_id, pos)
    * first-occurrence election, same coverage removal. */
  def passageDedupSql(n: Int): String = {
    val h = graft.functions.PolyHash.sql("gram", 31L, MinHashP)
    s"""WITH arr AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
       |occ AS (
       |  SELECT doc_id, i AS pos,
       |    $h AS h
       |  FROM (SELECT doc_id, a, array_to_string(a[i + 1:i + $n], ' ') AS gram,
       |          i
       |        FROM arr, unnest(range(0, greatest(len(a) - $n + 1, 0))) r(i))),
       |ranked AS (
       |  SELECT doc_id, pos,
       |    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
       |    count(*) OVER (PARTITION BY h) AS cnt
       |  FROM occ),
       |rm AS (
       |  SELECT DISTINCT doc_id, pos + u.o AS rm_pos
       |  FROM ranked, unnest(range(0, $n)) u(o)
       |  WHERE cnt > 1 AND rn > 1),
       |toks AS (
       |  SELECT doc_id, generate_subscripts(a, 1) - 1 AS pos, unnest(a) AS tok
       |  FROM arr),
       |kept AS (
       |  SELECT t.doc_id, t.pos, t.tok
       |  FROM toks t LEFT JOIN rm ON rm.doc_id = t.doc_id AND rm.rm_pos = t.pos
       |  WHERE rm.doc_id IS NULL),
       |agg AS (
       |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS kept_text,
       |    CAST(count(*) AS BIGINT) AS n_kept
       |  FROM kept GROUP BY 1)
       |SELECT d.doc_id, COALESCE(k.kept_text, '') AS kept_text,
       |  COALESCE(k.n_kept, 0) AS n_kept,
       |  CAST(COALESCE(len(string_split(d.text, ' ')), 0) AS BIGINT)
       |    - COALESCE(k.n_kept, 0) AS n_removed
       |FROM documents d LEFT JOIN agg k USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** Benchmark decontamination: flag corpus docs sharing any k-gram with
    * an eval set (standard LLM-training hygiene). Inverted-index equi-join
    * on shingles — eval side is small and broadcast; corpus text never
    * shuffles, only (doc_id, shingle) pairs. Returns per-corpus-doc
    * contamination stats (never empty). */
  def contaminationStats(corpus: DataFrame, evalSet: DataFrame, k: Int = 5,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val c = shingles(corpus, k, textCol, idCol)
    val e = shingles(evalSet, k, textCol, idCol)
      .select(col("doc_id").as("eval_id"), col("shingle"))
    // without it (sf0.1, 16 KB threshold): SortMergeJoin + 2 Exchange
    val hits = c.join(broadcast(e), Seq("shingle"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared_shingles"),
        countDistinct(col("eval_id")).as("n_eval_docs_hit"))
    corpus.select(col(idCol).as("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared_shingles"), lit(0L)).as("n_shared_shingles"),
        coalesce(col("n_eval_docs_hit"), lit(0L)).as("n_eval_docs_hit"))
  }

  // ---- MinHash + LSH ----------------------------------------------------
  /** MinHash signature per doc: `numHashes` permutations approximated by
    * (a_i * h + b_i) mod p over xxhash64 shingle hashes (Broder 1997).
    * Coefficients from a seeded RNG — deterministic across runs. One
    * [[graft.functions.MinHashAgg]] buffer instead of `numHashes` separate
    * min-aggregates (whose codegen dominated cold-query time). Returns
    * (doc_id, sig: array<bigint>). */
  /** Seeded hash family (a_i, b_i) — deterministic, and public so the
    * DuckDB oracle can embed the same coefficients. 31-bit prime modulus:
    * h,a < 2^31 keeps h*a+b < 2^62 (no overflow). */
  val MinHashP: Long = graft.functions.PolyHash.P
  def minhashCoefficients(numHashes: Int, seed: Long = 42L): (Array[Long], Array[Long]) = {
    val rng = new scala.util.Random(seed)
    // >>> 1, not math.abs: abs(Long.MinValue) is negative
    val as = Array.fill(numHashes)((rng.nextLong() >>> 1) % (MinHashP - 1) + 1)
    val bs = Array.fill(numHashes)((rng.nextLong() >>> 1) % MinHashP)
    (as, bs)
  }

  def minhashSignatures(df: DataFrame, k: Int = 3, numHashes: Int = 64,
      seed: Long = 42L, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val (as, bs) = minhashCoefficients(numHashes, seed)
    // PolyHash (not xxhash64): engine-portable, so the whole LSH pipeline
    // is DuckDB-oracle-checkable
    shingles(df, k, textCol, idCol)
      .withColumn("h", graft.functions.PolyHash(col("shingle")))
      .groupBy("doc_id")
      .agg(graft.functions.MinHashAgg(col("h"), as, bs, MinHashP).as("sig"))
  }

  /** MinHash-LSH candidate pairs: band the signature, equi-join on
    * (band index, band hash), dedupe. Pairs only — verification against
    * true jaccard is the caller's choice of threshold. */
  def minhashLshCandidates(df: DataFrame, k: Int = 3, numHashes: Int = 64,
      bands: Int = 16, seed: Long = 42L, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sigs = minhashSignatures(df, k, numHashes, seed, textCol, idCol)
    val banded = bandSignatures(sigs, numHashes, bands)
    banded.as("l").join(banded.as("r"), Seq("b", "sig"))
      .filter(col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()
  }

  /** Long-form banding of a signature relation (doc_id, sig array) →
    * (doc_id, b, sig-string): ONE self/two-sided join on (band, sig)
    * replaces a join per band. Band key = the r min-values themselves
    * (joined) — no second hash, so candidate generation stays
    * engine-portable. */
  def bandSignatures(sigs: DataFrame, numHashes: Int,
      bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val bandExprs = (0 until bands).map { b =>
      concat_ws(",",
        (0 until r).map(i => element_at(col("sig"), b * r + i + 1)): _*)
    }
    sigs.select(col("doc_id"), posexplode(array(bandExprs: _*)).as(Seq("b", "sig")))
  }

  // ---- LSH band-plan tuner ------------------------------------------------

  /** Milli fixed-point power: x^n on the [0, 1000] grid with
    * truncation-toward-zero after EVERY multiply — both engines compute
    * positive·positive div 1000 identically, so the whole S-curve is
    * engine-exact (the [[graft.ops.TrainOps.tdz]] discipline applied to
    * the one float formula LSH tuning needs; a libm `pow` here would be
    * the FIXTURES.md last-ulp drift class). Intermediates stay < 10⁶. */
  def fpowMilli(xMilli: Long, n: Int): Long = {
    require(xMilli >= 0L && xMilli <= 1000L, s"xMilli out of [0,1000]: $xMilli")
    require(n >= 1, s"n must be >= 1, got $n")
    var acc = xMilli
    var i = 1
    while (i < n) { acc = acc * xMilli / 1000L; i += 1 }
    acc
  }

  /** Banded-LSH catch probability at similarity s (milli), in milli:
    * p = 1 − (1 − s^r)^b, fixed-point. The classic S-curve (Leskovec/
    * Rajaraman/Ullman, Mining of Massive Datasets §3.4), quantized so
    * the DuckDB twin replays it bit-for-bit. */
  def lshCurveMilli(sMilli: Long, r: Int, b: Int): Long =
    1000L - fpowMilli(1000L - fpowMilli(sMilli, r), b)

  /** LSH band-plan table: every (bands, rows) split of `numHashes`
    * with its fixed-point catch probabilities below/at/above the target
    * similarity; `chosen` marks the plan whose S-curve midpoint sits
    * closest to the target (|p(target) − 500| minimized — the 50% catch
    * point IS the curve threshold; ties break to fewer bands = fewer
    * shuffled band keys). This is the principled version of "bands=16"
    * — at 100 TB the band count is THE recall-vs-candidate-volume
    * lever, so the choice is an oracle-certified table, not folklore.
    * For the engine defaults (k=64, target 0.5) the chosen row is
    * (16, 4) — certifying [[minhashLshCandidates]]'s defaults. */
  def lshBandPlan(spark: SparkSession, numHashes: Int = 64,
      targetMilli: Int = 500): DataFrame = {
    import spark.implicits._
    val (rows, best) = lshBandPlanRows(numHashes, targetMilli)
    rows.map(t => (t._1, t._2, t._3, t._4, t._5, t._6,
        t._1 == best._1))
      .toDF("bands", "r", "p_lo", "p_tgt", "p_hi", "dist", "chosen")
  }

  /** Driver-side body of [[lshBandPlan]] (all divisor rows + the chosen
    * one) — pure, so [[chooseBandPlan]] can feed the candidate entry
    * points without a SparkSession. */
  private def lshBandPlanRows(numHashes: Int, targetMilli: Int)
      : (Seq[(Long, Long, Long, Long, Long, Long)],
         (Long, Long, Long, Long, Long, Long)) = {
    require(numHashes >= 1 && numHashes <= 4096,
      s"numHashes must be in [1, 4096], got $numHashes")
    require(targetMilli >= 0 && targetMilli <= 1000,
      s"targetMilli must be in [0, 1000], got $targetMilli")
    val lo = math.max(0, targetMilli - 200).toLong
    val hi = math.min(1000, targetMilli + 200).toLong
    val rows = (1 to numHashes).filter(numHashes % _ == 0).map { b =>
      val r = numHashes / b
      val pT = lshCurveMilli(targetMilli.toLong, r, b)
      (b.toLong, r.toLong, lshCurveMilli(lo, r, b), pT,
        lshCurveMilli(hi, r, b), math.abs(pT - 500L))
    }
    (rows, rows.minBy(t => (t._6, t._1)))
  }

  /** The tuner's chosen (bands, rows) split for a similarity target —
    * what [[minhashLshCandidatesTuned]] plumbs into banding, closing
    * the r11 "certificate, not a control" gap: a non-0.5 target is one
    * argument, not a code edit. chooseBandPlan(64, 500) == (16, 4), the
    * [[minhashLshCandidates]] defaults (spec-pinned). */
  def chooseBandPlan(numHashes: Int = 64, targetMilli: Int = 500): (Int, Int) = {
    val best = lshBandPlanRows(numHashes, targetMilli)._2
    (best._1.toInt, best._2.toInt)
  }

  /** [[minhashLshCandidates]] with the band count chosen BY THE TUNER
    * for a similarity target, instead of the caller hard-coding bands:
    * at 100 TB the (bands, rows) split is the recall-vs-candidate-
    * volume lever, and this makes the certified choice the actual
    * control path. */
  def minhashLshCandidatesTuned(df: DataFrame, targetMilli: Int,
      k: Int = 3, numHashes: Int = 64, seed: Long = 42L,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    minhashLshCandidates(df, k, numHashes,
      chooseBandPlan(numHashes, targetMilli)._1, seed, textCol, idCol)

  /** DuckDB twin of [[lshBandPlan]]: the fixed-point powers run as
    * RECURSIVE-CTE iterations (rows, not expression nesting — a
    * depth-64 multiply chain unrolled as an expression blows DuckDB's
    * 128-level binder; the pageRankSql iteration discipline instead),
    * one truncating multiply per step in the same order as
    * [[fpowMilli]] — no `pow`, no float, bit-exact. */
  def lshBandPlanSql(numHashes: Int = 64, targetMilli: Int = 500): String = {
    val lo = math.max(0, targetMilli - 200)
    val hi = math.min(1000, targetMilli + 200)
    val planVals = (1 to numHashes).filter(numHashes % _ == 0)
      .map(b => s"($b, ${numHashes / b})").mkString(", ")
    s"""WITH RECURSIVE plans(bands, r) AS (VALUES $planVals),
       |sv(pt, s) AS (VALUES ('lo', $lo), ('tgt', $targetMilli), ('hi', $hi)),
       |g AS (SELECT bands, r, pt, s FROM plans CROSS JOIN sv),
       |p1(bands, r, pt, s, i, acc) AS (
       |  SELECT bands, r, pt, s, 1, s FROM g
       |  UNION ALL
       |  SELECT bands, r, pt, s, i + 1, (acc * s) // 1000
       |  FROM p1 WHERE i < r),
       |sr AS (SELECT bands, r, pt, 1000 - acc AS q FROM p1 WHERE i = r),
       |p2(bands, r, pt, q, i, acc) AS (
       |  SELECT bands, r, pt, q, 1, q FROM sr
       |  UNION ALL
       |  SELECT bands, r, pt, q, i + 1, (acc * q) // 1000
       |  FROM p2 WHERE i < bands),
       |pv AS (SELECT bands, r, pt, 1000 - acc AS p FROM p2 WHERE i = bands),
       |w AS (SELECT bands, r,
       |    max(CASE WHEN pt = 'lo' THEN p END) AS p_lo,
       |    max(CASE WHEN pt = 'tgt' THEN p END) AS p_tgt,
       |    max(CASE WHEN pt = 'hi' THEN p END) AS p_hi
       |  FROM pv GROUP BY 1, 2),
       |d AS (SELECT bands, r, p_lo, p_tgt, p_hi,
       |  abs(p_tgt - 500) AS dist FROM w)
       |SELECT CAST(bands AS BIGINT) AS bands, CAST(r AS BIGINT) AS r,
       |  CAST(p_lo AS BIGINT) AS p_lo, CAST(p_tgt AS BIGINT) AS p_tgt,
       |  CAST(p_hi AS BIGINT) AS p_hi, CAST(dist AS BIGINT) AS dist,
       |  dist = (SELECT min(dist) FROM d) AND
       |  bands = (SELECT min(bands) FROM d
       |           WHERE dist = (SELECT min(dist) FROM d)) AS chosen
       |FROM d""".stripMargin
  }

  // ---- persisted signatures (incremental near-dup) -----------------------
  /** Persist MinHash signatures with their hash-family parameters: the
    * shingle + signature pass over a snapshot is paid ONCE; later batches
    * band-join against the saved relation instead of re-reading the old
    * corpus text. Family params ride in a meta sidecar and are enforced
    * on incremental use (mixing families would silently produce garbage
    * candidates — same refusal contract as the CMS sidecar). */
  def writeSignatures(sigs: DataFrame, path: String, k: Int,
      numHashes: Int, seed: Long): Unit = {
    val spark = sigs.sparkSession
    import spark.implicits._
    // the sidecar must not lie about the family it promises to enforce:
    // signature width is checkable against the relation (one tiny job);
    // k and seed are structurally unrecoverable from the signatures and
    // remain caller-asserted — pass the SAME values used to build them
    sigs.select(size(col("sig")).as("w")).limit(1).collect().foreach { r =>
      require(r.getInt(0) == numHashes,
        s"signature width ${r.getInt(0)} != declared numHashes $numHashes")
    }
    sigs.write.mode("overwrite").parquet(s"$path/data")
    Seq((k, numHashes, seed)).toDF("k", "num_hashes", "seed")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** (signatures, k, numHashes, seed) as written. */
  def readSignatures(spark: org.apache.spark.sql.SparkSession,
      path: String): (DataFrame, Int, Int, Long) = {
    val m = spark.read.parquet(s"$path/meta").collect()(0)
    (spark.read.parquet(s"$path/data"),
      m.getAs[Int]("k"), m.getAs[Int]("num_hashes"), m.getAs[Long]("seed"))
  }

  /** Incremental LSH candidates: pairs touching the NEW batch, against
    * both the saved snapshot signatures and the batch itself. New-batch
    * signatures are computed with the SAVED family (k, numHashes, seed),
    * so signatures stay comparable; the old corpus' text is never read.
    * Returns (doc_a, doc_b) with doc_a < doc_b, at least one side new. */
  def incrementalMinhashCandidates(newBatch: DataFrame, savedPath: String,
      bands: Int = 16, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val spark = newBatch.sparkSession
    val (oldSigs, k, numHashes, seed) = readSignatures(spark, savedPath)
    val newSigs =
      minhashSignatures(newBatch, k, numHashes, seed, textCol, idCol)
    val newBanded = bandSignatures(newSigs, numHashes, bands)
    val allBanded = bandSignatures(oldSigs, numHashes, bands)
      .unionByName(newBanded)
    // two-sided join: left side is new-only, so every pair touches the
    // batch; the old×old quadrant is never generated
    newBanded.as("l").join(allBanded.as("r"), Seq("b", "sig"))
      .filter(col("l.doc_id") =!= col("r.doc_id"))
      .select(least(col("l.doc_id"), col("r.doc_id")).as("doc_a"),
        greatest(col("l.doc_id"), col("r.doc_id")).as("doc_b"))
      .distinct()
  }

  /** MinHash near-dup pairs: LSH candidates verified by true shingle
    * jaccard >= threshold. The full scale pipeline: inverted-index-free
    * candidate generation + in-bucket verification only. */
  def minhashDedupPairs(df: DataFrame, k: Int = 3, numHashes: Int = 64,
      bands: Int = 16, threshold: Double = 0.5, seed: Long = 42L,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val cand = minhashLshCandidates(df, k, numHashes, bands, seed, textCol, idCol)
    val sh = shingles(df, k, textCol, idCol)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingle")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")), Seq("doc_b", "shingle"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
    // no broadcast hint: sizes is corpus-cardinality (would break the
    // driver at scale); the candidate relation is the small side anyway
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")), Seq("doc_b"))
      .withColumn("j", round(col("n_inter").cast("double") /
        (col("na") + col("nb") - col("n_inter")).cast("double"), 6))
      .filter(col("j") >= threshold)
      .select("doc_a", "doc_b", "j")
  }

  /** End-to-end near-dup removal decision — the full pipeline a corpus
    * dedup pass runs: MinHash-LSH candidates → true-jaccard verification
    * ([[minhashDedupPairs]]) → connected components over verified pairs →
    * keep the minimum doc id per duplicate cluster.
    *
    * Returns one row per corpus doc: (doc_id, keep_id, is_kept) where
    * keep_id is the cluster representative (the doc itself when it has no
    * verified near-duplicates). Joining `is_kept` back against the corpus
    * is the actual removal — kept as a flag here so the decision itself is
    * oracle-checkable and the caller controls materialization.
    *
    * Scale: inherits the bucketed candidate generation (no Σdf² term, no
    * all-pairs), and components run on the verified-pair relation, which
    * is near-dup-cluster-sized — orders of magnitude below corpus
    * cardinality. Documents never shuffle; ids and shingle hashes do. */
  def minhashDedupKeep(df: DataFrame, k: Int = 3, numHashes: Int = 64,
      bands: Int = 16, threshold: Double = 0.5, seed: Long = 42L,
      textCol: String = "text", idCol: String = "doc_id",
      maxIter: Int = 64): DataFrame = {
    val pairs = minhashDedupPairs(df, k, numHashes, bands, threshold, seed,
      textCol, idCol).select("doc_a", "doc_b")
    val comp = connectedComponents(pairs, maxIter)
    df.select(col(idCol).as("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("keep_id"),
        (coalesce(col("component"), col("doc_id")) === col("doc_id"))
          .as("is_kept"))
  }

  /** Quality-aware variant of [[minhashDedupKeep]]: the cluster
    * representative is the member with the HIGHEST score (ties to the
    * lower doc id), not the minimum id. This is what production pipelines
    * actually elect — near-dup clusters usually contain one clean
    * original plus boilerplate-wrapped copies, and min-id keeps whichever
    * was crawled first.
    *
    * `score` must be deterministic and engine-portable if the result is
    * oracle-checked (round a class-C value at 6 dp — see FIXTURES.md §6);
    * the default is the rounded [[TextOps.qualityScore]].
    *
    * Scale: same pipeline as minhashDedupKeep plus one `max_by` argmax
    * aggregate on the component key and a join back — a hash aggregate
    * with map-side combine, NO per-group sort window, so a pathological
    * giant cluster costs one combine chain rather than one task's sort. */
  def minhashDedupKeepBest(df: DataFrame, score: Column = null,
      k: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.5, seed: Long = 42L, textCol: String = "text",
      idCol: String = "doc_id", maxIter: Int = 64): DataFrame = {
    val sc = Option(score)
      .getOrElse(round(TextOps.qualityScore(col(textCol)), 6))
    val pairs = minhashDedupPairs(df, k, numHashes, bands, threshold, seed,
      textCol, idCol).select("doc_a", "doc_b")
    val comp = connectedComponents(pairs, maxIter)
    // NULL scores (e.g. null text) coalesce to a sentinel below any real
    // score: they rank last but their rows SURVIVE — without this, an
    // all-null cluster's max(__score) is null, the equality filter drops
    // every member, and the final join violates the one-row-per-doc
    // contract. Same sentinel in the oracle twin.
    val labeled = df.select(col(idCol).as("doc_id"),
        coalesce(sc, lit(-1e308)).as("__score"))
      .join(comp, Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
    // argmax by (score desc, doc_id asc), decomposed into primitive-typed
    // hash aggregates (max_by over a struct ordering falls back to
    // SortAggregate, plan-verified): max score per cluster, then min id
    // among the members attaining it — identical deterministic election
    // (scores are exact rounded class-C values, so equality is exact)
    val best = labeled.groupBy("component").agg(max(col("__score")).as("__bs"))
    val winners = labeled.join(best, Seq("component"))
      .filter(col("__score") === col("__bs"))
      .groupBy("component").agg(min(col("doc_id")).as("keep_id"))
    labeled.join(winners, Seq("component"))
      .select(col("doc_id"), col("keep_id"),
        (col("doc_id") === col("keep_id")).as("is_kept"))
  }

  /** ONE-ARGUMENT tuned end-to-end dedup: [[minhashDedupKeep]] with
    * BOTH knobs the similarity target implies derived together — the
    * banding split from [[chooseBandPlan]] (candidate recall) and the
    * verify threshold = targetMilli / 1000 (candidate acceptance).
    * [[minhashDedupKeepTuned]](df, 500) == the [[minhashDedupKeep]]
    * defaults (spec-pinned); a non-default target shifts bands and
    * threshold in LOCKSTEP, so the caller can no longer tune the
    * S-curve to 0.8 while still verifying at 0.5 (or vice versa) by
    * forgetting one of the two edits. */
  def minhashDedupKeepTuned(df: DataFrame, targetMilli: Int,
      k: Int = 3, numHashes: Int = 64, seed: Long = 42L,
      textCol: String = "text", idCol: String = "doc_id",
      maxIter: Int = 64): DataFrame = {
    require(targetMilli >= 1 && targetMilli <= 1000,
      s"targetMilli must be in [1, 1000], got $targetMilli")
    minhashDedupKeep(df, k, numHashes,
      chooseBandPlan(numHashes, targetMilli)._1,
      targetMilli / 1000.0, seed, textCol, idCol, maxIter)
  }

  /** [[minhashDedupKeepBest]] with the tuner driving both the banding
    * split and the verify threshold — the [[minhashDedupKeepTuned]]
    * contract for the quality-aware election. */
  def minhashDedupKeepBestTuned(df: DataFrame, targetMilli: Int,
      score: Column = null, k: Int = 3, numHashes: Int = 64,
      seed: Long = 42L, textCol: String = "text",
      idCol: String = "doc_id", maxIter: Int = 64): DataFrame = {
    require(targetMilli >= 1 && targetMilli <= 1000,
      s"targetMilli must be in [1, 1000], got $targetMilli")
    minhashDedupKeepBest(df, score, k, numHashes,
      chooseBandPlan(numHashes, targetMilli)._1,
      targetMilli / 1000.0, seed, textCol, idCol, maxIter)
  }

  // ---- SimHash ----------------------------------------------------------
  /** 64-bit SimHash fingerprint over word tokens (Charikar 2002): sum ±1
    * per bit weighted by token hash bits, sign → bit. */
  /** 60-bit portable token hash: bits 0-29 from PolyHash(·,31), bits 30-59
    * from PolyHash(·,131) — both < 2^30, so OR == addition and the DuckDB
    * oracle can rebuild the identical value. Fingerprint bits 60-63 are
    * structurally zero (counters see only -1s there). */
  def simhash64(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val h = shiftleft(graft.functions.PolyHash(col("tok"), 131L), 30)
      .bitwiseOR(graft.functions.PolyHash(col("tok"), 31L))
    spread(df).select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("tok"))
      .withColumn("h", h)
      .groupBy("doc_id")
      .agg(graft.functions.SimHashAgg(col("h")).as("simhash"))
  }

  /** SimHash near-dup candidate pairs: Manku-style multi-table blocking
    * (see [[simhashBlockKeys]]), then verify hamming <= maxHamming via
    * bit_count. */
  def simhashNearDupPairs(df: DataFrame, maxHamming: Int = 3,
      textCol: String = "text", idCol: String = "doc_id",
      nBlocks: Int = 6): DataFrame =
    simhashNearDupPairsFromFp(simhash64(df, textCol, idCol), maxHamming,
      nBlocks)

  /** Blocking keys for hamming <= `maxHamming` search over 64-bit
    * fingerprints (Manku, Jain & Das Sarma, "Detecting Near-Duplicates
    * for Web Crawling", WWW 2007): split the 64 bits into `nBlocks`
    * near-equal blocks; a pair within hamming k differs in at most k
    * blocks, so it agrees EXACTLY on some (nBlocks − k)-subset — one
    * table per C(nBlocks, nBlocks−k) subset, keyed on that subset's bit
    * concatenation, finds every such pair (pigeonhole — exact recall, no
    * probabilistic loss).
    *
    * Why this beats single-block banding at scale: with B single blocks
    * of 64/B bits (the B=nBlocks, k=B−1 corner), uniform fingerprints put
    * ~n/2^(64/B) docs in each bucket and the self-join carries an
    * irreducible ~B·n²/2^(64/B+1) expected candidate term — ~3×10¹³ pairs
    * at n=10⁹ for B=4 — REGARDLESS of how few near-dups exist. Widening
    * keys to (nBlocks−k)·64/nBlocks bits shrinks every bucket by the same
    * exponential: the default (k=3, nBlocks=6) keys on ~32 bits across 20
    * tables, an expected ~20·n²/2³³ ≈ 2×10⁹ candidates at n=10⁹ — linear-
    * ish in practice because real corpora cluster. More blocks → more
    * tables × smaller buckets; nBlocks = maxHamming+1 degenerates to the
    * classic one-block-per-table banding (4 × 16 bits for k=3).
    *
    * Returns (doc_id, simhash, b, sig): table index + that table's key. */
  def simhashBlockKeys(fp: DataFrame, maxHamming: Int = 3,
      nBlocks: Int = 6): DataFrame = {
    require(maxHamming >= 0, s"maxHamming must be >= 0, got $maxHamming")
    require(nBlocks > maxHamming && nBlocks <= 64,
      s"need maxHamming < nBlocks <= 64 for the pigeonhole guarantee, " +
        s"got nBlocks=$nBlocks, maxHamming=$maxHamming")
    val widths = Array.tabulate(nBlocks)(i =>
      64 / nBlocks + (if (i < 64 % nBlocks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    def block(i: Int): Column = {
      val mask = if (widths(i) == 64) -1L else (1L << widths(i)) - 1L
      shiftrightunsigned(col("simhash"), offsets(i)).bitwiseAND(lit(mask))
    }
    val keyCols = (0 until nBlocks).combinations(nBlocks - maxHamming)
      .map(c => c.foldLeft(lit(0L)) { (acc, i) =>
        shiftleft(acc, widths(i)).bitwiseOR(block(i))
      }).toSeq
    fp.select(col("doc_id"), col("simhash"),
      posexplode(array(keyCols: _*)).as(Seq("b", "sig")))
  }

  /** As [[simhashNearDupPairs]] but over an existing (doc_id, simhash)
    * frame — lets callers compute fingerprints once and reuse them. */
  def simhashNearDupPairsFromFp(fp: DataFrame, maxHamming: Int = 3,
      nBlocks: Int = 6): DataFrame = {
    // long form (doc_id, table_idx, key): one self-join finds every pair
    // agreeing on any table's key (any pair with hamming <= k must)
    val banded = simhashBlockKeys(fp, maxHamming, nBlocks)
    banded.as("l").join(banded.as("r"), Seq("b", "sig"))
      .filter(col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
        col("l.simhash").as("fa"), col("r.simhash").as("fb"))
      .distinct()
      .withColumn("hamming", bit_count(col("fa").bitwiseXOR(col("fb"))))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Zero-filled per-doc pair counts: given a symmetric pair relation
    * (doc_a, doc_b), count appearances per doc over the full doc set.
    * Shared by the minhash/simhash candidate queries (and mirrors the
    * join-back shape of jaccardNearDupStats / contaminationStats). */
  def perDocPairCounts(pairs: DataFrame, docs: DataFrame, countCol: String,
      idCol: String = "doc_id"): DataFrame = {
    val sym = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as(countCol))
    docs.select(col(idCol).as("doc_id"))
      .join(sym, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col(countCol), lit(0L)).as(countCol))
  }

  // ---- cluster election -------------------------------------------------
  /** Large-star step (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC 2014): every node connects its strictly LARGER
    * neighbors to the minimum of its closed neighborhood. Output edges are
    * always (larger → smaller). */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy("u").agg(min(col("v")).as("mv"))
      .select(col("u"), least(col("u"), col("mv")).as("m"))
    // no distinct here: duplicates are bounded (≤ one row per sym edge)
    // and the following smallStar's min-aggregations are multiplicity-
    // safe with a distinct output — dropping the dedup saves a full
    // shuffle per round
    sym.join(mins, Seq("u"))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
  }

  /** Small-star step: every node connects its SMALLER-or-equal neighbors
    * (and itself) to the minimum among them — the hub-compression half of
    * the alternation. */
  private def smallStar(e: DataFrame): DataFrame = {
    val dir = e.select(greatest(col("u"), col("v")).as("u"),
      least(col("u"), col("v")).as("v"))
    val mins = dir.groupBy("u").agg(min(col("v")).as("m"))
    val leaves = dir.join(mins, Seq("u"))
      .filter(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
    leaves.unionByName(mins.select(col("u"), col("m").as("v"))).distinct()
  }

  /** Connected components over an undirected pair relation (doc_a, doc_b):
    * the step that turns near-dup PAIRS into dedup CLUSTERS with a
    * canonical (minimum) id per component.
    *
    * Alternating large-star/small-star contraction (Kiveris et al. 2014 —
    * the 100 TB-regime algorithm): each round is two groupBy+join passes
    * over the EDGE relation, and the edge set contracts toward per-
    * component stars in O(log² n) rounds worst case (O(log n) observed;
    * a 10^4-node chain converges in ~7 checkpointed super-rounds of two
    * alternations each — see OpsSpec). Unlike
    * plain min-label propagation there is no O(diameter) term, so
    * adversarial long chains cost the same as bushy clusters.
    *
    * Fixpoint is detected by edge-set equality, after which every
    * non-root node holds exactly one star edge to its component minimum.
    * Throws IllegalStateException when maxIter is exhausted first —
    * silently returning unconverged (wrong) labels would let a caller
    * merge unrelated documents. Returns (doc_id, component) for every
    * node appearing in a pair. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50): DataFrame =
    connectedComponentsImpl(pairs, maxIter)._1

  /** As [[connectedComponents]], also returning the round count (exposed
    * for convergence tests and operational monitoring). */
  def connectedComponentsImpl(pairs: DataFrame, maxIter: Int): (DataFrame, Int) = {
    // materialize the (distinct) pair relation ONCE: both the node set and
    // the contraction loop consume it, and deriving them from raw `pairs`
    // would recompute the full upstream pipeline (for minhashDedupKeep,
    // the whole LSH candidate + verification DAG) a second time for the
    // final label join
    val base = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .distinct().lineageBarrier(eager = false)
    val nodes = base.select(col("u").as("doc_id"))
      .unionByName(base.select(col("v").as("doc_id"))).distinct()
    // fixpoint probe: (count, xor-of-edge-hashes) computed in ONE aggregate
    // per round. Both edge sets are distinct, so equality of the pair ⇒
    // set equality up to an xxhash64 xor collision (~2^-64 per comparison —
    // the same accepted-risk class as [[exactDedup]]'s 8-byte text-hash
    // grouping); bit_xor is order-independent and cannot overflow, unlike
    // a sum under ANSI mode. This replaces the former count + except pair
    // of jobs with a single action per round.
    def probe(d: DataFrame): (Long, Long) = {
      val r = d.agg(count(lit(1)), bit_xor(xxhash64(col("u"), col("v")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    // localCheckpoint each round: iterative DataFrame algorithms otherwise
    // stack N rounds of joins into ONE logical plan — analysis/optimizer
    // memory grows superlinearly and dies long before the data does.
    // eager = false: the probe aggregate is the materialization action, so
    // each round costs exactly one Spark job, not a checkpoint job + a
    // probe job.
    var e = base.filter(col("u") =!= col("v"))
    var converged = false
    var iter = 0
    var prev = probe(e)
    while (!converged && iter < maxIter) {
      val next = smallStar(largeStar(e)).lineageBarrier(eager = false)
      val cur = probe(next)
      converged = cur == prev
      prev = cur
      e = next
      iter += 1
    }
    if (!converged) {
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "raise maxIter (rounds grow ~log(component size))")
    }
    val roots = e.groupBy(col("u")).agg(min(col("v")).as("component"))
      .select(col("u").as("doc_id"), col("component"))
    val labels = nodes.join(roots, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
    (labels, iter)
  }

  // ---- embedding near-dup ----------------------------------------------
  /** Embedding-cosine near-duplicate stats (delegates to SimilarityOps —
    * the all-pairs correctness baseline; use [[embeddingNearDupStatsLsh]]
    * beyond broadcast scale). */
  def embeddingNearDupStats(df: DataFrame, threshold: Double): DataFrame =
    SimilarityOps.nearDupStats(df, threshold)

  /** Scale form: LSH-bucketed candidates + exact verify + zero-fill
    * (delegates to [[SimilarityOps.nearDupStatsLsh]]); stats cover
    * qualifying (sim >= threshold) pairs only. */
  def embeddingNearDupStatsLsh(df: DataFrame, threshold: Double,
      dim: Int): DataFrame =
    SimilarityOps.nearDupStatsLsh(df, threshold, dim)
}
