package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Checkpoints._

/** Training-data curation operators beyond dedup/similarity: sequence
  * packing, domain mixture reweighting, PII scanning/redaction, n-gram
  * repetition metrics, and a hashed-n-gram linear quality classifier.
  *
  * Every operator is relational (joins/windows/aggregates over codegen'd
  * expressions — no UDFs, no driver-side loops) and ships a `...Sql` twin
  * generated from the same constants, so the DuckDB oracle cannot drift
  * from the Spark plan.
  */
object PipelineOps {

  // ---- sequence packing --------------------------------------------------
  /** The auto-appended hash-bucket column [[packSequences]],
    * [[packTokenIds]], and [[graft.ops.BpeOps.tokenizeAndPack]] add to
    * their shard key: `pmod(epochShuffleKey(doc_id), idBuckets)` —
    * engine-portable (the oracle replays it via [[idBucketColSql]]). */
  def idBucketCol(id: Column, idBuckets: Int, seed: Long): Column =
    pmod(epochShuffleKey(id, seed), lit(idBuckets.toLong))

  /** DuckDB twin of [[idBucketCol]] ([[epochShuffleKey]] is in [0, p),
    * so a plain `%` equals pmod). */
  def idBucketColSql(idExpr: String, idBuckets: Int, seed: Long): String =
    s"(${epochShuffleKeySql(seed, idExpr)} % $idBuckets)"

  /** Greedy contiguous token-budget packing: documents are laid out in
    * doc_id order within each shard and cut into sequences of `budget`
    * tokens; a document belongs to the sequence its first token lands
    * in. Returns per-sequence stats.
    *
    * Scale shape — the 100 TB shard contract is ENFORCED, not advised:
    * the running sum is windowed PER SHARD, and each shard's sort lands
    * on ONE reducer, so shard granularity bounds per-task size. A
    * multi-TB (lang, source) domain (the 95%-one-domain web-crawl
    * shape) would otherwise sort on a single task — so by default a
    * deterministic hash bucket of `doc_id` (`id_bucket`, `idBuckets`
    * values, the portable [[epochShuffleKey]]) is AUTO-APPENDED to
    * `shardCols`: every window cell is ~shard/idBuckets regardless of
    * domain skew. This is semantics-preserving for packing quality —
    * sequences never cross shard boundaries by design, so a finer shard
    * only changes which docs share a sequence, never cuts a doc.
    * Token/doc totals are bucket-invariant (spec-pinned). Pass
    * `idBuckets = 1` to opt out EXPLICITLY (demo/oracle scale only). */
  def packSequences(docs: DataFrame, budget: Long = 512L,
      shardCols: Seq[String] = Seq("lang", "source"),
      idBuckets: Int = 64, seed: Long = 42L): DataFrame = {
    require(shardCols.nonEmpty, "packSequences needs >= 1 shard column")
    require(idBuckets >= 1, s"idBuckets must be >= 1, got $idBuckets")
    val fullShard =
      if (idBuckets > 1) shardCols :+ "id_bucket" else shardCols
    val shard = fullShard.map(col)
    val bucketed =
      if (idBuckets > 1)
        docs.withColumn("id_bucket",
          idBucketCol(col("doc_id"), idBuckets, seed))
      else docs
    val w = Window.partitionBy(shard: _*).orderBy("doc_id")
    bucketed.select(shard :+ col("doc_id") :+
        TextOps.tokenCount(col("text")).as("n_tok"): _*)
      .withColumn("start_tok", sum(col("n_tok")).over(w) - col("n_tok"))
      .withColumn("seq_id", expr(s"start_tok div $budget"))
      .groupBy((fullShard :+ "seq_id").map(col): _*)
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
  }

  def packSequencesSql(budget: Long = 512L, idBuckets: Int = 64,
      seed: Long = 42L): String = {
    require(idBuckets >= 1, s"idBuckets must be >= 1, got $idBuckets")
    val bSel = if (idBuckets > 1)
      s",\n    ${idBucketColSql("doc_id", idBuckets, seed)} AS id_bucket"
    else ""
    val b = if (idBuckets > 1) ", id_bucket" else ""
    val grp = if (idBuckets > 1) "1, 2, 3, 4" else "1, 2, 3"
    s"""WITH t AS (
       |  SELECT lang, source, doc_id,
       |    ${TextOps.tokenCountSql("text")} AS n_tok$bSel FROM documents),
       |c AS (
       |  SELECT lang, source$b, n_tok,
       |    CAST(sum(n_tok) OVER (PARTITION BY lang, source$b
       |      ORDER BY doc_id) AS BIGINT) - n_tok AS start_tok
       |  FROM t)
       |SELECT lang, source$b, start_tok // $budget AS seq_id,
       |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
       |FROM c GROUP BY $grp""".stripMargin
  }

  /** Concat-and-chop REAL token ids into fixed-budget training rows —
    * the last mile of the tokenize→train pipeline (what
    * [[packSequences]] only PLANS with its token-count proxy). Within
    * each shard, documents concatenate in doc_id order, each doc's ids
    * followed by ONE `sepId` boundary token (the GPT end-of-text /
    * BERT [SEP] convention); the slot stream is cut every `budget`
    * positions. Emits per sequence: the shard key, `seq_id`, `n_docs`,
    * `n_ids` (slots in this row — every interior row is exactly
    * `budget`; only each shard's last is partial), `input_ids`
    * (space-joined, the [[graft.ops.BpeOps.bertEncode]] id-string
    * convention) and `doc_spans` (space-joined `doc:lo-hi` in-row slot
    * spans, span includes the doc's separator — what loss masking /
    * attention-boundary construction consumes downstream).
    *
    * `docs` is the document relation (shard cols + ids): token-less
    * documents still emit their separator slot, so row accounting
    * matches the corpus. `tok` is any (doc_id, pos, token_id) tokenizer
    * output ([[graft.ops.BpeOps.wordpieceTokenizeBert]],
    * [[graft.ops.BpeOps.tokenize]], ...), `pos` 1-based.
    *
    * Scale shape: the offsets window runs over the DOC-cardinality
    * relation, never tokens, and the [[packSequences]] hash-bucket
    * contract is enforced the same way (`id_bucket` auto-appended,
    * `idBuckets = 1` is the explicit opt-out). Token rows move through
    * two equi-exchanges: the doc_id offsets join and the per-(shard,
    * seq, doc) chunk aggregate; the final assembly groups
    * chunk-cardinality rows only. Nothing collects on the driver.
    * `tok` is consumed TWICE (per-doc counts and slot assembly) — at
    * scale persist it, or the tokenizer plan executes twice (a barrier
    * here was A/B-measured SLOWER at bench scale: the tokenizer's own
    * dictionary scan is already barriered, and materializing the token
    * relation costs more than re-running the cheap remainder). */
  def packTokenIds(docs: DataFrame, tok: DataFrame, budget: Long,
      sepId: Long, shardCols: Seq[String] = Seq("lang", "source"),
      idBuckets: Int = 64, seed: Long = 42L,
      idCol: String = "doc_id", withLabels: Boolean = false): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    require(shardCols.nonEmpty, "packTokenIds needs >= 1 shard column")
    require(idBuckets >= 1, s"idBuckets must be >= 1, got $idBuckets")
    val fullShard =
      if (idBuckets > 1) shardCols :+ "id_bucket" else shardCols
    val shard = fullShard.map(col)
    // materialize the tokenized relation ONCE per invocation: it feeds
    // the per-doc count AND the slot join, and `tok` is typically a
    // whole tokenizer pipeline (dictionary segmentation + corpus join +
    // position window) that would otherwise run once per consumer —
    // with labels the slot relation is additionally self-joined, so the
    // un-barriered plan re-tokenized the corpus up to four times
    // (guide §2.4). Fresh per invocation; rows unchanged.
    val tokP = tok.select(col("doc_id"), col("pos"), col("token_id"))
      .lineageBarrier()
    val nTok = tokP.groupBy("doc_id").agg(count(lit(1)).as("n_tok"))
    val base0 = docs.select(col(idCol).as("doc_id") +: shardCols.map(col): _*)
    val base =
      if (idBuckets > 1)
        base0.withColumn("id_bucket",
          idBucketCol(col("doc_id"), idBuckets, seed))
      else base0
    val w = Window.partitionBy(shard: _*).orderBy("doc_id")
    // the offset relation is docs-sized (one row per doc) and consumed
    // twice (slot join + separator slots); materialize it with measured
    // bytes, so the planner broadcasts it into the slot join while it
    // fits the session's threshold instead of sort-merging the token
    // relation against it
    val off = base.join(nTok, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_tok"))
      .withColumn("start_slot",
        sum(col("n_tok") + 1L).over(w) - (col("n_tok") + 1L))
      .materialize()
    val tokSlots = tokP
      .join(off.select(col("doc_id") +: shard :+ col("start_slot"): _*),
        Seq("doc_id"))
      .select(shard :+ col("doc_id") :+
        (col("start_slot") + col("pos") - 1L).as("gpos") :+
        col("token_id"): _*)
    val sepSlots = off.select(shard :+ col("doc_id") :+
      (col("start_slot") + col("n_tok")).as("gpos") :+
      lit(sepId).as("token_id"): _*)
    // causal-LM labels: the NEXT slot's id across the whole shard
    // stream (docs, separators, and row boundaries included; the
    // shard's last slot gets the -100 ignore index) — an equi-join on
    // gpos+1, not a shard-wide sort; the slot relation is barriered so
    // the self-join reads one materialization instead of re-deriving
    // the whole chain for each side
    val slots0 = {
      val u = tokSlots.unionByName(sepSlots)
      if (withLabels) u.lineageBarrier() else u
    }
    val slotsL =
      if (!withLabels) slots0
      else slots0.join(
        slots0.select(shard :+ (col("gpos") - 1L).as("gpos") :+
          col("token_id").as("next_id"): _*),
        fullShard :+ "gpos", "left")
        .na.fill(-100L, Seq("next_id"))
    val slots = slotsL
      .withColumn("seq_id", expr(s"gpos div ${budget}L"))
      .withColumn("seq_pos", col("gpos") % budget)
    // a doc's slots within a sequence are contiguous (docs are laid out
    // sequentially), so per-(seq, doc) chunks ordered by their first
    // slot reassemble the exact in-sequence order
    val partAggs = Seq(
      array_join(transform(array_sort(collect_list(
          struct(col("seq_pos"), col("token_id")))),
        x => x.getField("token_id").cast("string")), " ").as("part")) ++
      (if (withLabels) Seq(
        array_join(transform(array_sort(collect_list(
            struct(col("seq_pos"), col("next_id")))),
          x => x.getField("next_id").cast("string")), " ").as("lpart"))
      else Nil)
    val chunkAggs = Seq(min(col("seq_pos")).as("lo"),
      max(col("seq_pos")).as("hi"), count(lit(1)).as("n")) ++ partAggs
    val chunks = slots
      .groupBy((fullShard :+ "seq_id" :+ "doc_id").map(col): _*)
      .agg(chunkAggs.head, chunkAggs.tail: _*)
    val finalAggs = Seq(
      count(lit(1)).as("n_docs"), sum(col("n")).as("n_ids"),
      array_join(transform(array_sort(collect_list(
          struct(col("lo"), col("part")))),
        x => x.getField("part")), " ").as("input_ids")) ++
      (if (withLabels) Seq(
        array_join(transform(array_sort(collect_list(
            struct(col("lo"), col("lpart")))),
          x => x.getField("lpart")), " ").as("labels"))
      else Nil) ++
      Seq(array_join(transform(array_sort(collect_list(
          struct(col("lo"), col("doc_id"), col("hi")))),
        x => concat(x.getField("doc_id").cast("string"), lit(":"),
          x.getField("lo").cast("string"), lit("-"),
          x.getField("hi").cast("string"))), " ").as("doc_spans"))
    chunks.groupBy((fullShard :+ "seq_id").map(col): _*)
      .agg(finalAggs.head, finalAggs.tail: _*)
  }

  /** DuckDB twin of [[packTokenIds]]: the tokenized relation's SQL as a
    * CTE (caller-supplied full SELECT, kept out of stripMargin's
    * reach), then the identical slot arithmetic — per-doc counts, the
    * doc-cardinality running sum, div/mod chop, per-(seq, doc) chunk
    * aggregation, ordered reassembly. Integer and string building
    * end to end. */
  def packTokenIdsSql(tokensSql: String, budget: Long, sepId: Long,
      idBuckets: Int = 64, seed: Long = 42L,
      fromSql: String = "documents", withLabels: Boolean = false): String = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    require(idBuckets >= 1, s"idBuckets must be >= 1, got $idBuckets")
    val bSel = if (idBuckets > 1)
      s",\n    ${idBucketColSql("doc_id", idBuckets, seed)} AS id_bucket"
    else ""
    val b = if (idBuckets > 1) ", id_bucket" else ""
    val grpChunks = if (idBuckets > 1) "1, 2, 3, 4, 5" else "1, 2, 3, 4"
    val grpFinal = if (idBuckets > 1) "1, 2, 3, 4" else "1, 2, 3"
    // causal-LM labels: the next slot id across the shard stream,
    // -100 at the shard's last slot — lead over the shard partition
    // (oracle scale; the engine uses the gpos+1 equi-join)
    val nextSel =
      if (withLabels)
        s",\n    COALESCE(lead(token_id) OVER (PARTITION BY lang," +
          s" source$b ORDER BY gpos), -100) AS next_id"
      else ""
    val lpartSel =
      if (withLabels)
        ",\n    string_agg(CAST(next_id AS VARCHAR), ' '" +
          " ORDER BY seq_pos) AS lpart"
      else ""
    val labelsSel =
      if (withLabels) "\n  string_agg(lpart, ' ' ORDER BY lo) AS labels,"
      else ""
    s"WITH pk_tok AS (\n$tokensSql\n),\n" +
      s"""pk_docs AS (
         |  SELECT doc_id, lang, source$bSel FROM $fromSql),
         |pk_nt AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok
         |  FROM pk_tok GROUP BY 1),
         |pk_base AS (
         |  SELECT d.*, COALESCE(n.n_tok, 0) AS n_tok
         |  FROM pk_docs d LEFT JOIN pk_nt n USING (doc_id)),
         |pk_off AS (
         |  SELECT doc_id, lang, source$b, n_tok,
         |    CAST(sum(n_tok + 1) OVER (PARTITION BY lang, source$b
         |      ORDER BY doc_id) AS BIGINT) - (n_tok + 1) AS start_slot
         |  FROM pk_base),
         |pk_slots AS (
         |  SELECT o.lang, o.source$b, t.doc_id,
         |    o.start_slot + t.pos - 1 AS gpos, t.token_id
         |  FROM pk_tok t JOIN pk_off o USING (doc_id)
         |  UNION ALL
         |  SELECT lang, source$b, doc_id, start_slot + n_tok AS gpos,
         |    CAST($sepId AS BIGINT) AS token_id
         |  FROM pk_off),
         |pk_g AS (
         |  SELECT lang, source$b, doc_id,
         |    gpos // $budget AS seq_id, gpos % $budget AS seq_pos,
         |    token_id$nextSel
         |  FROM pk_slots),
         |pk_chunks AS (
         |  SELECT lang, source$b, seq_id, doc_id,
         |    min(seq_pos) AS lo, max(seq_pos) AS hi,
         |    CAST(count(*) AS BIGINT) AS n,
         |    string_agg(CAST(token_id AS VARCHAR), ' ' ORDER BY seq_pos)
         |      AS part$lpartSel
         |  FROM pk_g GROUP BY $grpChunks)
         |SELECT lang, source$b, seq_id,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n) AS BIGINT) AS n_ids,
         |  string_agg(part, ' ' ORDER BY lo) AS input_ids,$labelsSel
         |  string_agg(doc_id || ':' || lo || '-' || hi, ' ' ORDER BY lo)
         |    AS doc_spans
         |FROM pk_chunks GROUP BY $grpFinal""".stripMargin
  }

  // ---- domain mixture reweighting ---------------------------------------
  /** Per-language target mixture for [[domainMixWeights]] — fixed demo
    * targets; production passes trained proportions. Fractions are exact
    * binary doubles where possible to keep the arithmetic portable. */
  val mixTargets: Seq[(String, Double)] =
    Seq("en" -> 0.40625, "de" -> 0.21875, "fr" -> 0.1875,
      "es" -> 0.09375, "zh" -> 0.09375)

  /** Sampling weight per language to reach a target mixture:
    * w = target_frac * total / n_lang (w > 1 → upsample). One tiny
    * aggregate + a broadcast of the target map: no data shuffle beyond the
    * groupBy, scale-free at 100 TB. */
  def domainMixWeights(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val targets = mixTargets.toDF("lang", "target_frac")
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val total = docs.agg(count(lit(1)).as("total"))
    counts.crossJoin(total)
      .join(targets, Seq("lang"))
      .select(col("lang"), col("n_docs"),
        round((col("target_frac") * col("total").cast("double")) /
          col("n_docs").cast("double"), 6).as("weight"))
  }

  /** Temperature-flattened mixture (the multilingual-LM sampling scheme):
    * target share ∝ (observed share)^alpha, alpha ∈ (0, 1] — alpha = 1
    * reproduces the natural distribution, alpha → 0 approaches uniform,
    * upweighting tail domains. No target table needed; the distribution
    * flattens itself. Returns the same (domain, n_docs, weight) surface
    * as [[domainMixWeights]]: weight = target_share · total / n_docs.
    *
    * Scale: two domain-cardinality aggregates + a broadcast cross join —
    * nothing data-sized moves (same shape as domainMixWeights). */
  def temperatureMixWeights(docs: DataFrame, alpha: Double,
      domainCol: String = "lang"): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    val counts = docs.groupBy(domainCol).agg(count(lit(1)).as("n_docs"))
    val total = docs.agg(count(lit(1)).cast("double").as("total"))
    val shares = counts.crossJoin(total)
      .withColumn("__pa", pow(col("n_docs").cast("double") / col("total"),
        lit(alpha)))
    val z = shares.agg(sum(col("__pa")).as("__z"))
    shares.crossJoin(z)
      .select(col(domainCol), col("n_docs"),
        round((col("__pa") / col("__z")) * col("total") /
          col("n_docs").cast("double"), 6).as("weight"))
  }

  /** DuckDB twin of [[temperatureMixWeights]] over documents.lang. */
  def temperatureMixWeightsSql(alpha: Double): String =
    s"""WITH counts AS (
       |  SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
       |tot AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM documents),
       |shares AS (
       |  SELECT lang, n_docs, pow(CAST(n_docs AS DOUBLE) / total, $alpha) AS pa,
       |    total
       |  FROM counts CROSS JOIN tot),
       |z AS (SELECT sum(pa) AS z FROM shares)
       |SELECT lang, n_docs,
       |  round((pa / z) * total / CAST(n_docs AS DOUBLE), 6) AS weight
       |FROM shares CROSS JOIN z""".stripMargin

  def domainMixWeightsSql: String = {
    val vals = mixTargets.map { case (l, f) => s"('$l', $f)" }.mkString(", ")
    s"""WITH targets(lang, target_frac) AS (VALUES $vals),
       |counts AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
       |tot AS (SELECT count(*) AS total FROM documents)
       |SELECT lang, n_docs,
       |  round((target_frac * CAST(total AS DOUBLE)) /
       |    CAST(n_docs AS DOUBLE), 6) AS weight
       |FROM counts CROSS JOIN tot JOIN targets USING (lang)""".stripMargin
  }

  // ---- weight application: deterministic resampling ----------------------
  /** Portable uniform bucket in [0, 1000) from a doc id — overflow-safe
    * (id is reduced mod P before the multiply) and engine-identical.
    * Distinct multiplier per use-site so sampling decisions decorrelate. */
  def idBucket(id: Column, mult: Long): Column =
    pmod(pmod(pmod(id, lit(1000000007L)) * lit(mult), lit(1000000007L)),
      lit(1000L))
  def idBucketSql(id: String, mult: Long): String =
    s"((($id % 1000000007) * $mult) % 1000000007) % 1000"

  /** APPLY mixture weights: emit floor(w) copies of every doc plus one
    * more with probability frac(w), decided by a deterministic hash
    * bucket — upsampling (w > 1) and downsampling (w < 1) in one rule,
    * reproducible across runs and engines. Weights arrive in thousandths
    * (exact integer arithmetic end-to-end). Returns every input column
    * plus `copy_idx` (1-based within a doc's copies). One broadcast join
    * + one explode; no shuffle of the corpus beyond its own scan. */
  def resampleByWeight(docs: DataFrame, weightsMilli: DataFrame): DataFrame = {
    val wk = col("w_milli")
    val copies = expr("w_milli div 1000L") +
      when(idBucket(col("doc_id"), 2246822519L) < pmod(wk, lit(1000L)), 1L)
        .otherwise(0L)
    val passThrough = docs.columns.map(col).toSeq
    // without it (sf0.1): BroadcastHashJoin BuildLeft, the documents broadcast
    docs.join(broadcast(weightsMilli), Seq("lang"))
      .withColumn("__copies", copies)
      .filter(col("__copies") > 0)
      .select(passThrough :+
        explode(sequence(lit(1L), col("__copies"))).as("copy_idx"): _*)
  }

  /** [[domainMixWeights]] in exact thousandths: floor(w·1000 + 0.5) of the
    * same rounded weight both engines compute. */
  def mixWeightsMilli(docs: DataFrame): DataFrame =
    domainMixWeights(docs).select(col("lang"),
      floor(col("weight") * lit(1000.0) + lit(0.5)).cast("long").as("w_milli"))

  def resampleStatsSql: String =
    s"""WITH w AS (${domainMixWeightsSql}),
       |wm AS (SELECT lang, CAST(floor(weight * 1000.0 + 0.5) AS BIGINT) AS w_milli
       |       FROM w),
       |c AS (
       |  SELECT d.lang, d.doc_id,
       |    w_milli // 1000 + (CASE WHEN ${idBucketSql("d.doc_id", 2246822519L)}
       |      < w_milli % 1000 THEN 1 ELSE 0 END) AS copies
       |  FROM documents d JOIN wm USING (lang))
       |SELECT lang, CAST(sum(copies) AS BIGINT) AS n_rows,
       |  CAST(sum(doc_id * copies) AS BIGINT) AS id_digest
       |FROM c GROUP BY 1""".stripMargin

  // ---- deterministic train/val/test split --------------------------------
  /** Hash-bucket dataset split: stable across runs, engines, and corpus
    * growth (a doc's split never changes when other docs are added).
    * `fracsMilli` are cumulative thousandths, e.g. (800, 900) = 80/10/10
    * train/val/test. Pure narrow expression on the scan. */
  def hashSplit(id: Column, trainMilli: Int = 800, valMilli: Int = 900): Column = {
    require(0 < trainMilli && trainMilli <= valMilli && valMilli <= 1000)
    val b = idBucket(id, 3266489917L)
    when(b < trainMilli, "train").when(b < valMilli, "val").otherwise("test")
  }
  def hashSplitSql(id: String, trainMilli: Int = 800, valMilli: Int = 900): String = {
    // same validity contract as the Scala twin — the two must not diverge
    // on invalid arguments (a silent 90/0/10 CASE vs a Spark-side throw)
    require(0 < trainMilli && trainMilli <= valMilli && valMilli <= 1000)
    val b = idBucketSql(id, 3266489917L)
    s"(CASE WHEN $b < $trainMilli THEN 'train' WHEN $b < $valMilli THEN 'val' " +
      s"ELSE 'test' END)"
  }

  // ---- snapshot diff (incremental-pipeline CDC) --------------------------
  /** Classify every document across two corpus snapshots as
    * added / removed / changed / unchanged — the delta an incremental
    * pipeline feeds downstream (re-tokenize changed docs, retire removed
    * ids, dedup-check added ones) instead of reprocessing the corpus.
    *
    * Scale shape: each snapshot reduces ON THE SCAN to (id, 8-byte
    * xxhash64 of content) — document text never reaches the exchange;
    * the full-outer join ships 16-byte rows keyed by id. Hash equality
    * stands in for content equality (same 2⁻⁶⁴ collision contract as
    * [[DedupOps.exactDups]]); the oracle compares raw text and agrees
    * barring a collision. Null content hashes like empty on both sides
    * (Spark xxhash64 skips null inputs), and the oracle's
    * IS NOT DISTINCT FROM matches that: null == null → unchanged. */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val o = oldSnap.select(col(idCol).as("id"), xxhash64(col(textCol)).as("oh"))
    val nw = newSnap.select(col(idCol).as("id"), xxhash64(col(textCol)).as("nh"))
    o.join(nw, Seq("id"), "full_outer")
      .select(col("id").as(idCol),
        when(col("oh").isNull, "added")
          .when(col("nh").isNull, "removed")
          .when(col("oh") === col("nh"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** DuckDB twin of [[snapshotDiff]] over caller-supplied snapshot CTE
    * bodies (each selecting `doc_id, text`). Compares raw text via
    * IS NOT DISTINCT FROM — equal to the engine's hash compare barring
    * a 2⁻⁶⁴ collision. */
  def snapshotDiffSql(oldCte: String, newCte: String): String =
    s"""WITH o AS ($oldCte),
       |n AS ($newCte)
       |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
       |  CASE WHEN o.doc_id IS NULL THEN 'added'
       |       WHEN n.doc_id IS NULL THEN 'removed'
       |       WHEN o.text IS NOT DISTINCT FROM n.text THEN 'unchanged'
       |       ELSE 'changed' END AS status
       |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""".stripMargin

  // ---- incremental aggregate maintenance (materialized-view delta) -------
  /** The per-key materialized aggregate [[maintainAgg]] keeps current:
    * (key, n_rows, sum_m) — the count + one long-sum measure shape that
    * covers corpus dashboards (docs + tokens per source), mixture budgets,
    * and split accounting. One map-side-combined groupBy. */
  def snapshotAgg(snap: DataFrame, keyCol: String, measure: Column): DataFrame =
    snap.groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("n_rows"), sum(measure.cast("long")).as("sum_m"))

  /** CDC change feed between two snapshots, RESTRICTED to rows that can
    * move the (key, measure) aggregate: appeared, disappeared, or changed
    * key/measure. A full text-hash CDC feed is a superset — its extra
    * no-op rows contribute (+x, −x) deltas that cancel exactly in
    * [[maintainAgg]], so feeding either works (tested).
    *
    * Scale shape: each snapshot reduces on the scan to (id, key, measure)
    * — text never reaches the exchange; the full-outer join ships rows
    * keyed by id, and the unchanged majority is filtered before the
    * delta aggregate. */
  def cdcChanges(oldSnap: DataFrame, newSnap: DataFrame, idCol: String,
      keyCol: String, measure: Column): DataFrame = {
    val o = oldSnap.select(col(idCol).as("id"), col(keyCol).as("old_key"),
      measure.cast("long").as("old_m"), lit(true).as("old_present"))
    val nw = newSnap.select(col(idCol).as("id"), col(keyCol).as("new_key"),
      measure.cast("long").as("new_m"), lit(true).as("new_present"))
    o.join(nw, Seq("id"), "full_outer")
      .withColumn("old_present", coalesce(col("old_present"), lit(false)))
      .withColumn("new_present", coalesce(col("new_present"), lit(false)))
      .filter(!(col("old_present") && col("new_present") &&
        (col("old_key") <=> col("new_key")) &&
        (col("old_m") <=> col("new_m"))))
  }

  /** Maintain a materialized per-key aggregate under a CDC delta WITHOUT
    * rescanning the corpus — the materialized-view delta-maintenance
    * pattern (counting algorithm over the self-maintainable count/sum
    * aggregates): every present old side retracts (−1, −m) at its old
    * key, every present new side asserts (+1, +m) at its new key, deltas
    * aggregate per key and add onto the base. Key moves, in-place
    * measure edits, inserts and deletes all fall out of the same two
    * rules; keys whose count reaches zero leave the view; a count going
    * NEGATIVE means the feed disagrees with the base and fails loudly
    * (raise_error), never silently corrupts the view.
    *
    * 100 TB economics: the base is key-cardinality and the delta is
    * change-sized — a daily 0.1% churn touches 0.1% of the data instead
    * of re-aggregating 100 TB. Certified against the full recompute by
    * the driver query `cdc_agg_maintain`. */
  def maintainAgg(base: DataFrame, changes: DataFrame): DataFrame = {
    val neg = changes.filter(col("old_present"))
      .select(col("old_key").as("key"), lit(-1L).as("dn"),
        (-col("old_m")).as("dm"))
    val pos = changes.filter(col("new_present"))
      .select(col("new_key").as("key"), lit(1L).as("dn"),
        col("new_m").as("dm"))
    val delta = neg.unionByName(pos).groupBy("key")
      .agg(sum("dn").as("dn"), sum("dm").as("dm"))
    base.join(delta, Seq("key"), "full_outer")
      .select(col("key"),
        (coalesce(col("n_rows"), lit(0L)) + coalesce(col("dn"), lit(0L)))
          .as("n_rows"),
        (coalesce(col("sum_m"), lit(0L)) + coalesce(col("dm"), lit(0L)))
          .as("sum_m"))
      .select(col("key"),
        when(col("n_rows") < 0L, raise_error(concat(
          lit("maintainAgg: negative row count for key "),
          col("key").cast("string")))).otherwise(col("n_rows")).as("n_rows"),
        col("sum_m"))
      .filter(col("n_rows") > 0L)
  }

  // ---- PII scan / redaction ---------------------------------------------
  // RE2-safe common-subset patterns (no lookaround/backrefs): identical
  // semantics under Java regex (Spark) and RE2 (DuckDB).
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Re = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  val idRunRe = "[0-9]{6,}" // long digit runs (account/SSN-ish ids)

  /** The corpus is digit-free word salad, so PII is INJECTED
    * deterministically from doc_id (same formula on both engines) — the
    * operator under test is the scan/redaction machinery, not the corpus.
    * Replacement order email → ipv4 → idrun is fixed; earlier replacements
    * insert no digits, so later patterns can't match inside them. */
  def withSyntheticPii(text: Column, docId: Column): Column =
    concat(text,
      when(docId % 3 === 0,
        concat(lit(" contact"), docId.cast("string"), lit("@example.com")))
        .otherwise(lit("")),
      when(docId % 5 === 0,
        concat(lit(" from 10."), (docId % 200).cast("string"), lit(".0."),
          (docId % 250).cast("string"))).otherwise(lit("")),
      when(docId % 7 === 0,
        concat(lit(" ref "), lpad(docId.cast("string"), 9, "0")))
        .otherwise(lit("")))

  def withSyntheticPiiSql(text: String, docId: String): String =
    s"$text || " +
      s"(CASE WHEN $docId % 3 = 0 THEN ' contact' || CAST($docId AS VARCHAR) " +
      s"|| '@example.com' ELSE '' END) || " +
      s"(CASE WHEN $docId % 5 = 0 THEN ' from 10.' || CAST($docId % 200 AS VARCHAR) " +
      s"|| '.0.' || CAST($docId % 250 AS VARCHAR) ELSE '' END) || " +
      s"(CASE WHEN $docId % 7 = 0 THEN ' ref ' || lpad(CAST($docId AS VARCHAR), 9, '0') " +
      s"ELSE '' END)"

  /** Per-document PII scan: match counts per pattern class plus the
    * document length after `<PII>` redaction. Each class is counted on the
    * text with the EARLIER classes already redacted (the same email →
    * ipv4 → idrun order as the redaction), so digits inside a matched
    * email are never double-counted as an id run — counts equal the
    * number of replacements each pass performs. Pure narrow expressions
    * over the scan — zero shuffle at any scale. */
  def piiStats(docs: DataFrame): DataFrame = {
    val aug = withSyntheticPii(col("text"), col("doc_id"))
    val afterEmail = regexp_replace(aug, emailRe, "<PII>")
    val afterIp = regexp_replace(afterEmail, ipv4Re, "<PII>")
    val redacted = regexp_replace(afterIp, idRunRe, "<PII>")
    docs.select(col("doc_id"),
      size(regexp_extract_all(aug, lit(emailRe), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(afterEmail, lit(ipv4Re), lit(0))).cast("long").as("n_ips"),
      size(regexp_extract_all(afterIp, lit(idRunRe), lit(0))).cast("long").as("n_ids"),
      length(redacted).cast("long").as("redacted_len"))
  }

  def piiStatsSql: String = {
    val aug = s"(${withSyntheticPiiSql("text", "doc_id")})"
    val afterEmail = s"regexp_replace($aug, '$emailRe', '<PII>', 'g')"
    val afterIp = s"regexp_replace($afterEmail, '$ipv4Re', '<PII>', 'g')"
    val redacted = s"regexp_replace($afterIp, '$idRunRe', '<PII>', 'g')"
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all($aug, '$emailRe')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all($afterEmail, '$ipv4Re')) AS BIGINT) AS n_ips,
       |  CAST(len(regexp_extract_all($afterIp, '$idRunRe')) AS BIGINT) AS n_ids,
       |  CAST(length($redacted) AS BIGINT) AS redacted_len
       |FROM documents""".stripMargin
  }

  // ---- n-gram repetition metrics (Gopher-style) -------------------------
  /** Per-document bigram repetition: duplicate-bigram fraction (by
    * occurrence and by characters) and top-bigram fraction. Bigrams are
    * materialized WITH multiplicity by the native
    * [[graft.functions.WordShingles]] (distinct=false) and aggregated
    * relationally — per-doc group-by, no per-row quadratic HOFs. */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val grams = docs.select(col("doc_id"),
      explode(graft.functions.WordShingles.all(col("text"), 2)).as("gram"))
    val chars = length(col("gram")).cast("long")
    grams.groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum(col("c")).as("n_all"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("max_c"),
        sum(col("c") * chars).as("chars_all"),
        sum(when(col("c") >= 2, col("c") * chars).otherwise(0L)).as("chars_dup"))
      .select(col("doc_id"),
        round(lit(1.0) - col("n_distinct").cast("double") /
          col("n_all").cast("double"), 6).as("dup_bigram_frac"),
        round(col("max_c").cast("double") /
          col("n_all").cast("double"), 6).as("top_bigram_frac"),
        round(col("chars_dup").cast("double") /
          col("chars_all").cast("double"), 6).as("dup_char_frac"))
  }

  def repetitionStatsSql: String =
    s"""WITH g AS (
       |  SELECT doc_id, string_split(text,' ')[pos] || ' ' ||
       |    string_split(text,' ')[pos+1] AS gram
       |  FROM (SELECT doc_id, text,
       |    unnest(range(1, greatest(len(string_split(text,' ')), 1))) AS pos
       |  FROM documents)),
       |pc AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
       |agg AS (
       |  SELECT doc_id,
       |    CAST(sum(c) AS DOUBLE) AS n_all,
       |    CAST(count(*) AS DOUBLE) AS n_distinct,
       |    CAST(max(c) AS DOUBLE) AS max_c,
       |    CAST(sum(c * length(gram)) AS DOUBLE) AS chars_all,
       |    CAST(sum(CASE WHEN c >= 2 THEN c * length(gram) ELSE 0 END)
       |      AS DOUBLE) AS chars_dup
       |  FROM pc GROUP BY 1)
       |SELECT doc_id,
       |  round(1.0 - n_distinct / n_all, 6) AS dup_bigram_frac,
       |  round(max_c / n_all, 6) AS top_bigram_frac,
       |  round(chars_dup / chars_all, 6) AS dup_char_frac
       |FROM agg""".stripMargin

  // ---- per-domain quota capping ------------------------------------------
  /** Keep at most `cap` documents per (lang, source) shard, selected by a
    * deterministic pseudo-random order (portable multiplicative hash of
    * doc_id, doc_id tiebreak) — "cap every domain at N docs" without a true
    * RNG, so reruns and engines agree.
    *
    * Scale shape: one window per shard — rank computation sorts within the
    * shard only (embarrassingly parallel across shards, like packing). For
    * shards so hot the per-shard sort matters, production switches to an
    * approximate rank threshold (sample the hash distribution, filter
    * hash < t) — same keep semantics to within sampling error. */
  def domainCap(docs: DataFrame, cap: Int): DataFrame = {
    // mod BEFORE multiply: doc_id·A overflows Long (ANSI throw) past
    // doc_id ≈ 3.5e9 — ids that large are exactly the 100 TB regime.
    // (doc_id % P) < 2^30 keeps the product < 2^62.
    val ord = pmod(pmod(col("doc_id"), lit(1000000007L)) * lit(2654435761L),
      lit(1000000007L))
    val w = Window.partitionBy("lang", "source").orderBy(ord.asc, col("doc_id").asc)
    docs.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= cap)
      .drop("__rn")
  }

  /** Per-shard stats of the capped corpus (count + id checksum — a
    * hash-checkable digest of exactly WHICH docs were kept). */
  def domainCapStats(docs: DataFrame, cap: Int): DataFrame =
    domainCap(docs, cap).groupBy("lang", "source")
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("kept_id_sum"))

  def domainCapStatsSql(cap: Int): String =
    s"""WITH ranked AS (
       |  SELECT lang, source, doc_id,
       |    row_number() OVER (PARTITION BY lang, source
       |      ORDER BY ((doc_id % 1000000007) * 2654435761) % 1000000007, doc_id) AS rn
       |  FROM documents)
       |SELECT lang, source, count(*) AS n_kept,
       |  CAST(sum(doc_id) AS BIGINT) AS kept_id_sum
       |FROM ranked WHERE rn <= $cap GROUP BY 1, 2""".stripMargin

  // ---- curriculum binning -------------------------------------------------
  /** Score-ordered curriculum bins WITHOUT a global sort: exact
    * interpolated percentile cut points (one tiny aggregate over the
    * score column) broadcast back and compared per row — the
    * scale-correct form of `ntile(n)`, whose global-orderBy window would
    * serialize the corpus through one partition. Bin b ∈ [0, nBins) =
    * number of cut points strictly below the row's score; bins are
    * equal-mass up to score ties.
    *
    * `score` should be rounded (6 dp convention) so the cut comparison is
    * engine-portable; cut points are rounded the same way. The per-row
    * lambda runs over nBins-1 elements only — constant, not data-sized.
    *
    * `exact = true` uses Spark's exact interpolated `percentile` — it
    * buffers every value in the aggregation state, which is what the
    * DuckDB `quantile_cont` oracle computes but is NOT 100 TB-safe. At
    * scale pass `exact = false`: `approx_percentile` (GK sketch, bounded
    * state) computes the cuts with ±accuracy⁻¹ relative-rank error — bin
    * boundaries move slightly, bin semantics (count of cuts below the
    * score) are unchanged.
    *
    * Returns the input plus (score, bin). */
  def curriculumBins(docs: DataFrame, score: Column,
      nBins: Int, exact: Boolean = true): DataFrame = {
    require(nBins >= 2, s"nBins must be >= 2, got $nBins")
    val qs = (1 until nBins).map(_.toDouble / nBins)
    // NULL scores carry no rank: percentile() ignores them when placing
    // cuts, and the bin lambda would silently file them as bin 0 (the
    // worst-quality bin) — exclude them instead, like weightedSample
    // excludes weightless rows
    val scored = docs.withColumn("score", score).filter(col("score").isNotNull)
    val cutAgg =
      if (exact) s"percentile(score, array(${qs.mkString(", ")}))"
      else s"approx_percentile(score, array(${qs.mkString(", ")}), 10000)"
    val cuts = scored
      .agg(expr(cutAgg).as("__c"))
      .select(transform(col("__c"), c => round(c, 6)).as("__c"))
    scored.crossJoin(cuts)
      .withColumn("bin",
        size(filter(col("__c"), c => col("score") > c)).cast("long"))
      .drop("__c")
  }

  /** DuckDB twin of [[curriculumBins]] aggregated per bin over the
    * documents quality score (count + mean score per bin). */
  def curriculumBinsSql(scoreSql: String, nBins: Int): String = {
    val qs = (1 until nBins).map(_.toDouble / nBins).mkString(", ")
    s"""WITH s AS (
       |  SELECT doc_id, $scoreSql AS score FROM documents
       |  WHERE $scoreSql IS NOT NULL),
       |c AS (
       |  SELECT list_transform(quantile_cont(score, [$qs]),
       |    x -> round(x, 6)) AS cuts FROM s)
       |SELECT CAST(len(list_filter(c.cuts, x -> s.score > x)) AS BIGINT)
       |    AS bin,
       |  count(*) AS n_docs, round(avg(s.score), 6) AS avg_score
       |FROM s CROSS JOIN c GROUP BY 1""".stripMargin
  }

  // ---- weighted sampling --------------------------------------------------
  /** Deterministic weighted sampling without replacement per group
    * (Efraimidis–Spirakis 2006 A-ES): rank rows by ln(u)/w descending —
    * u a uniform on (0,1] derived from the same portable integer hash as
    * [[domainCap]] — and keep the top k. Inclusion probability is
    * weight-proportional; the draw is reproducible across runs, retries,
    * and engines (no RNG state). Rows with weight <= 0 are excluded
    * (they have no sampling mass).
    *
    * The key is rounded to 6 dp before ranking with an id tie-break, so
    * last-ulp `ln` differences between libm implementations cannot flip
    * an order (the rounded-score ranking rule used by the ANN/BM25 ops).
    *
    * Scale shape: one window per group, like [[domainCap]] — per-group
    * sorts parallelize across groups; for k ≪ group size, switch the
    * window to a per-partition top-k pre-prune if a group ever dominates
    * a task. */
  def weightedSample(docs: DataFrame, groupCols: Seq[String], k: Int,
      weightCol: String, idCol: String = "doc_id"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val p = 1000000007L
    // mod BEFORE multiply (Long-overflow-safe past 3.5e9 ids, see domainCap)
    val u = (pmod(pmod(col(idCol), lit(p)) * lit(2654435761L), lit(p)) +
      lit(1L)).cast("double") / lit((p + 1).toDouble)
    val key = round(log(u) / col(weightCol).cast("double"), 6)
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(key.desc, col(idCol).asc)
    // NaN weight passes `> 0` under Spark's NaN-is-largest ordering and
    // its NaN key would then rank FIRST in every group — exclude it with
    // the weightless rows
    docs.filter(col(weightCol) > 0 && !isnan(col(weightCol).cast("double")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** DuckDB twin of [[weightedSample]] over the documents table (same
    * hash, same key rounding, same tie-break). Edge parity with the Spark
    * form, not just the fixture: NaN weights are excluded explicitly
    * (DuckDB also orders NaN largest, so a NaN-weight row would otherwise
    * win every group), and the modulus is non-negative like Spark's pmod
    * (plain % on a negative doc_id yields a non-positive ln() argument). */
  def weightedSampleSql(groupCols: Seq[String], k: Int,
      weightCol: String): String = {
    val g = groupCols.mkString(", ")
    // ((x % p) + p) % p == Spark pmod; applied before AND after the
    // multiply, exactly like the Spark column expression
    val u = "((((((doc_id % 1000000007) + 1000000007) % 1000000007)" +
      " * 2654435761) % 1000000007 + 1000000007) % 1000000007 + 1)"
    s"""SELECT $g, doc_id, $weightCol FROM (
       |  SELECT $g, doc_id, $weightCol,
       |    row_number() OVER (PARTITION BY $g ORDER BY
       |      round(ln($u / 1000000008.0)
       |        / CAST($weightCol AS DOUBLE), 6) DESC,
       |      doc_id) AS rn
       |  FROM documents
       |  WHERE $weightCol > 0 AND NOT isnan(CAST($weightCol AS DOUBLE)))
       |WHERE rn <= $k""".stripMargin
  }

  // ---- deterministic epoch shuffle -----------------------------------------
  /** Per-epoch corpus shuffle key: a seeded multiplicative hash over the
    * doc id (the same portable integer family as [[weightedSample]] /
    * [[domainCap]], so the DuckDB twin reproduces it bit-for-bit).
    * `ORDER BY (shuffle_key, doc_id)` is the epoch order; a new seed is a
    * new permutation. The modulus is the Mersenne prime 2⁶¹−1, so the key
    * is a bijection (multiplication by a unit mod the prime) over the
    * whole id range any real corpus reaches — collisions, and hence the
    * id tie-break, only matter past 2.3×10¹⁸ docs.
    *
    * Portability: `(id+seed) % p * m` reaches 2¹²⁴, past 64-bit — both
    * engines compute it in wide integers (Spark `Decimal(38,0)`, DuckDB
    * `HUGEINT`) and cast the reduced value (< 2⁶¹) back to long. The
    * decimal math is one codegen'd projection per row, off the hot path
    * of any aggregate.
    *
    * Scale: the key is one narrow codegen'd projection. Do NOT materialize
    * a global row_number position at scale — a total order is a range
    * exchange + sort (fine, Spark's distributed sort), but training ingest
    * only needs `repartitionByRange(shuffle_key) +
    * sortWithinPartitions(shuffle_key, id)`: reader-order equals epoch
    * order without any single-task stage. */
  /** Mersenne prime 2⁶¹−1: modulus of [[epochShuffleKey]]. */
  final val ShufflePrime = 2305843009213693951L
  /** Multiplier (Knuth's 64-bit LCG constant); any value ≢ 0 (mod p) is a
    * unit, so the map id ↦ id·m mod p is a bijection on [0, p). */
  final val ShuffleMult = 6364136223846793005L
  /** The seeded portable hash shared by [[epochShuffle]] and
    * [[tokenBudgetMix]] — ONE definition so the family can never drift
    * between the two (the SQL twins both derive from
    * [[epochShuffleKeySql]]). */
  def epochShuffleKey(id: Column, seed: Long): Column = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val p = lit(ShufflePrime).cast(dec)
    pmod(pmod(id.cast(dec) + lit(seed).cast(dec), p) * lit(ShuffleMult).cast(dec), p)
      .cast(org.apache.spark.sql.types.LongType)
  }

  def epochShuffle(docs: DataFrame, seed: Long,
      idCol: String = "doc_id"): DataFrame =
    docs.withColumn("shuffle_key", epochShuffleKey(col(idCol), seed))

  /** DuckDB twin of [[epochShuffle]]'s key for the documents table.
    * HUGEINT (128-bit) arithmetic mirrors Spark's Decimal(38,0). */
  def epochShuffleKeySql(seed: Long, idExpr: String = "doc_id"): String =
    s"CAST(((($idExpr::HUGEINT + $seed) % $ShufflePrime + $ShufflePrime)" +
      s" % $ShufflePrime * $ShuffleMult) % $ShufflePrime AS BIGINT)"

  // ---- token-budget mixture assembly ---------------------------------------
  /** Assemble a training mixture to a TOKEN budget: per group (domain /
    * language), documents are taken in a seeded deterministic
    * pseudo-random order until the group's token target is reached —
    * "sample a 10B-token mixture at these domain shares" as one
    * relational pass. A document is kept while the tokens accumulated
    * BEFORE it are under the target (so the crossing doc is included and
    * every non-empty target yields at least one doc).
    *
    * `targets` maps group value → token target; groups absent from the
    * map contribute nothing. Deterministic and engine-portable: the
    * order key is the [[epochShuffle]] hash, token counts are exact ints.
    *
    * Scale: a cumulative sum over a whole domain must NOT be one window
    * partition per domain (a web-scale "en" domain is billions of rows
    * sorted in a single task). Instead, a two-phase bucketed prefix sum:
    * the shuffle key's range [0, p) is cut into `buckets` contiguous
    * intervals, so bucket order IS key order and
    * `global_prefix(row) = offset(bucket) + prefix_within_bucket(row)`
    * exactly. Phase 1 hash-aggregates per-(group, bucket) token totals
    * (output: |domains|·buckets rows); their per-group running sum is the
    * bucket offset. Phase 2 windows only WITHIN (group, bucket) — key
    * uniformity makes buckets ~equal-sized regardless of domain skew, so
    * per-task work is corpus/buckets, flat in the domain distribution.
    * The offsets relation is broadcast back. The narrow (id, group,
    * n_tok, key) projection is evaluated in both phases; at 100 TB
    * persist it (or accept two pruned scans — it is 4 columns wide).
    * The targets map is a broadcast literal relation. */
  def tokenBudgetMix(docs: DataFrame, targets: Map[String, Long],
      groupCol: String = "lang", seed: Long = 42L,
      idCol: String = "doc_id", textCol: String = "text",
      buckets: Int = 64): DataFrame = {
    require(targets.nonEmpty, "tokenBudgetMix needs at least one target")
    require(targets.values.forall(_ >= 0), s"negative token target: $targets")
    require(buckets > 0, s"buckets must be positive: $buckets")
    val spark = docs.sparkSession
    import spark.implicits._
    val t = targets.toSeq.toDF(groupCol, "__target")
    // ceil(p / buckets) so every key lands in [0, buckets)
    val width = ShufflePrime / buckets + 1
    val base = docs.select(col(idCol), col(groupCol),
        TextOps.tokenCount(col(textCol)).as("n_tok"),
        epochShuffleKey(col(idCol), seed).as("__k"))
      .join(t, Seq(groupCol))
      .withColumn("__b", expr(s"__k DIV ${width}L"))
    val wOff = Window.partitionBy(groupCol).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy(col(groupCol), col("__b"))
      .agg(sum(col("n_tok")).as("__btok"))
      .withColumn("__off", coalesce(sum(col("__btok")).over(wOff), lit(0L)))
      .select(col(groupCol), col("__b"), col("__off"))
    val wIn = Window.partitionBy(col(groupCol), col("__b"))
      .orderBy(col("__k"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    // without it (sf0.1): SortMergeJoin + 1 Exchange
    base.join(broadcast(offsets), Seq(groupCol, "__b"))
      .withColumn("__before",
        col("__off") + coalesce(sum(col("n_tok")).over(wIn), lit(0L)))
      .filter(col("__before") < col("__target"))
      .select(col(idCol), col(groupCol), col("n_tok"))
  }

  /** DuckDB twin of [[tokenBudgetMix]] over the documents table. */
  def tokenBudgetMixSql(targets: Map[String, Long], groupCol: String = "lang",
      seed: Long = 42L): String = {
    val vals = targets.toSeq.sortBy(_._1)
      .map { case (g, t) => s"('${g.replace("'", "''")}', ${t}::BIGINT)" }
      .mkString(", ")
    val k = epochShuffleKeySql(seed)
    s"""WITH tg($groupCol, target) AS (VALUES $vals),
       |d AS (
       |  SELECT doc_id, $groupCol, ${TextOps.tokenCountSql("text")} AS n_tok,
       |    $k AS k
       |  FROM documents JOIN tg USING ($groupCol)),
       |c AS (
       |  SELECT doc_id, $groupCol, n_tok,
       |    COALESCE(sum(n_tok) OVER (PARTITION BY $groupCol ORDER BY k, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
       |  FROM d)
       |SELECT c.doc_id, c.$groupCol, CAST(c.n_tok AS BIGINT) AS n_tok
       |FROM c JOIN tg USING ($groupCol)
       |WHERE c.bef < tg.target
       |ORDER BY c.$groupCol, c.doc_id""".stripMargin
  }

  // ---- context-window chunking -------------------------------------------
  /** Fixed window/stride chunk spans per document (the chunking step that
    * feeds context-window training): chunk i covers tokens
    * [i·stride, i·stride + window); the last chunk is the first one whose
    * span reaches the end. Pure integer arithmetic + one explode — narrow,
    * zero shuffle, the chunk table is produced directly on the scan. */
  def chunkSpans(docs: DataFrame, window: Int = 128, stride: Int = 96): DataFrame = {
    require(window >= stride && stride > 0,
      "need window >= stride > 0 for gapless coverage")
    docs.select(col("doc_id"), TextOps.tokenCount(col("text")).as("n_tok"))
      .withColumn("n_chunks",
        lit(1L) + expr(s"(greatest(n_tok - $window, 0L) + ${stride - 1}L) div ${stride}L"))
      .select(col("doc_id"), col("n_tok"),
        explode(sequence(lit(0L), col("n_chunks") - 1L)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        (col("chunk_idx") * lit(stride.toLong)).as("start_tok"),
        least(lit(window.toLong),
          col("n_tok") - col("chunk_idx") * lit(stride.toLong)).as("chunk_len"))
  }

  def chunkSpansSql(window: Int = 128, stride: Int = 96): String =
    s"""WITH t AS (
       |  SELECT doc_id, ${TextOps.tokenCountSql("text")} AS n_tok FROM documents),
       |c AS (
       |  SELECT doc_id, n_tok,
       |    1 + (greatest(n_tok - $window, 0) + ${stride - 1}) // $stride AS n_chunks
       |  FROM t),
       |x AS (SELECT doc_id, n_tok, unnest(range(0, n_chunks)) AS chunk_idx FROM c)
       |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |  CAST(chunk_idx * $stride AS BIGINT) AS start_tok,
       |  CAST(least($window, n_tok - chunk_idx * $stride) AS BIGINT) AS chunk_len
       |FROM x""".stripMargin

  // ---- end-to-end curation pipeline -------------------------------------
  /** Minimum classifier score a kept document needs (see
    * [[classifierScore]] — scores live in (-1, 1)). */
  val scoreFloor: Double = -0.2

  /** The composed curation decision — what an LLM-data user actually runs:
    * language-ID, Gopher quality gate, exact-dup election, classifier
    * score, one keep flag with all reasons visible.
    *
    * Exact-dup election here groups on (fingerprint, xxhash64(text)) —
    * still only small fixed-width keys shuffle (the scale invariant of
    * the dedup module), but the combined ~94-bit key keeps birthday
    * collisions negligible at corpus scale. The engine-portable PolyHash
    * fingerprint alone is ~30 bits: past ~3×10^4 documents distinct texts
    * start colliding and would be falsely dropped as exact dups. The
    * oracle mirrors the election by grouping on (fp, text) — equivalent,
    * since within a fingerprint group the 64-bit hash only separates
    * genuinely different texts (xxhash64 collisions inside a ~tiny fp
    * group are ~|group|²/2^65). The narrow per-doc signals fuse into the
    * scan; the only shuffles are the election group-by and the
    * classifier's token aggregation. */
  def curationPipeline(docs: DataFrame): DataFrame = {
    val fp = TextOps.fingerprint(col("text"), maxLen = 1000000)
    val withFp = docs.select(col("doc_id"), col("text"), fp.as("fp"),
      xxhash64(col("text")).as("__th"))
    val mins = withFp.groupBy("fp", "__th").agg(min(col("doc_id")).as("keep_id"))
    val clf = classifierScore(docs)
    val keepGopher = TextOps.gopherKeep(col("text"))
    withFp.join(mins, Seq("fp", "__th"))
      .join(clf, Seq("doc_id"))
      .select(col("doc_id"),
        TextOps.langId(col("text")).as("lang_pred"),
        keepGopher.as("keep_gopher"),
        (col("doc_id") =!= col("keep_id")).as("is_exact_dup"),
        col("score"),
        (keepGopher && col("doc_id") === col("keep_id") &&
          col("score") > lit(scoreFloor)).as("keep"))
  }

  def curationPipelineSql: String =
    s"""WITH clf AS (${classifierScoreSql}),
       |fps AS (SELECT doc_id, text, ${TextOps.fingerprintSql("text", 1000000)} AS fp
       |        FROM documents),
       |mins AS (SELECT fp, text, min(doc_id) AS keep_id FROM fps GROUP BY 1, 2)
       |SELECT d.doc_id,
       |  ${TextOps.langIdSql("d.text")} AS lang_pred,
       |  ${TextOps.gopherKeepSql("d.text")} AS keep_gopher,
       |  (d.doc_id <> m.keep_id) AS is_exact_dup,
       |  c.score,
       |  (${TextOps.gopherKeepSql("d.text")} AND d.doc_id = m.keep_id
       |    AND c.score > $scoreFloor) AS keep
       |FROM documents d
       |JOIN fps f USING (doc_id)
       |JOIN mins m ON m.fp = f.fp AND m.text = f.text
       |JOIN clf c USING (doc_id)""".stripMargin

  // ---- hashed-n-gram linear quality classifier --------------------------
  /** fastText-style linear scorer with hashed token features: weight of a
    * token = deterministic pseudo-random in [-1000, 1000] derived from its
    * PolyHash (no trained table needed for the demo; production swaps in a
    * broadcast weight array, same plan). Score = squash(mean weight /
    * 1000) with the rational squash x/(1+|x|) — engine-portable (no
    * transcendental libm calls whose last ulp differs across engines). */
  def classifierScore(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("tok"))
    val x = col("s").cast("double") / (lit(1000.0) * col("n").cast("double"))
    tok.select(col("doc_id"),
        (pmod(graft.functions.PolyHash(col("tok")) * lit(2654435761L),
          lit(2001L)) - lit(1000L)).as("w"))
      .groupBy("doc_id").agg(sum(col("w")).as("s"), count(lit(1)).as("n"))
      .select(col("doc_id"), round(x / (lit(1.0) + abs(x)), 6).as("score"))
  }

  def classifierScoreSql: String = {
    val poly = graft.functions.PolyHash.sql("tok")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |w AS (SELECT doc_id, ($poly * 2654435761) % 2001 - 1000 AS w FROM tok),
       |agg AS (SELECT doc_id, CAST(sum(w) AS DOUBLE) AS s,
       |        CAST(count(*) AS DOUBLE) AS n FROM w GROUP BY 1)
       |SELECT doc_id, round((s / (1000.0 * n)) /
       |  (1.0 + abs(s / (1000.0 * n))), 6) AS score
       |FROM agg""".stripMargin
  }

  // ---- trained-weight classifier (production form) -----------------------
  /** Trained-weight variant of [[classifierScore]]: weights come from a
    * caller-supplied `(token, w_milli)` table (a real fastText-style
    * filter's trained vocabulary, milli-units in [-1000, 1000]) instead of
    * the hash-derived demo weights. Same plan shape: token explode →
    * BROADCAST join against the weight table (trained vocabularies are
    * 10^4-10^6 rows — driver-sized at any corpus scale) → per-doc mean →
    * rational squash. Out-of-vocabulary tokens contribute weight 0 but
    * still count in the denominator (fastText averages over all tokens
    * with OOV as the zero vector). */
  def classifierScoreTrained(docs: DataFrame, weights: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val x = col("s").cast("double") / (lit(1000.0) * col("n").cast("double"))
    // without it (sf0.1, 64 B threshold, a caller's table): SortMergeJoin + 2 Exchange
    tok.join(broadcast(weights), tok("tok") === weights("token"), "left")
      .select(col("doc_id"), coalesce(col("w_milli"), lit(0L)).as("w"))
      .groupBy("doc_id").agg(sum(col("w")).as("s"), count(lit(1)).as("n"))
      .select(col("doc_id"), round(x / (lit(1.0) + abs(x)), 6).as("score"))
  }

  /** Seeded demo "trained" vocabulary: the language-marker stopwords with
    * deterministic pseudo-weights (PolyHash-derived, same affine mix as the
    * demo classifier — product stays < 2^62, ANSI-safe). Public so the
    * DuckDB oracle embeds the identical rows as VALUES; production swaps
    * in real trained weights with no plan change. */
  def demoTrainedVocab: Seq[(String, Long)] =
    TextOps.langMarkers.flatMap(_._2).map { t =>
      t -> ((graft.functions.PolyHash.hash(t, 31L) * 2654435761L) % 2001L - 1000L)
    }

  def demoTrainedWeights(spark: SparkSession): DataFrame = {
    import spark.implicits._
    demoTrainedVocab.toDF("token", "w_milli")
  }

  def classifierScoreTrainedSql: String = {
    val vals = demoTrainedVocab.map { case (t, w) => s"('$t', $w)" }.mkString(", ")
    s"""WITH w(token, w_milli) AS (VALUES $vals),
       |tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |j AS (SELECT doc_id, coalesce(w_milli, 0) AS wt
       |      FROM tok LEFT JOIN w ON tok = token),
       |agg AS (SELECT doc_id, CAST(sum(wt) AS DOUBLE) AS s,
       |        CAST(count(*) AS DOUBLE) AS n FROM j GROUP BY 1)
       |SELECT doc_id, round((s / (1000.0 * n)) /
       |  (1.0 + abs(s / (1000.0 * n))), 6) AS score
       |FROM agg""".stripMargin
  }

  // ---- deterministic training-shard export ---------------------------------
  /** Export a corpus as deterministic training shards — the SINK the
    * rest of this package feeds: trainer workers read disjoint shard
    * directories; a re-run of the export (any input partitioning, any
    * cluster size) produces bit-identical shard membership and order, so
    * a resumed job or a second cluster sees the same byte stream.
    *
    *  - shard = shuffle_key mod nShards, with the key the seeded
    *    [[epochShuffleKey]] bijection — balanced by the hash, stable
    *    under corpus growth (a doc's shard never depends on other docs);
    *  - within-shard order = (shuffle_key, id) — the epoch order,
    *    written via repartition-on-shard + sortWithinPartitions (no
    *    global row_number; one task per shard);
    *  - `_manifest` records per-shard row counts and an ORDER-INDEPENDENT
    *    content fingerprint (decimal sum of per-row id hashes), so
    *    completeness is checkable without re-reading in order.
    *
    * 100 TB shape: one narrow projection + one shuffle on the shard id;
    * shard directories are parquet partitions, so a per-shard read
    * prunes to one directory ([[readTrainingShard]]). `nShards` should
    * be >> max-skew tolerance at real scale (it is the write
    * parallelism); hash sharding keeps sizes within a few percent. */
  def writeTrainingShards(docs: DataFrame, path: String, nShards: Int,
      seed: Long, idCol: String = "doc_id"): Unit = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val keyed = docs
      .withColumn("__key", epochShuffleKey(col(idCol), seed))
      .withColumn("shard", pmod(col("__key"), lit(nShards.toLong)))
    keyed.repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("__key"), col(idCol))
      .write.mode("overwrite").partitionBy("shard").parquet(s"$path/data")
    val spark = docs.sparkSession
    keyed.groupBy("shard").agg(
        count(lit(1)).as("n_rows"),
        sum(xxhash64(col(idCol)).cast("decimal(38,0)")).as("fingerprint"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_manifest")
    // seed + shard count ride with the data so a reader never guesses
    import spark.implicits._
    Seq((seed, nShards)).toDF("seed", "n_shards")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_meta")
  }

  /** Read one shard (directory-pruned) or the whole export. The shard
    * column is a parquet partition key, so the filter prunes at listing
    * time — a trainer worker touches exactly its own files. */
  def readTrainingShard(spark: SparkSession, path: String,
      shard: Option[Int] = None): DataFrame = {
    val all = spark.read.parquet(s"$path/data")
    shard.map(s => all.filter(col("shard") === s)).getOrElse(all)
  }

  /** Recompute the manifest from the written data and compare — the
    * completeness check a resumed pipeline runs before training. Throws
    * with the offending shards on any mismatch. */
  def validateTrainingShards(spark: SparkSession, path: String,
      idCol: String = "doc_id"): Unit = {
    val got = spark.read.parquet(s"$path/data").groupBy("shard").agg(
        count(lit(1)).as("n_rows"),
        sum(xxhash64(col(idCol)).cast("decimal(38,0)")).as("fingerprint"))
    val want = spark.read.parquet(s"$path/_manifest")
    val bad = want.as("w").join(got.as("g"), Seq("shard"), "full")
      .filter(!(col("w.n_rows") <=> col("g.n_rows")) ||
        !(col("w.fingerprint") <=> col("g.fingerprint")))
      .select("shard").collect().map(_.get(0)).toSeq
    require(bad.isEmpty, s"training-shard manifest mismatch on shards: " +
      bad.mkString(", "))
  }

  /** SCD2 (slowly-changing-dimension type 2) history from a snapshot
    * stream: given one row per (key, snapshot) where the key exists,
    * collapse consecutive snapshots with an unchanged value into
    * validity intervals — the warehouse-standard "what did this row say
    * WHEN" table that downstream time-travel joins consume. A run
    * breaks when the value changes OR the key skips a snapshot
    * (deletion-and-return produces two intervals, not one lie of
    * continuity); `is_current` marks intervals reaching `maxSnap`
    * (supplied by the caller — the latest ingested snapshot id; absent
    * keys' last intervals correctly read as closed).
    *
    * 100 TB shape: one key-partitioned window (lag) + one grouped
    * aggregate over the same partitioning — Catalyst reuses the single
    * key exchange; no self-join of history against itself, no
    * driver-side timeline walk. Snapshot ids are the interval algebra
    * (integers, not timestamps): exact, gap-detectable, and
    * engine-portable. */
  def scd2(history: DataFrame, keyCol: String, valCol: String,
      snapCol: String, maxSnap: Long): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(snapCol)
    val runs = history
      .withColumn("__chg",
        (lag(col(valCol), 1).over(w).isNull ||
          lag(col(valCol), 1).over(w) =!= col(valCol) ||
          lag(col(snapCol), 1).over(w) =!= col(snapCol) - 1).cast("long"))
      .withColumn("__run", sum(col("__chg")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    runs.groupBy(col(keyCol), col("__run"), col(valCol))
      .agg(min(col(snapCol)).as("valid_from"),
        max(col(snapCol)).as("valid_to"))
      .select(col(keyCol), col(valCol),
        col("valid_from"), col("valid_to"),
        (col("valid_to") === maxSnap).as("is_current"))
  }

  /** DuckDB twin of [[scd2]] over a `(key, val, snap)` CTE. */
  def scd2Sql(relCte: String, keyCol: String, valCol: String,
      snapCol: String, maxSnap: Long): String =
    s"""WITH rel AS ($relCte),
       |marked AS (
       |  SELECT *, CASE WHEN lag($valCol) OVER w IS NULL
       |      OR lag($valCol) OVER w <> $valCol
       |      OR lag($snapCol) OVER w <> $snapCol - 1
       |    THEN 1 ELSE 0 END AS chg
       |  FROM rel WINDOW w AS (PARTITION BY $keyCol ORDER BY $snapCol)),
       |runs AS (
       |  SELECT *, sum(chg) OVER (PARTITION BY $keyCol ORDER BY $snapCol
       |    ROWS UNBOUNDED PRECEDING) AS run FROM marked)
       |SELECT $keyCol, $valCol,
       |  min($snapCol) AS valid_from, max($snapCol) AS valid_to,
       |  max($snapCol) = $maxSnap AS is_current
       |FROM runs GROUP BY $keyCol, run, $valCol""".stripMargin

  /** Cross-group quantile normalization: map each row's WITHIN-group
    * midrank quantile onto the GLOBAL score distribution — the
    * standard fix when per-source quality scores aren't calibrated
    * against each other (a 0.7 from a news-domain classifier and a
    * 0.7 from a code-domain one are different animals; after quantile
    * normalization a single corpus-wide threshold means the same
    * selectivity in every source). The map is pure order statistics:
    *
    *   k = ceil( ((2·rn − 1) / (2·n_g)) · N )    (midrank → global rank)
    *   norm = the global score of rank k
    *
    * computed exactly throughout ((2rn−1)·N rides DECIMAL(38,0), the
    * integral divide lands back in BIGINT — engine-exact at any N;
    * scores themselves copy unchanged), under the (score, tie) total
    * order on both the group and global sides — fully deterministic
    * and hash-certifiable.
    *
    * EVERY rank is computed in GRID form — no global (or whole-group)
    * sort anywhere: rows get a monotone range bucket from the
    * deterministic sketch boundaries
    * ([[graft.ops.LayoutOps.rangeBucketOf]] over score), ordered
    * windows run within (grp, bucket) / (bucket), and the offsets are
    * prefix sums over the bounded bucket-totals relations — the
    * [[tokenBudgetMix]] two-phase pattern pointed at value order.
    * Equal scores share a bucket and the bucketing is monotone in
    * score, so each composed rank is BIT-IDENTICAL to its global
    * window (spec-pinned) with no single-task straggler; per-bucket
    * load is balanced to the sketch's O(1/√k) sample error (a single
    * score value carrying a macroscopic share of all rows still
    * concentrates — ties cannot be split across buckets by
    * construction). */
  def quantileNormalize(df: DataFrame, groupCol: String, scoreCol: String,
      tieCol: String, buckets: Int = 256): DataFrame = {
    val base = df.select(col(tieCol).as("tie"), col(groupCol).as("grp"),
      col(scoreCol).cast("long").as("score"))
    val bounds = LayoutOps.rangeBoundsDf(base, col("tie"), col("score"),
      buckets)
    val gbase = base.crossJoin(bounds)
      .withColumn("bkt", LayoutOps.rangeBucketOf("score")).drop("__bounds")

    // group side: rn = within-group rank by (score, tie); n_g = group size
    val wGOff = Window.partitionBy("grp").orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val gOffsets = gbase.groupBy("grp", "bkt").agg(count(lit(1)).as("gbc"))
      .withColumn("goff", coalesce(sum(col("gbc")).over(wGOff), lit(0L)))
      .select("grp", "bkt", "goff")
    val nG = gbase.groupBy("grp").agg(count(lit(1)).as("n_g"))
    val wGIn = Window.partitionBy("grp", "bkt").orderBy("score", "tie")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val w = gbase.join(gOffsets, Seq("grp", "bkt")).join(nG, Seq("grp"))
      .withColumn("rn", col("goff") + sum(lit(1L)).over(wGIn))

    // global side: gr = global rank by (score, tie)
    val wOff = Window.orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = gbase.groupBy("bkt").agg(count(lit(1)).as("bc"))
      .withColumn("off", coalesce(sum(col("bc")).over(wOff), lit(0L)))
      .select("bkt", "off")
    val wIn = Window.partitionBy("bkt").orderBy("score", "tie")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // without it (sf0.1, 256 KB threshold): SortMergeJoin + 1 Exchange
    val g = gbase.join(broadcast(offsets), Seq("bkt"))
      .withColumn("gr", col("off") + sum(lit(1L)).over(wIn))
      .select(col("gr"), col("score").as("g_score"))

    val n = base.count()
    w.withColumn("k",
        expr(s"((CAST(2L*rn - 1L AS DECIMAL(38,0)) * ${n}L" +
          s" + 2L*n_g - 1L) div (2L*n_g))"))
      .join(g, col("k") === col("gr"))
      .select(col("tie"), col("grp"), col("score"),
        col("g_score").as("norm_score"))
  }

  /** DuckDB twin of [[quantileNormalize]] over documents
    * (source-grouped n_chars, doc_id ties). */
  def quantileNormalizeSql: String =
    s"""WITH b AS (
       |  SELECT doc_id, source AS grp, CAST(n_chars AS BIGINT) AS score
       |  FROM documents),
       |w AS (
       |  SELECT doc_id, grp, score,
       |    row_number() OVER (PARTITION BY grp ORDER BY score, doc_id)
       |      AS rn,
       |    count(*) OVER (PARTITION BY grp) AS n_g
       |  FROM b),
       |g AS (SELECT score AS g_score,
       |        row_number() OVER (ORDER BY score, doc_id) AS gr FROM b),
       |t AS (SELECT count(*) AS n FROM b)
       |SELECT w.doc_id AS tie, w.grp, w.score, g.g_score AS norm_score
       |FROM w CROSS JOIN t
       |JOIN g ON g.gr = ((2*w.rn - 1) * t.n + 2*w.n_g - 1) // (2*w.n_g)"""
      .stripMargin

  // ---- masked-LM sample building ----------------------------------------
  /** Selection threshold of [[mlmMask]], computed EXACTLY in BigInt
    * and embedded as a literal in both engines: a unit is selected iff
    * its hash h ∈ [0, p) falls under `p·bp/10000`. */
  private[ops] def mlmSelThreshold(mlmProbBp: Int): Long = {
    require(mlmProbBp >= 1 && mlmProbBp <= 10000,
      s"mlmProbBp must be in [1, 10000], got $mlmProbBp")
    (BigInt(ShufflePrime) * mlmProbBp / 10000).toLong
  }
  /** 80% / 90% branch thresholds over the full hash range — the
    * per-PIECE branch hash is a fresh scramble, so its thresholds
    * don't condition on the selection. */
  private[ops] val MlmMaskT: Long = (BigInt(ShufflePrime) * 8 / 10).toLong
  private[ops] val MlmRandT: Long = (BigInt(ShufflePrime) * 9 / 10).toLong

  /** Deterministic BERT-style masked-LM sample building (Devlin et al.
    * 2019 §3.1, the HF `DataCollatorForLanguageModeling` contract made
    * reproducible): decorate a tokenized relation (doc_id, pos,
    * token_id — any tokenizer's output, e.g.
    * [[graft.ops.BpeOps.wordpieceTokenizeBert]]) with the masking
    * decision. Per masking unit, a seeded portable hash (the
    * [[epochShuffleKey]] affine family mod 2⁶¹−1, exact in
    * Decimal(38,0)/HUGEINT) selects `mlmProbBp`/10000 of units
    * (default 15%); each SELECTED position then branches on a fresh
    * per-piece scramble of that hash — 80% replaced by `maskId`
    * ([MASK]), 10% by a pseudo-random vocabulary id, 10% kept — the
    * per-piece branch being the reference policy exactly
    * (`create_pretraining_data.py` draws per token even under
    * whole-word selection). Everything is hash-derived, so the policy
    * is bit-reproducible across engines, epochs (vary `seed`), and
    * partitionings. Emits the input columns plus `mlm_action`
    * (mask|random|keep|none), `masked_id` (what the model sees) and
    * `label` (the original id on selected positions, −100 elsewhere —
    * the loss ignore-index convention).
    *
    * `specialIds` are never selected (label −100): pass the special
    * token ids ([UNK] etc.) that may appear in the raw token relation.
    * `unitCol` is the masking unit — the default (`pos`) decides
    * per token; pass a word-index column for whole-word masking
    * ([[mlmMaskWholeWord]] derives it from the `##` convention).
    *
    * Scale: pure per-row projection — no shuffle, no UDF, stays inside
    * whole-stage codegen; composes with [[graft.ops.BpeOps.bertEncode]]
    * / [[packTokenIds]] downstream by feeding `masked_id` as the id
    * column. */
  def mlmMask(tok: DataFrame, vocabSize: Int, maskId: Long,
      seed: Long = 42L, mlmProbBp: Int = 1500,
      specialIds: Set[Long] = Set.empty,
      unitCol: Option[Column] = None): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    require(maskId >= 0 && maskId < vocabSize,
      s"maskId must be a vocabulary id in [0, $vocabSize), got $maskId")
    val tSel = mlmSelThreshold(mlmProbBp)
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val p = lit(ShufflePrime).cast(dec)
    val m = lit(ShuffleMult).cast(dec)
    val unit = unitCol.getOrElse(col("pos"))
    val k1 = pmod(col("doc_id").cast(dec) * m + lit(seed).cast(dec), p)
    val h = pmod(pmod(k1 + unit.cast(dec), p) * m, p)
    val hL = h.cast("long")
    // per-piece branch hash: a fresh scramble of (h, pos), so the
    // branch (and the random replacement drawn from it) is per token
    // even when the selection unit is the word
    val hb = pmod(pmod(h + col("pos").cast(dec), p) * m, p).cast("long")
    val rand = hb % vocabSize.toLong
    val special =
      if (specialIds.isEmpty) lit(false)
      else col("token_id").isInCollection(specialIds.toSeq.sorted)
    val action = when(special || hL >= tSel, "none")
      .when(hb < MlmMaskT, "mask")
      .when(hb < MlmRandT, "random")
      .otherwise("keep")
    tok.withColumn("mlm_action", action)
      .withColumn("masked_id",
        when(col("mlm_action") === "mask", maskId)
          .when(col("mlm_action") === "random", rand)
          .otherwise(col("token_id")))
      .withColumn("label",
        when(col("mlm_action") === "none", -100L)
          .otherwise(col("token_id")))
  }

  /** Whole-word masking over a BERT-convention token relation: the
    * masking unit is the WORD, reconstructed from the `##`
    * continuation prefix exactly as HF's WWM collator does — a token
    * NOT starting with `##` opens a new word, so the word index is a
    * running count over (doc_id, pos). All pieces of a word are
    * selected together; the 80/10/10 branch (and any random
    * replacement) still draws per piece, the reference behavior (see
    * [[mlmMask]]). The window partitions by doc_id — document-bounded,
    * never a corpus sort. */
  def mlmMaskWholeWord(tok: DataFrame, vocabSize: Int, maskId: Long,
      seed: Long = 42L, mlmProbBp: Int = 1500,
      specialIds: Set[Long] = Set.empty,
      contPrefix: String = "##"): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val withWord = tok.withColumn("word_idx",
      sum(when(col("token").startsWith(contPrefix), 0L).otherwise(1L))
        .over(w))
    mlmMask(withWord, vocabSize, maskId, seed, mlmProbBp, specialIds,
      unitCol = Some(col("word_idx")))
  }

  /** DuckDB twin of [[mlmMask]]: `tokensSql` (a full SELECT producing
    * doc_id, pos, token, token_id) as a CTE, then the identical
    * HUGEINT affine-hash arithmetic and CASE policy. `unitSql` is the
    * masking-unit expression over the token relation (`pos`, or a
    * word-index expression for whole-word — see
    * [[mlmMaskWholeWordSql]]). */
  def mlmMaskSql(tokensSql: String, vocabSize: Int, maskId: Long,
      seed: Long = 42L, mlmProbBp: Int = 1500,
      specialIds: Set[Long] = Set.empty,
      unitSql: String = "pos", extraCols: Seq[String] = Nil): String = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    require(maskId >= 0 && maskId < vocabSize,
      s"maskId must be a vocabulary id in [0, $vocabSize), got $maskId")
    val tSel = mlmSelThreshold(mlmProbBp)
    val p = ShufflePrime
    val m = ShuffleMult
    val special =
      if (specialIds.isEmpty) "FALSE"
      else s"token_id IN (${specialIds.toSeq.sorted.mkString(", ")})"
    val extra = extraCols.map(c => s", $c").mkString
    s"WITH mlm_tok AS (\n$tokensSql\n),\n" +
      s"""mlm_h AS (
         |  SELECT *,
         |    ((((doc_id::HUGEINT * $m + $seed) % $p + $p) % $p
         |        + ($unitSql)) % $p * $m) % $p AS h
         |  FROM mlm_tok),
         |mlm_b AS (
         |  SELECT *, ((h + pos) % $p * $m) % $p AS hb FROM mlm_h),
         |mlm_a AS (
         |  SELECT *,
         |    CASE WHEN $special OR h >= $tSel THEN 'none'
         |         WHEN hb < $MlmMaskT THEN 'mask'
         |         WHEN hb < $MlmRandT THEN 'random'
         |         ELSE 'keep' END AS mlm_action
         |  FROM mlm_b)
         |SELECT doc_id, pos, token, token_id$extra, mlm_action,
         |  CAST(CASE WHEN mlm_action = 'mask' THEN $maskId
         |       WHEN mlm_action = 'random' THEN hb % $vocabSize
         |       ELSE token_id END AS BIGINT) AS masked_id,
         |  CAST(CASE WHEN mlm_action = 'none' THEN -100
         |       ELSE token_id END AS BIGINT) AS label
         |FROM mlm_a""".stripMargin
  }

  // ---- span corruption (T5) ----------------------------------------------
  /** T5-style span corruption (Raffel et al. 2020 §3.1.4) made
    * deterministic and relational: seeded hash-selected span STARTS
    * (`spanStartBp`/10000 of positions; lengths 1..`maxSpanLen` from a
    * second scramble — mean (1+maxSpanLen)/2 ≈ T5's mean-3 noise
    * spans at the defaults), coverage merged where spans touch
    * (gaps-and-islands — T5 samples non-adjacent spans, we merge;
    * both engines merge identically), each island replaced by ONE
    * sentinel in the corrupted input and echoed as `sentinel + span
    * tokens` in the targets, closing with the final sentinel — the
    * `<extra_id_k>` convention, ids descending from `sentinelBase`
    * (caller guarantees no collision with real ids).
    *
    * Emits per document: n_tok, n_noise (covered slots), n_spans,
    * `input_ids` (uncovered tokens + sentinels, original order) and
    * `targets` (sentinel_k + span_k ... + final sentinel) —
    * the encoder/decoder string pair a T5 pretrainer consumes.
    * Requires contiguous 1-based `pos` (any tokenizer here).
    *
    * Scale shape: the coverage explode is `maxSpanLen`-bounded over
    * the ~5% start rows; islands/numbering windows partition by
    * doc_id (document-bounded); everything else is equi-joins and
    * doc-keyed map-side-combined aggregates. */
  def spanCorrupt(tok: DataFrame, sentinelBase: Long, seed: Long = 42L,
      spanStartBp: Int = 500, maxSpanLen: Int = 5): DataFrame = {
    require(spanStartBp >= 1 && spanStartBp <= 10000,
      s"spanStartBp must be in [1, 10000], got $spanStartBp")
    require(maxSpanLen >= 1, s"maxSpanLen must be >= 1, got $maxSpanLen")
    val tStart = (BigInt(ShufflePrime) * spanStartBp / 10000).toLong
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val p = lit(ShufflePrime).cast(dec)
    val m = lit(ShuffleMult).cast(dec)
    val k1 = pmod(col("doc_id").cast(dec) * m + lit(seed).cast(dec), p)
    val h = pmod(pmod(k1 + col("pos").cast(dec), p) * m, p)
    val len = (pmod(h * m, p).cast("long") % maxSpanLen.toLong) + 1L
    val starts = tok
      .withColumn("__h", h.cast("long")).withColumn("__len", len)
      .filter(col("__h") < tStart)
      .select(col("doc_id"), col("pos").as("spos"), col("__len"))
    val covered = starts
      .select(col("doc_id"), explode(expr(
        s"sequence(spos, spos + __len - 1)")).as("pos"))
      .distinct()
    val cov = tok.join(covered, Seq("doc_id", "pos"))
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
    val islands = cov
      .withColumn("__grp", col("pos") - row_number().over(wDoc))
      .groupBy(col("doc_id"), col("__grp"))
      .agg(min(col("pos")).as("ipos"), count(lit(1)).as("isz"),
        array_join(transform(array_sort(collect_list(
            struct(col("pos"), col("token_id")))),
          x => x.getField("token_id").cast("string")), " ").as("sids"))
    val wIsl = Window.partitionBy("doc_id").orderBy("ipos")
    val ik = islands
      .withColumn("k", (row_number().over(wIsl) - 1).cast("long"))
      .withColumn("sent", lit(sentinelBase) - col("k"))
    val uncov = tok.join(covered, Seq("doc_id", "pos"), "left_anti")
      .select(col("doc_id"), col("pos"), col("token_id").as("out_id"))
    val inputAgg = uncov
      .unionByName(ik.select(col("doc_id"), col("ipos").as("pos"),
        col("sent").as("out_id")))
      .groupBy("doc_id")
      .agg(array_join(transform(array_sort(collect_list(
          struct(col("pos"), col("out_id")))),
        x => x.getField("out_id").cast("string")), " ").as("input_ids"))
    val targAgg = ik.groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"), sum(col("isz")).as("n_noise"),
        array_join(transform(array_sort(collect_list(
            struct(col("ipos"), concat(col("sent").cast("string"),
              lit(" "), col("sids")).as("tpart")))),
          x => x.getField("tpart")), " ").as("__targ"))
    tok.groupBy("doc_id").agg(count(lit(1)).as("n_tok"))
      .join(inputAgg, Seq("doc_id"))
      .join(targAgg, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_spans", "n_noise"))
      .select(col("doc_id"), col("n_tok"), col("n_noise"), col("n_spans"),
        col("input_ids"),
        concat(coalesce(concat(col("__targ"), lit(" ")), lit("")),
          (lit(sentinelBase) - col("n_spans")).cast("string"))
          .as("targets"))
  }

  /** DuckDB twin of [[spanCorrupt]] — identical HUGEINT hash/length
    * arithmetic, generate_series coverage, gaps-and-islands merge. */
  def spanCorruptSql(tokensSql: String, sentinelBase: Long,
      seed: Long = 42L, spanStartBp: Int = 500,
      maxSpanLen: Int = 5): String = {
    require(spanStartBp >= 1 && spanStartBp <= 10000,
      s"spanStartBp must be in [1, 10000], got $spanStartBp")
    require(maxSpanLen >= 1, s"maxSpanLen must be >= 1, got $maxSpanLen")
    val tStart = (BigInt(ShufflePrime) * spanStartBp / 10000).toLong
    val p = ShufflePrime
    val m = ShuffleMult
    s"WITH sc_tok AS (\n$tokensSql\n),\n" +
      s"""sc_h AS (
         |  SELECT doc_id, pos, token_id,
         |    ((((doc_id::HUGEINT * $m + $seed) % $p + $p) % $p
         |        + pos) % $p * $m) % $p AS h
         |  FROM sc_tok),
         |sc_starts AS (
         |  SELECT doc_id, pos AS spos,
         |    CAST((h * $m) % $p AS BIGINT) % $maxSpanLen + 1 AS len
         |  FROM sc_h WHERE h < $tStart),
         |sc_cov AS (
         |  SELECT DISTINCT doc_id, spos + d AS pos
         |  FROM sc_starts, unnest(range(0, $maxSpanLen)) t(d)
         |  WHERE d < len),
         |sc_c AS (
         |  SELECT t.doc_id, t.pos, t.token_id,
         |    t.pos - row_number() OVER (PARTITION BY t.doc_id
         |      ORDER BY t.pos) AS grp
         |  FROM sc_tok t JOIN sc_cov c ON c.doc_id = t.doc_id
         |    AND c.pos = t.pos),
         |sc_isl AS (
         |  SELECT doc_id, grp, min(pos) AS ipos,
         |    CAST(count(*) AS BIGINT) AS isz,
         |    string_agg(CAST(token_id AS VARCHAR), ' ' ORDER BY pos)
         |      AS sids
         |  FROM sc_c GROUP BY 1, 2),
         |sc_ik AS (
         |  SELECT doc_id, ipos, isz, sids,
         |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY ipos)
         |      - 1 AS BIGINT) AS k
         |  FROM sc_isl),
         |sc_in AS (
         |  SELECT doc_id,
         |    string_agg(CAST(out_id AS VARCHAR), ' ' ORDER BY pos)
         |      AS input_ids
         |  FROM (
         |    SELECT t.doc_id, t.pos, t.token_id AS out_id
         |    FROM sc_tok t LEFT JOIN sc_cov c ON c.doc_id = t.doc_id
         |      AND c.pos = t.pos
         |    WHERE c.pos IS NULL
         |    UNION ALL
         |    SELECT doc_id, ipos AS pos, $sentinelBase - k AS out_id
         |    FROM sc_ik) u
         |  GROUP BY 1),
         |sc_tg AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         |    CAST(sum(isz) AS BIGINT) AS n_noise,
         |    string_agg(CAST($sentinelBase - k AS VARCHAR) || ' ' || sids,
         |      ' ' ORDER BY ipos) AS targ
         |  FROM sc_ik GROUP BY 1),
         |sc_nt AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok
         |  FROM sc_tok GROUP BY 1)
         |SELECT n.doc_id, n.n_tok,
         |  COALESCE(g.n_noise, 0) AS n_noise,
         |  COALESCE(g.n_spans, 0) AS n_spans,
         |  i.input_ids,
         |  COALESCE(g.targ || ' ', '') ||
         |    CAST($sentinelBase - COALESCE(g.n_spans, 0) AS VARCHAR)
         |    AS targets
         |FROM sc_nt n JOIN sc_in i USING (doc_id)
         |LEFT JOIN sc_tg g USING (doc_id)""".stripMargin
  }

  // ---- NSP pair sampling -------------------------------------------------
  /** Cyclic successor in a seeded pseudo-random permutation of the
    * corpus — the deterministic "pick a random OTHER document"
    * primitive (negative sampling for NSP / contrastive pairs): order
    * documents by the [[epochShuffleKey]] bijection and emit each
    * doc's follower, the last wrapping to the first. Every document
    * appears EXACTLY once as a partner (the map is a cyclic
    * permutation), no self-pairs for n ≥ 2, and the draw is
    * reproducible across engines and partitionings.
    *
    * Scale shape: the key space [0, p) is cut into `buckets`
    * contiguous ranges, so bucket order IS key order — the follower is
    * `lead` WITHIN each ~n/buckets-row bucket, and only the per-bucket
    * first rows (a `buckets`-cardinality relation, broadcast) stitch
    * the boundaries + the global wrap. No corpus-wide window, no sort
    * on one reducer. */
  def permutationSuccessor(docs: DataFrame, seed: Long = 42L,
      idCol: String = "doc_id", buckets: Int = 64): DataFrame = {
    require(buckets > 0, s"buckets must be positive: $buckets")
    val width = ShufflePrime / buckets + 1
    val base = docs.select(col(idCol).as("doc_id"))
      .withColumn("__k", epochShuffleKey(col("doc_id"), seed))
      .withColumn("__b", expr(s"__k DIV ${width}L"))
    val wIn = Window.partitionBy(col("__b")).orderBy(col("__k"))
    // per-bucket first docs, in bucket (= key) order: the next
    // non-empty bucket's head patches each bucket's last row; the
    // globally-first head patches the globally-last row (the wrap)
    val wB = Window.orderBy(col("__b"))
    val firsts = base.groupBy(col("__b"))
      .agg(min_by(col("doc_id"), col("__k")).as("__head"))
      .withColumn("__nexthead", lead(col("__head"), 1).over(wB))
    // ONE bounded-relation value (the global wrap target) — a
    // buckets-cardinality job at build time, never corpus-sized
    val globalFirst = firsts.agg(min_by(col("__head"), col("__b")))
      .head.getLong(0)
    base
      .withColumn("__succ", lead(col("doc_id"), 1).over(wIn))
      // without it (sf0.1, 16 KB threshold): SortMergeJoin + 1 Exchange
      .join(broadcast(firsts.select(col("__b"), col("__nexthead"))), Seq("__b"))
      .select(col("doc_id"),
        coalesce(col("__succ"), col("__nexthead"), lit(globalFirst))
          .as("partner_id"))
  }

  /** DuckDB twin of [[permutationSuccessor]] — the plain global-window
    * form (oracle scale), identical result: bucket ranges are
    * contiguous in key, so bucketed-lead + boundary stitching equals
    * one lead over the full key order. */
  def permutationSuccessorSql(seed: Long = 42L,
      idExpr: String = "doc_id", fromSql: String = "documents"): String = {
    val k = epochShuffleKeySql(seed, idExpr)
    s"""WITH ps_d AS (
       |  SELECT $idExpr AS doc_id, $k AS k FROM $fromSql),
       |ps_s AS (
       |  SELECT doc_id, lead(doc_id) OVER (ORDER BY k) AS nxt FROM ps_d),
       |ps_f AS (
       |  SELECT doc_id AS fst FROM ps_d ORDER BY k LIMIT 1)
       |SELECT s.doc_id, COALESCE(s.nxt, f.fst) AS partner_id
       |FROM ps_s s CROSS JOIN ps_f f""".stripMargin
  }

  /** k pseudo-random negatives per document for contrastive /
    * embedding training: hops 1..k along the [[permutationSuccessor]]
    * cycle. Because the successor map is ONE n-cycle in key order,
    * the k negatives of a document are pairwise distinct and never
    * the document itself (for k < n), and every document serves as a
    * negative exactly k times — balanced by construction, reproducible
    * across engines. Emits (doc_id, hop, neg_id) long form.
    *
    * Scale: k−1 self-equi-joins of the partner relation (k is small —
    * the negatives-per-anchor knob), each a plain hash join; the
    * underlying successor build is the bucketed-window shape. */
  def permutationNegatives(docs: DataFrame, k: Int, seed: Long = 42L,
      idCol: String = "doc_id", buckets: Int = 64): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // the successor relation feeds hop 1 AND every one of the k-1 hop
    // joins — barrier it once so its bucketed windows + head-stitch
    // broadcast run once, not k times (its one internal broadcast is
    // explicitly hinted, so the barrier costs no join strategy)
    val succ = permutationSuccessor(docs, seed, idCol, buckets)
      .lineageBarrier(eager = false)
    val hop1 = succ.select(col("doc_id"), lit(1L).as("hop"),
      col("partner_id").as("neg_id"))
    (2 to k).foldLeft((hop1, hop1)) { case ((acc, prev), j) =>
      val next = prev.select(col("doc_id"), col("neg_id").as("__from"))
        .join(succ.select(col("doc_id").as("__from"),
          col("partner_id").as("neg_id")), Seq("__from"))
        .select(col("doc_id"), lit(j.toLong).as("hop"), col("neg_id"))
      (acc.unionByName(next), next)
    }._1
  }

  /** DuckDB twin of [[permutationNegatives]] — the cyclic index form:
    * negative j of the rank-r document is the rank-((r + j) mod n)
    * document in shuffle-key order. */
  def permutationNegativesSql(k: Int, seed: Long = 42L,
      idExpr: String = "doc_id", fromSql: String = "documents"): String = {
    require(k >= 1, s"k must be >= 1, got $k")
    val key = epochShuffleKeySql(seed, idExpr)
    s"""WITH pn_d AS (
       |  SELECT $idExpr AS doc_id, $key AS k,
       |    row_number() OVER (ORDER BY $key) - 1 AS rn
       |  FROM $fromSql),
       |pn_n AS (SELECT count(*) AS n FROM pn_d)
       |SELECT a.doc_id, CAST(j AS BIGINT) AS hop, b.doc_id AS neg_id
       |FROM pn_d a, pn_n, unnest(range(1, $k + 1)) t(j), pn_d b
       |WHERE b.rn = (a.rn + j) % pn_n.n""".stripMargin
  }

  /** NSP (next-sentence/segment prediction) pair sampling, the second
    * BERT pretraining objective (Devlin et al. 2019 §3.2), made
    * deterministic: for each ACTUAL pair in `positives` (doc_a,
    * doc_b — e.g. adjacent documents of one source), a seeded hash of
    * doc_a keeps the true follower with probability 1/2 (`is_next` 1)
    * or swaps doc_b for doc_a's [[permutationSuccessor]] partner
    * (`is_next` 0) — the "random document from the corpus" draw,
    * reproducible on both engines. Emits (doc_a, doc_b, is_next);
    * feed into [[graft.ops.BpeOps.bertEncodePair]] for the encoded
    * training row. The permutation partner may coincide with the true
    * follower (as a uniform random draw may); n ≥ 2 assumed.
    *
    * Scale: one equi-join of `positives` against the partner relation
    * on doc_a — nothing corpus-sized beyond [[permutationSuccessor]]'s
    * bucketed windows. */
  def nspPairs(positives: DataFrame, docs: DataFrame, seed: Long = 42L,
      negSeed: Long = 43L, idCol: String = "doc_id",
      buckets: Int = 64): DataFrame = {
    val half = ShufflePrime / 2
    val partners = permutationSuccessor(docs, seed, idCol, buckets)
    positives.select(col("doc_a"), col("doc_b"))
      .join(partners.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"))
      .withColumn("__h", epochShuffleKey(col("doc_a"), negSeed))
      .select(col("doc_a"),
        when(col("__h") < half, col("doc_b")).otherwise(col("partner_id"))
          .as("doc_b"),
        when(col("__h") < half, 1L).otherwise(0L).as("is_next"))
  }

  /** DuckDB twin of [[nspPairs]]: `positivesSql` (a SELECT producing
    * doc_a, doc_b) as a CTE joined with [[permutationSuccessorSql]]'s
    * partner relation, the identical hash split. */
  def nspPairsSql(positivesSql: String, seed: Long = 42L,
      negSeed: Long = 43L, fromSql: String = "documents"): String = {
    val half = ShufflePrime / 2
    val h = epochShuffleKeySql(negSeed, "p.doc_a")
    s"WITH nsp_pos AS (\n$positivesSql\n),\n" +
      s"""nsp_part AS (
         |${permutationSuccessorSql(seed, "doc_id", fromSql)}
         |)
         |SELECT p.doc_a,
         |  CASE WHEN $h < $half THEN p.doc_b ELSE t.partner_id END
         |    AS doc_b,
         |  CAST(CASE WHEN $h < $half THEN 1 ELSE 0 END AS BIGINT)
         |    AS is_next
         |FROM nsp_pos p JOIN nsp_part t ON t.doc_id = p.doc_a""".stripMargin
  }

  /** DuckDB twin of [[mlmMaskWholeWord]]: the word-index running count
    * as a doc-bounded window CTE, then [[mlmMaskSql]]'s arithmetic on
    * `word_idx`. */
  def mlmMaskWholeWordSql(tokensSql: String, vocabSize: Int, maskId: Long,
      seed: Long = 42L, mlmProbBp: Int = 1500,
      specialIds: Set[Long] = Set.empty,
      contPrefix: String = "##"): String = {
    val ww =
      s"WITH mlm_w AS (\n$tokensSql\n)\n" +
        s"""SELECT doc_id, pos, token, token_id,
           |  CAST(sum(CASE WHEN token LIKE '$contPrefix%' THEN 0
           |       ELSE 1 END)
           |    OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT)
           |    AS word_idx
           |FROM mlm_w""".stripMargin
    mlmMaskSql(ww, vocabSize, maskId, seed, mlmProbBp, specialIds,
      unitSql = "word_idx", extraCols = Seq("word_idx"))
  }
}
