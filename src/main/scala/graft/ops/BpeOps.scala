package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Checkpoints._
import scala.collection.mutable

/** BPE (byte-pair-encoding) merge induction — tokenizer training as a
  * relational workload (Sennrich et al. 2016, the word-dictionary
  * formulation every production BPE trainer uses).
  *
  * Scale design: training never touches corpus-cardinality data after
  * the first pass. The corpus reduces ONCE to the word-frequency
  * dictionary (distinct words + counts — vocabulary-sized); each merge
  * round is (a) an adjacent-pair frequency aggregate over the dictionary
  * and (b) a per-word symbol rewrite, both dictionary-sized. The driver
  * holds only the argmax pair per round (one tiny collect), mirroring
  * the kmeansLloyd pattern; per-round `localCheckpoint` caps lineage
  * like connectedComponents.
  */
object BpeOps {

  /** The word-frequency dictionary: one row per distinct word with its
    * corpus frequency and initial symbol sequence (characters + the
    * end-of-word marker). Empty tokens (from repeated separators) are
    * dropped.
    *
    * Unicode contract: symbols are CODE POINTS (Spark `substring`
    * semantics). The DuckDB twin's `string_split(word, '')` yields
    * GRAPHEME CLUSTERS — the two agree on all text where every grapheme
    * is one code point (ASCII, CJK, NFC-precomposed Latin; test-pinned
    * on "café"/zh) and diverge only on multi-codepoint clusters
    * (decomposed accents U+0301, ZWJ emoji). NFC-normalize decomposed
    * input before training if oracle parity matters there. */
  def wordDict(docs: DataFrame, textCol: String = "text",
      endMark: String = "</w>"): DataFrame = {
    // the marker is spliced into a generated expression (and, for the
    // oracle twin, into SQL) — refuse characters that would break the
    // string literal rather than escaping in two grammars
    require(!endMark.exists(c => c == '\'' || c == '\\'),
      s"endMark must not contain quotes/backslashes: $endMark")
    docs.select(explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("symbols", symbolsExpr(endMark))
  }

  /** Initial symbol sequence of a `word` column: code points + the
    * end-of-word marker (the [[wordDict]] unicode contract). */
  private def symbolsExpr(endMark: String): Column = expr(
    s"array_append(transform(sequence(1, length(word)), " +
      s"i -> substring(word, i, 1)), '$endMark')")

  // ---- byte-level mode (GPT-2 style) -------------------------------------

  /** GPT-2's bytes→unicode table (public algorithm from the released
    * encoder): printable bytes (33–126, 161–172, 174–255) map to
    * themselves; the rest map to U+0100.. in byte order. Purpose is a
    * BIJECTIVE byte↔codepoint lift so byte-level BPE can reuse string
    * symbol machinery with visible, lossless symbols (space → 'Ġ' =
    * U+0120, the familiar GPT-2 marker). */
  val ByteToUnicode: IndexedSeq[String] = {
    val keep = ((33 to 126) ++ (161 to 172) ++ (174 to 255)).toSet
    val out = Array.ofDim[String](256)
    var n = 0
    for (b <- 0 to 255) {
      if (keep(b)) out(b) = new String(Character.toChars(b))
      else { out(b) = new String(Character.toChars(256 + n)); n += 1 }
    }
    out.toIndexedSeq
  }

  /** GPT-2-STYLE pre-tokenization regex (public spec), lookahead-free so
    * the Java (Spark) and RE2 (DuckDB) dialects agree: contractions,
    * optional-leading-space letter/digit/other runs, whitespace runs.
    * Deliberate deltas from the original GPT-2 pattern, both documented
    * divergences rather than bugs: `\s+(?!\S)` is dropped (RE2 has no
    * lookahead), so in a MULTI-space run all spaces group together
    * instead of leaving the last to prefix the next word — single
    * spaces (the common case) attach to the following word exactly as
    * GPT-2; and Java's `\s` additionally matches U+000B where RE2's
    * does not (vertical tab is absent from real corpora). */
  val PreTokenPattern: String =
    "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** Byte-level initial symbols of a `word` column: UTF-8 bytes lifted
    * through [[ByteToUnicode]] — one symbol per BYTE, so the alphabet is
    * closed (≤256 symbols, no OOV class) and a trained vocab reproduces
    * the production byte-level formulation. No end-of-word marker:
    * byte-level merges simply never cross pre-token boundaries. Runs on
    * the DISTINCT pre-token dictionary only (Zipf-bounded), same as the
    * code-point mode. */
  private def byteSymbolsExpr: Column = {
    val mapArr = array(ByteToUnicode.map(lit): _*)
    transform(
      // byte i of the UTF-8 encoding, as 0..255: one-byte latin-1 decode
      // makes codepoint == byte value, so ascii() reads the byte exactly
      expr("transform(sequence(1, octet_length(encode(word, 'UTF-8'))), " +
        "i -> ascii(decode(substring(encode(word, 'UTF-8'), i, 1), " +
        "'ISO-8859-1')))"),
      b => element_at(mapArr, b + lit(1)))
  }

  /** Byte-level pre-token dictionary: one row per distinct PRE-TOKEN
    * (from [[PreTokenPattern]] — spaces ride with their word, GPT-2
    * convention) with corpus frequency and byte symbols. The byte-mode
    * twin of [[wordDict]]; feeds the same [[trainFromDict]] /
    * [[pairCounts]] / [[applyMerges]] machinery unchanged. */
  def byteWordDict(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(regexp_extract_all(col(textCol),
        lit(PreTokenPattern), lit(0))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("symbols", byteSymbolsExpr)

  /** Adjacent symbol-pair frequencies over a dictionary — the statistic
    * one BPE round maximizes: Σ word-freq per (left, right) pair.
    * Includes overlapping occurrences ("a a a" counts (a,a) twice),
    * matching the reference counter implementations. */
  def pairCounts(dict: DataFrame): DataFrame =
    dict.filter(size(col("symbols")) >= 2)
      .select(col("freq"), explode(expr(
        "transform(sequence(0, size(symbols) - 2), " +
          "i -> struct(symbols[i] AS l, symbols[i + 1] AS r))")).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("freq")).as("pair_freq"))

  /** Rewrite a symbol array applying one merge (l, r) → l+r, leftmost
    * first, non-overlapping — a sequential fold, expressed as the
    * `aggregate` higher-order function (runs per dictionary word per
    * round: vocabulary-sized work, never corpus-sized). */
  private def applyMerge(l: String, r: String): Column = {
    def q(s: String) = s.replace("\\", "\\\\").replace("'", "\\'")
    expr(
      "aggregate(symbols, " +
        "named_struct('out', CAST(array() AS ARRAY<STRING>), 'prev', CAST(NULL AS STRING)), " +
        "(acc, s) -> IF(acc.prev IS NULL, named_struct('out', acc.out, 'prev', s), " +
        s"IF(acc.prev = '${q(l)}' AND s = '${q(r)}', " +
        s"named_struct('out', array_append(acc.out, '${q(l)}${q(r)}'), " +
        "'prev', CAST(NULL AS STRING)), " +
        "named_struct('out', array_append(acc.out, acc.prev), 'prev', s))), " +
        "acc -> IF(acc.prev IS NULL, acc.out, array_append(acc.out, acc.prev)))")
  }

  /** Train `nMerges` BPE merges: per round take the most frequent
    * adjacent pair (ties to the lexicographically smallest (l, r) by
    * Spark's binary/code-point string order — the deterministic
    * tie-break the oracle can replay) and rewrite the dictionary. Stops
    * early when no pair remains. Returns the ordered merge list; recover
    * the trained dictionary with `applyMerges(wordDict(docs), merges)`.
    *
    * Lazy per-round localCheckpoint (the connectedComponents pattern):
    * lineage stays one round deep, and materialization folds into the
    * next round's argmax collect — one job per round, with no wasted
    * eager job materializing the final dictionary nobody reads. */
  def train(docs: DataFrame, nMerges: Int, textCol: String = "text"): Seq[(String, String)] =
    trainFromDict(wordDict(docs, textCol), nMerges)

  /** [[train]] over the byte-level pre-token dictionary — same loop,
    * same argmax/tie-break, byte symbols as the initial alphabet. */
  def trainBytes(docs: DataFrame, nMerges: Int,
      textCol: String = "text"): Seq[(String, String)] =
    trainFromDict(byteWordDict(docs, textCol), nMerges)

  /** The sequential training loop over any prepared (freq, symbols)
    * dictionary — shared by the code-point and byte-level modes: the
    * [[mergeRounds]] loop over pair counts, one merge per round. */
  def trainFromDict(dict0: DataFrame, nMerges: Int): Seq[(String, String)] =
    mergeRounds(dict0, nMerges, byCount, topK = 1)(takeHead).merges

  /** A trainer's merges plus its driver round-trip count (the cost the
    * batched modes cut; a dictionary that runs out of pairs adds one
    * empty probe round). `nbrOverflowRounds` counts the rounds whose
    * [[trainWordpieceChained]] neighbor collect hit [[WpChainNbrCap]]
    * (overflow degrades that round to one exact merge, never silent
    * wrongness) — 0 for every other trainer. */
  final case class TrainResult(merges: Seq[(String, String)], rounds: Int,
      nbrOverflowRounds: Int = 0)

  /** A round's acceptance rule: given the round's top candidates
    * (l, r, key) in rank order, the number of merges still owed and the
    * running symbol vocabulary, return the merges to apply this round,
    * in order — at least one, at most the number owed. */
  private type Accept = (IndexedSeq[(String, String, Long)], Int,
    mutable.Set[String]) => Seq[(String, String)]

  /** Pair counts as a ranked relation (l, r, key) — the BPE objective. */
  private def byCount(dict: DataFrame): DataFrame =
    pairCounts(dict).select(col("l"), col("r"), col("pair_freq").as("key"))

  /** The sequential rule: the argmax alone. */
  private val takeHead: Accept = (top, _, _) => Seq((top.head._1, top.head._2))

  /** The approximate tiers' rule: in rank order, accept every candidate
    * sharing no symbol with a pair already accepted this round (skipped,
    * not batch-ending). `collisionFree` also skips a candidate whose
    * concatenation equals a symbol touched this round or already in the
    * vocabulary (e.g. (a,bc) after (ab,c)), so no merge list holds a
    * duplicate, ambiguous symbol. */
  private def disjointSkip(collisionFree: Boolean): Accept = { (top, owed, vocab) =>
    val touched = mutable.Set.empty[String]
    top.iterator.filter { case (l, r, _) =>
      val c = l + r
      val ok = !touched(l) && !touched(r) &&
        (!collisionFree || (!touched(c) && !vocab(c)))
      if (ok) { touched ++= Seq(l, r, c); if (collisionFree) vocab += c }
      ok
    }.take(owed).map(t => (t._1, t._2)).toSeq
  }

  /** The one round loop of every merge trainer but the chained one: per
    * driver round, rank the current dictionary's pairs (`rank` gives
    * (l, r, key); key descending, ties (l, r) ascending), collect the
    * top `topK`, let `accept` pick the round's merges, and apply them as
    * one chained rewrite behind a lazy barrier, so the rewrite
    * materializes inside the next round's collect. Stops after
    * `nMerges` merges or when no pair remains. `withVocab` collects the
    * initial symbols once (one small job) for rules that gate on
    * concatenation collisions; those rules add the symbols they create. */
  private def mergeRounds(dict0: DataFrame, nMerges: Int,
      rank: DataFrame => DataFrame, topK: Int, withVocab: Boolean = false)(
      accept: Accept): TrainResult = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    var dict = dict0.lineageBarrier(false)
    val vocab = mutable.Set.empty[String]
    if (withVocab) {
      val spark = dict0.sparkSession
      import spark.implicits._
      vocab ++= dict.select(explode(col("symbols")).as("s"))
        .distinct().as[String].collect()
    }
    val merges = mutable.ArrayBuffer.empty[(String, String)]
    var rounds = 0
    var exhausted = false
    while (!exhausted && merges.size < nMerges) {
      val top = rank(dict)
        .orderBy(col("key").desc, col("l").asc, col("r").asc)
        .limit(topK).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toIndexedSeq
      rounds += 1
      if (top.isEmpty) exhausted = true
      else {
        val accepted = accept(top, nMerges - merges.size, vocab)
        merges ++= accepted
        dict = applyMerges(dict, accepted).lineageBarrier(false)
      }
    }
    TrainResult(merges.toSeq, rounds)
  }

  /** [[train]] with BATCHED rounds: per driver round-trip, collect the
    * top-`topK` pairs once and accept a PREFIX of them whose sequential
    * identity is provable from round-start counts alone, then apply the
    * whole prefix as one chained rewrite (one job, one checkpoint).
    * Production vocab sizes (~30k merges) drop from 30k scheduler
    * round-trips to a few thousand, with BIT-IDENTICAL output to
    * [[train]] — this is not the approximate "apply top-k
    * non-interacting pairs" heuristic; acceptance is gated on an exact
    * dominance argument:
    *
    * Accept the next pair p = (l, r) with round-start count f after
    * already accepting p_1..p_m iff
    *  (a) neither l nor r is a symbol TOUCHED by the accepted set
    *      (any l_j, r_j, or the concatenation l_j+r_j — the new symbol
    *      can conflate with a pre-existing equal string), and
    *  (b) f strictly exceeds every round-start count that any
    *      touched-interacting pair has: applying p_1..p_m can only
    *      DECREASE counts of existing pairs and can only CREATE pairs
    *      involving a touched symbol, each bounded by a donor pair's
    *      round-start count that itself contains a touched symbol —
    *      so nothing the prefix changes can reach f, and every
    *      unchanged pair ranks exactly as it did at round start, and
    *  (c) every concatenation accepted so far is a NEW string in the
    *      symbol vocabulary. Without (c) the created-pair bound in (b)
    *      is incomplete: if c_j = l_j+r_j already existed as a symbol,
    *      a pair like (x, c_j) holds its round-start count AND gains
    *      donor occurrences — the two can stack past the bound. The
    *      vocabulary is driver-held (initial distinct symbols collected
    *      once, one string added per merge — a SUPERSET over time, since
    *      fully-consumed symbols are never removed: conservative, never
    *      unsound), so (c) is a set lookup; a collision ends the batch
    *      (the colliding merge
    *      is still applied — sequential BPE conflates equal strings the
    *      same way — it just can't anchor further same-round proofs).
    * Interacting counts outside the collected top-`topK` are bounded by
    * the K-th count (included in the dominance bound whenever the
    * collect was truncated). The scan stops at the first rejection —
    * accepted pairs are always a prefix of the round-start order, which
    * is what makes (b) a complete argument. */
  def trainBatched(docs: DataFrame, nMerges: Int, textCol: String = "text",
      topK: Int = 64): TrainResult =
    mergeRounds(wordDict(docs, textCol), nMerges, byCount, topK,
        withVocab = true) { (top, owed, vocab) =>
      val truncated = top.length == topK
      val touched = mutable.Set.empty[String]
      val accepted = mutable.ArrayBuffer.empty[(String, String)]
      // false when the concatenation is already a symbol (gate (c)): the
      // merge is applied, then the batch ends
      def accept(l: String, r: String): Boolean = {
        accepted += ((l, r)); touched ++= Seq(l, r, l + r)
        vocab.add(l + r)
      }
      // scan in rank order; the first rejection ends the batch
      top.indices.iterator.takeWhile(_ => accepted.size < owed).forall { idx =>
        val (l, r, f) = top(idx)
        if (accepted.isEmpty) accept(l, r)
        else if (touched(l) || touched(r)) false
        else {
          // dominance bound: the largest round-start count any pair
          // interacting with the touched set could have — suffix pairs
          // that touch, plus the truncation tail
          val suffixInteract = top.iterator.drop(idx + 1)
            .filter(p => touched(p._1) || touched(p._2))
            .map(_._3).maxOption.getOrElse(Long.MinValue)
          val bound = if (truncated) math.max(suffixInteract, top.last._3)
            else suffixInteract
          f > bound && accept(l, r)
        }
      }
      accepted.toSeq
    }

  /** APPROXIMATE batched training for production vocab sizes — the
    * parallel-trainer practice ([[trainBatched]] stays the exact mode):
    * per driver round, accept EVERY top-`topK` pair that shares no
    * symbol with a pair already accepted this round (shared-symbol
    * conflicts are skipped, not batch-enders), then apply the whole set
    * as one chained rewrite. Rounds collapse toward nMerges/topK, floored
    * by how many of the top-K are mutually symbol-disjoint: measured on
    * the 20k-word Zipfian exhibit corpus (`graft.Cli soak bpe-approx`), 14.9
    * accepted merges/round at topK=64 — ~6× fewer driver round-trips
    * than the exact dominance gate (2.45/round) and ~37× fewer than
    * sequential, so a 30k-merge vocab is ~2k rounds instead of ~12k.
    *
    * Bounded-error contract (what IS and is NOT guaranteed):
    *  - every accepted pair is in its round's top-`topK` by round-start
    *    counts, accepted in round-start (count desc, l, r) order;
    *  - the accepted set is mutually non-interacting at round start
    *    (disjoint {l, r, l+r} symbol sets), so the chained rewrite
    *    equals applying the accepted pairs in ANY order — the output is
    *    deterministic even though it may differ from [[train]];
    *  - divergence vs exact: applying earlier accepted pairs can change
    *    the counts that would have re-ranked later picks, and a skipped
    *    conflicting pair can be overtaken by a lower-count accepted one.
    *    `topK = 1` degenerates to exactly [[train]] (same argmax, same
    *    tie-break). The divergence is QUANTIFIED, not assumed small:
    *    BpeSpec's differential measures merge-set overlap vs [[train]]
    *    on the classic/zh corpora, and `graft.Cli soak bpe-approx` reports
    *    rounds and overlap at exhibit scale. Use the exact modes when
    *    the merge list must be replayable bit-for-bit. */
  def trainApprox(docs: DataFrame, nMerges: Int, textCol: String = "text",
      topK: Int = 64): TrainResult =
    mergeRounds(wordDict(docs, textCol), nMerges, byCount, topK)(
      disjointSkip(collisionFree = false))

  /** The dictionary after applying an (ordered) merge list — e.g. the
    * output of [[train]] — how a trained tokenizer is APPLIED: the
    * merges fold into chained per-row rewrites, checkpointed every
    * [[ApplyCheckpointEvery]] merges so a production-sized merge list
    * (~30k) cannot stack into one unanalyzable Catalyst plan (the same
    * driver-death mode the components loop documents — the optimizer
    * dies on plan depth long before the data is touched). */
  def applyMerges(dict: DataFrame, merges: Seq[(String, String)]): DataFrame =
    merges.zipWithIndex.foldLeft(dict) { case (d, ((l, r), i)) =>
      val next = d.withColumn("symbols", applyMerge(l, r))
      if ((i + 1) % ApplyCheckpointEvery == 0) next.lineageBarrier(false)
      else next
    }

  /** Plan-depth cap for [[applyMerges]]: merges chained between lazy
    * checkpoints. 32 keeps analysis cost trivial while amortizing the
    * checkpoint materialization over many rewrites. */
  val ApplyCheckpointEvery: Int = 32

  /** Corpus-scale tokenizer APPLY — encode raw documents into token-id
    * sequences with a trained (frozen) merge list. The single
    * most-executed operator in a training-data pipeline: every run
    * tokenizes the full corpus exactly once.
    *
    * Scale design (the Zipf trick): the merge rewrite never touches
    * corpus-cardinality data. Documents reduce to (doc_id, word_pos,
    * word) in one narrow pass; the DISTINCT word set — Zipf-small
    * relative to token volume — is segmented once via [[applyMerges]]
    * (the same rewrite training used, so apply == training segmentation
    * by construction); token rows then come from an equi-join of the
    * positions relation against the segmented dictionary. The vocab id
    * table is bounded by |alphabet| + |merges| + 1 (segmentation can
    * only emit single code points or merge outputs), so its row_number
    * window and the join against it are broadcast-sized at any corpus
    * scale. The only corpus-sized shuffles are the word equi-join and
    * the per-document position window (partitioned by doc_id).
    *
    * Token ids are assigned by lexicographic (binary code-point) order
    * over the emitted vocabulary — deterministic and replayable by the
    * [[tokenizeSql]] oracle. Output: (doc_id, pos, token, token_id) with
    * pos 1-based in document order. */
  def tokenize(docs: DataFrame, merges: Seq[(String, String)],
      textCol: String = "text", idCol: String = "doc_id",
      endMark: String = "</w>"): DataFrame = {
    require(merges.nonEmpty, "tokenize needs at least one merge")
    require(!endMark.exists(c => c == '\'' || c == '\\'),
      s"endMark must not contain quotes/backslashes: $endMark")
    val pw = docs.select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), " ")).as(Seq("word_pos", "word")))
      .filter(col("word") =!= "")
    tokenizeCore(pw,
      pw.select("word").distinct().withColumn("symbols", symbolsExpr(endMark)),
      merges)
  }

  /** Byte-level tokenizer APPLY — [[tokenize]]'s twin over
    * [[PreTokenPattern]] pre-tokens and [[byteSymbolsExpr byte symbols]]
    * (no end-of-word marker). Identical Zipf/scale shape; token ids by
    * binary order over the emitted byte-mapped vocabulary. */
  def tokenizeBytes(docs: DataFrame, merges: Seq[(String, String)],
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(merges.nonEmpty, "tokenizeBytes needs at least one merge")
    val pw = docs.select(col(idCol).as("doc_id"),
        posexplode(regexp_extract_all(col(textCol),
          lit(PreTokenPattern), lit(0))).as(Seq("word_pos", "word")))
      .filter(col("word") =!= "")
    tokenizeCore(pw,
      pw.select("word").distinct().withColumn("symbols", byteSymbolsExpr),
      merges)
  }

  /** Shared apply tail: segment the distinct-word dictionary, then join
    * corpus positions against it. */
  private def tokenizeCore(pw: DataFrame, d0: DataFrame,
      merges: Seq[(String, String)]): DataFrame =
    // The eager barrier is a PLAN BARRIER, not a convenience: without it
    // Catalyst floats the merge-fold projection above the corpus join
    // (and can pick the wrong build side), re-evaluating the chained
    // rewrite per CORPUS row instead of per dict row — measured 8 s vs
    // 0.3 s at sf0.1. Materializing pins the rewrite to the dict-sized
    // relation; it stays distributed (no driver collect), so the
    // operator's Zipf accounting is unchanged.
    tokenizeTail(pw, applyMerges(d0, merges).materialize())

  /** Post-segmentation tail shared by the merge-replay tokenizers and
    * the greedy [[wordpieceTokenize]]: token ids by binary order over
    * the segmented dictionary's emitted symbols, then the corpus
    * position join. `segmented` is (word, symbols array), materialized
    * by [[Checkpoints.materialize]]: its measured bytes let the planner
    * broadcast the dictionary into the corpus join while it fits the
    * session's threshold (a dictionary of pathologically long words is
    * sized in bytes, so it does not), instead of sort-merging the
    * corpus-sized token stream. */
  private def tokenizeTail(pw: DataFrame, segmented: DataFrame): DataFrame = {
    // |vocab| <= alphabet + merges + 1: the one-partition window is fine
    // without it (sf0.1, 1 KB threshold): SortMergeJoin + 2 Exchange
    val vocab = broadcast(
      segmented.select(explode(col("symbols")).as("token")).distinct()
        .withColumn("token_id",
          row_number().over(Window.orderBy("token")).cast("long")))
    pw.join(segmented, Seq("word"))
      .select(col("doc_id"), col("word_pos"),
        posexplode(col("symbols")).as(Seq("piece_idx", "token")))
      .join(vocab, Seq("token"))
      .withColumn("pos", row_number().over(
        Window.partitionBy("doc_id").orderBy("word_pos", "piece_idx"))
        .cast("long"))
      .select("doc_id", "pos", "token", "token_id")
  }

  /** DuckDB twin of [[tokenize]] over the `documents` table. Each merge
    * becomes one CTE layer whose `list_reduce` fold is PROVABLY the
    * engine's leftmost-first non-overlapping rewrite: the accumulator is
    * the output symbols joined by chr(31) (symbols cannot contain it —
    * they are corpus code points and merge concatenations); "last
    * emitted symbol == l" is exactly "acc = l OR acc ends with
    * chr(31)||l"; merging appends r WITHOUT a separator (the trailing l
    * becomes l||r); and a just-created l||r can never re-fire the rule
    * since l||r = l would need an empty r. Same grapheme-vs-code-point
    * contract as [[pairCountsSql]]. */
  def tokenizeSql(merges: Seq[(String, String)],
      docFilter: String = "TRUE", endMark: String = "</w>"): String = {
    require(merges.nonEmpty, "tokenizeSql needs at least one merge")
    require(!endMark.exists(c => c == '\'' || c == '\\'),
      s"endMark must not contain quotes/backslashes: $endMark")
    val layers = mergeLayersSql(merges)
    val last = s"d${merges.size}"
    s"""WITH pw AS (
       |  SELECT doc_id, i AS word_pos, words[i + 1] AS word
       |  FROM (SELECT doc_id, string_split(text, ' ') AS words
       |        FROM documents WHERE $docFilter),
       |       unnest(range(0, len(words))) t(i)
       |  WHERE words[i + 1] <> ''),
       |d0 AS (
       |  SELECT word, list_append(string_split(word, ''), '$endMark') AS symbols
       |  FROM (SELECT DISTINCT word FROM pw)),
       |$layers,
       |${tokenizeTailSql(last)}""".stripMargin
  }

  /** One CTE layer per merge — the fold documented on [[tokenizeSql]];
    * shared with the byte-level twin so the rewrite encoding cannot
    * drift between modes. */
  private def mergeLayersSql(merges: Seq[(String, String)]): String = {
    def q(s: String) = s.replace("'", "''")
    require(!merges.exists { case (l, r) => (l + r).contains('') },
      "merge symbols must not contain the chr(31) separator")
    merges.zipWithIndex.map { case ((l, r), i) =>
      s"""d${i + 1} AS (
         |  SELECT word, string_split(list_reduce(symbols,
         |    (acc, s) -> CASE WHEN (acc = '${q(l)}'
         |        OR ends_with(acc, chr(31) || '${q(l)}')) AND s = '${q(r)}'
         |      THEN acc || '${q(r)}' ELSE acc || chr(31) || s END),
         |    chr(31)) AS symbols FROM d$i)""".stripMargin
    }.mkString(",\n")
  }

  /** Vocab / position-join / final-select tail shared by both tokenize
    * twins (`pw` and the segmented `last` CTE are in scope). */
  private def tokenizeTailSql(last: String): String =
    s"""vocab AS (
       |  SELECT token, row_number() OVER (ORDER BY token) AS token_id
       |  FROM (SELECT DISTINCT unnest(symbols) AS token FROM $last)),
       |tok AS (
       |  SELECT pw.doc_id, pw.word_pos, j AS piece_idx,
       |    p.symbols[j + 1] AS token
       |  FROM pw JOIN $last p USING (word),
       |       unnest(range(0, len(p.symbols))) t(j))
       |SELECT tok.doc_id,
       |  row_number() OVER (PARTITION BY tok.doc_id
       |    ORDER BY tok.word_pos, tok.piece_idx) AS pos,
       |  tok.token, v.token_id
       |FROM tok JOIN vocab v USING (token)
       |ORDER BY doc_id, pos""".stripMargin

  /** DuckDB twin of [[tokenizeBytes]]: pre-tokens via the SAME
    * [[PreTokenPattern]] (RE2 and Java agree on it — the lookahead-free
    * design constraint), then the UTF-8 byte decomposition done
    * RELATIONALLY: per distinct pre-token, per character, the 1-4 UTF-8
    * bytes from pure codepoint arithmetic, each byte lifted through a
    * 256-row [[ByteToUnicode]] VALUES table — an independent formulation
    * of the engine's `encode(word,'UTF-8')` that agrees byte-for-byte on
    * ALL of unicode (astral planes included). Merge layers and the apply
    * tail are the exact emitters [[tokenizeSql]] uses. */
  def tokenizeBytesSql(merges: Seq[(String, String)],
      docFilter: String = "TRUE"): String = {
    require(merges.nonEmpty, "tokenizeBytesSql needs at least one merge")
    def q(s: String) = s.replace("'", "''")
    val layers = mergeLayersSql(merges)
    val last = s"d${merges.size}"
    val bm = ByteToUnicode.zipWithIndex
      .map { case (c, b) => s"($b, '${q(c)}')" }.mkString(", ")
    s"""WITH pw AS (
       |  SELECT doc_id, i AS word_pos, toks[i + 1] AS word
       |  FROM (SELECT doc_id,
       |          regexp_extract_all(text, '${q(PreTokenPattern)}', 0) AS toks
       |        FROM documents WHERE $docFilter),
       |       unnest(range(0, len(toks))) t(i)
       |  WHERE toks[i + 1] <> ''),
       |bm(b, c) AS (VALUES $bm),
       |wchars AS (
       |  SELECT word, i, unicode(substr(word, CAST(i AS INT), 1)) AS cp
       |  FROM (SELECT DISTINCT word FROM pw) w,
       |       unnest(range(1, length(word) + 1)) t(i)),
       |wbytes AS (
       |  SELECT word, i, j,
       |    CASE WHEN cp < 128 THEN cp
       |         WHEN cp < 2048 THEN CASE j WHEN 1 THEN 192 + cp // 64
       |           ELSE 128 + cp % 64 END
       |         WHEN cp < 65536 THEN CASE j WHEN 1 THEN 224 + cp // 4096
       |           WHEN 2 THEN 128 + (cp // 64) % 64 ELSE 128 + cp % 64 END
       |         ELSE CASE j WHEN 1 THEN 240 + cp // 262144
       |           WHEN 2 THEN 128 + (cp // 4096) % 64
       |           WHEN 3 THEN 128 + (cp // 64) % 64
       |           ELSE 128 + cp % 64 END
       |    END AS b
       |  FROM wchars, unnest(range(1, 5)) t(j)
       |  WHERE j <= CASE WHEN cp < 128 THEN 1 WHEN cp < 2048 THEN 2
       |             WHEN cp < 65536 THEN 3 ELSE 4 END),
       |d0 AS (
       |  SELECT word, list(c ORDER BY i, j) AS symbols
       |  FROM wbytes JOIN bm USING (b) GROUP BY word),
       |$layers,
       |${tokenizeTailSql(last)}""".stripMargin
  }

  /** Tokenize-and-pack: encode documents with a frozen merge list
    * ([[tokenize]]) and chop the per-shard token stream into fixed
    * `seqLen` training sequences — the concat-and-chop shape LM training
    * actually consumes, emitted as REAL token-id sequences (not the
    * `n_tok` proxy [[PipelineOps.packSequences]] plans with).
    *
    * Within a shard, documents concatenate in `doc_id` order and split
    * at exact token boundaries: global position = (running sum of prior
    * docs' token counts) + in-doc pos − 1, sequence = gpos div seqLen,
    * offset = gpos mod seqLen. Every interior sequence holds exactly
    * `seqLen` ids; only each shard's last is partial.
    *
    * Scale shape: the offsets window runs over the DOC-cardinality
    * (shard, doc_id, n_tok) relation — never tokens, and the
    * [[graft.ops.PipelineOps.packSequences]] 100 TB shard contract is
    * ENFORCED the same way: a deterministic hash bucket of `idCol`
    * (`id_bucket`, `idBuckets` values) is auto-appended to the shard
    * key so no single (lang, source) domain sorts on one reducer;
    * `idBuckets = 1` is the explicit opt-out. Token rows move through
    * two equi-exchanges: the doc_id offsets join and the (shard,
    * seq_id) assembly groupBy — the latter is the unavoidable
    * materialization of the output artifact itself, and seq_id
    * granularity keeps it uniformly parallel (no per-shard reducer
    * holds more than its sequences). Ids are emitted as a space-joined
    * string so the engine/oracle compare is exact.
    *
    * Output: (shardCols..., [id_bucket,] seq_id, n_docs, n_tokens,
    * token_ids). */
  def tokenizeAndPack(docs: DataFrame, merges: Seq[(String, String)],
      seqLen: Long = 128L, shardCols: Seq[String] = Seq("lang", "source"),
      textCol: String = "text", idCol: String = "doc_id",
      endMark: String = "</w>", idBuckets: Int = 64,
      seed: Long = 42L): DataFrame = {
    require(seqLen >= 1, s"seqLen must be >= 1, got $seqLen")
    require(shardCols.nonEmpty, "tokenizeAndPack needs >= 1 shard column")
    require(idBuckets >= 1, s"idBuckets must be >= 1, got $idBuckets")
    val fullShard =
      if (idBuckets > 1) shardCols :+ "id_bucket" else shardCols
    val shard = fullShard.map(col)
    // materialize the tokenized relation once — it feeds the per-doc
    // count AND the offset join, and the merge-replay tokenizer would
    // otherwise run once per consumer (the packTokenIds discipline)
    val tok = tokenize(docs, merges, textCol, idCol, endMark)
      .select(col("doc_id"), col("pos"), col("token_id"))
      .lineageBarrier()
    val nTok = tok.groupBy("doc_id").agg(max(col("pos")).as("n_tok"))
    val base0 = docs.select(col(idCol).as("doc_id") +: shardCols.map(col): _*)
    val base =
      if (idBuckets > 1)
        base0.withColumn("id_bucket",
          PipelineOps.idBucketCol(col("doc_id"), idBuckets, seed))
      else base0
    val w = Window.partitionBy(shard: _*).orderBy("doc_id")
    val offsets = base
      .join(nTok, Seq("doc_id"))
      .withColumn("start_tok", sum(col("n_tok")).over(w) - col("n_tok"))
      .select((col("doc_id") +: shard :+ col("start_tok")): _*)
      .materialize()
    // doc-sized and measured: the planner broadcasts it into the token
    // join while it fits the session's threshold, so the token relation
    // keeps its hash probe instead of sort-merging
    tok.join(offsets, Seq("doc_id"))
      .withColumn("gpos", col("start_tok") + col("pos") - 1)
      .withColumn("seq_id", expr(s"gpos div ${seqLen}L"))
      .withColumn("seq_pos", col("gpos") % seqLen)
      .groupBy((fullShard :+ "seq_id").map(col): _*)
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(col("seq_pos"), col("token_id")))),
          x => x.getField("token_id").cast("string")), " ").as("token_ids"))
  }

  /** DuckDB twin of [[tokenizeAndPack]]: wraps [[tokenizeSql]] as a CTE
    * and replays the same doc-order running sum, div/mod chop, and
    * ordered id join (`string_agg ... ORDER BY seq_pos`). Integer
    * arithmetic end to end — no float divergence possible. */
  def tokenizeAndPackSql(merges: Seq[(String, String)], seqLen: Long = 128L,
      endMark: String = "</w>", idBuckets: Int = 64,
      seed: Long = 42L): String = {
    require(seqLen >= 1, s"seqLen must be >= 1, got $seqLen")
    require(idBuckets >= 1, s"idBuckets must be >= 1, got $idBuckets")
    val bSel = if (idBuckets > 1)
      s",\n    ${PipelineOps.idBucketColSql("doc_id", idBuckets, seed)}" +
        " AS id_bucket"
    else ""
    val b = if (idBuckets > 1) ", id_bucket" else ""
    val bq = if (idBuckets > 1) ", d.id_bucket" else ""
    val grp = if (idBuckets > 1) "1, 2, 3, 4" else "1, 2, 3"
    s"""WITH tk AS (
       |${tokenizeSql(merges, endMark = endMark)}),
       |nt AS (SELECT doc_id, max(pos) AS n_tok FROM tk GROUP BY 1),
       |dk AS (SELECT doc_id, lang, source$bSel FROM documents),
       |off AS (
       |  SELECT d.doc_id, d.lang, d.source$bq,
       |    CAST(sum(nt.n_tok) OVER (PARTITION BY d.lang, d.source$bq
       |      ORDER BY d.doc_id) AS BIGINT) - nt.n_tok AS start_tok
       |  FROM dk d JOIN nt USING (doc_id)),
       |g AS (
       |  SELECT off.lang, off.source$b, tk.doc_id,
       |    (off.start_tok + tk.pos - 1) // $seqLen AS seq_id,
       |    (off.start_tok + tk.pos - 1) % $seqLen AS seq_pos,
       |    tk.token_id
       |  FROM tk JOIN off USING (doc_id))
       |SELECT lang, source$b, seq_id,
       |  count(DISTINCT doc_id) AS n_docs,
       |  count(*) AS n_tokens,
       |  string_agg(CAST(token_id AS VARCHAR), ' ' ORDER BY seq_pos)
       |    AS token_ids
       |FROM g GROUP BY $grp""".stripMargin
  }

  /** DuckDB twin of `pairCounts(wordDict(documents))` top-`k` (by
    * frequency, lexicographic tie-break) — the one-round statistics
    * oracle. `string_split(word, '')` is grapheme-cluster semantics vs
    * the engine's code-point `substring` — equal wherever every grapheme
    * is a single code point (see [[wordDict]]'s unicode contract); the
    * documents fixture satisfies this. */
  def pairCountsSql(k: Int, endMark: String = "</w>"): String = {
    require(!endMark.exists(c => c == '\'' || c == '\\'),
      s"endMark must not contain quotes/backslashes: $endMark")
    s"""WITH w AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE word <> '' GROUP BY 1),
       |d AS (
       |  SELECT freq,
       |    list_append(string_split(word, ''), '$endMark') AS symbols
       |  FROM w),
       |p AS (
       |  SELECT symbols[i + 1] AS l, symbols[i + 2] AS r, freq
       |  FROM d, unnest(range(0, len(symbols) - 1)) t(i))
       |SELECT l, r, CAST(sum(freq) AS BIGINT) AS pair_freq
       |FROM p GROUP BY 1, 2
       |ORDER BY pair_freq DESC, l, r LIMIT $k""".stripMargin
  }

  // ---- WordPiece (likelihood-scored merges) ------------------------------

  /** WordPiece pair scores over a (freq, symbols) dictionary: the
    * likelihood objective score(l, r) = count(l, r) / (count(l) ·
    * count(r)) — the merge rule that distinguishes WordPiece from BPE
    * (BPE takes the raw count; WordPiece normalizes by the parts'
    * frequencies, preferring pairs whose parts rarely occur apart).
    * The ratio is carried as the EXACT integer key
    * (pair_freq · 10¹⁸) div (count_l · count_r): truncating integral
    * division both engines compute identically — a float ratio here
    * would be the FIXTURES.md libm/rounding drift class. Bounds:
    * pair_freq ≤ min(count_l, count_r) so the key ≤ 10¹⁸ (fits BIGINT),
    * and the DECIMAL(38,0) products stay ≤ 10³⁰/10²⁴ at corpus scale.
    * Ties resolve (score desc, l, r) — replayable. */
  def wordpieceScores(dict: DataFrame): DataFrame = {
    val sym = dict.select(col("freq"), explode(col("symbols")).as("s"))
      .groupBy("s").agg(sum("freq").as("sf"))
    pairCounts(dict)
      .join(sym.select(col("s").as("l"), col("sf").as("lf")), "l")
      .join(sym.select(col("s").as("r"), col("sf").as("rf")), "r")
      .select(col("l"), col("r"), col("pair_freq"), col("lf"), col("rf"),
        expr("CAST((CAST(pair_freq AS DECIMAL(38,0)) * " +
          "1000000000000000000) div " +
          "(CAST(lf AS DECIMAL(38,0)) * rf) AS BIGINT)").as("score_q"))
  }

  /** Train `nMerges` WordPiece merges: the [[trainFromDict]] loop with
    * the likelihood argmax — per round take the pair maximizing the
    * exact [[wordpieceScores]] key (ties (l, r) ascending), rewrite the
    * dictionary with the shared [[applyMerge]] fold. Same lazy
    * checkpoint cadence, same sidecar format ([[writeMerges]]) — the
    * tokenizer-apply path ([[tokenize]]/[[tokenizeSql]]) consumes the
    * ordered merge list identically, so a WordPiece-trained vocabulary
    * drops into every downstream query unchanged. */
  def trainWordpiece(docs: DataFrame, nMerges: Int,
      textCol: String = "text"): Seq[(String, String)] =
    trainWordpieceFromDict(wordDict(docs, textCol), nMerges)

  def trainWordpieceFromDict(dict0: DataFrame, nMerges: Int)
      : Seq[(String, String)] =
    mergeRounds(dict0, nMerges, byScore, topK = 1)(takeHead).merges

  /** [[wordpieceScores]] as a ranked relation (l, r, key) — the
    * WordPiece objective. */
  private def byScore(dict: DataFrame): DataFrame =
    wordpieceScores(dict).select(col("l"), col("r"), col("score_q").as("key"))

  /** Binary (code-point) sort key for driver-side re-sorts that must
    * mirror Spark's string ordering. */
  private def cpKey(s: String): Seq[Int] =
    s.codePoints().toArray.toIndexedSeq

  /** Neighbor-row cap for [[trainWordpieceChained]]'s per-round
    * collect: pairs adjacent to a top-K symbol beyond this end exact
    * tracking for the round (the round still accepts its argmax). */
  val WpChainNbrCap: Int = 300000

  /** EXACT CHAIN-FOLLOWING batched WordPiece. Sequential WordPiece
    * CHAINS: a merge shrinks its parts' frequencies, and its created
    * pair (x, l+r) usually becomes the next argmax. A batch proven from
    * round-start statistics alone can never accept such a created pair,
    * so on natural corpora it takes one merge per round (measured
    * round_reduction 1.00); this trainer accepts the chain child from
    * exactly tracked post-merge state instead. Per driver round, ONE
    * collect brings back: the top-K pairs, the COMPLETE neighbor pair
    * lists of every top-K symbol, and the round-start adjacent TRIPLES
    * around every top-K pair. With those, the driver maintains the
    * EXACT post-merge state for everything a merge can touch:
    *  - sf′(l) = lf−m, sf′(r) = rf−m, sf′(c) = m (l ≠ r and reverse
    *    count pf(r,l) = 0 — known exactly from the complete neighbor
    *    lists — make the leftmost-nonoverlap fold consume every
    *    occurrence, no overlap pathology);
    *  - pf′(x,l) = pf(x,l) − T(x,l,r) and pf′(x,c) = T(x,l,r) from the
    *    triples (mirrored on the right), every x's own sf riding the
    *    neighbor rows.
    * The next TRUE argmax is then computable exactly over all tracked
    * pairs (untracked pairs are fully untouched, hence ≤ the K-th
    * round-start score — the strict-dominance guard). Accepting it:
    *  - an untouched top-K pair whose triple contexts avoid touched
    *    symbols → exact update, KEEP CHAINING (round-start triples
    *    stay valid only for occurrences disjoint from prior merges);
    *  - a created/changed pair (the chain child) → accepted as the
    *    round's FINAL merge (its own children would need (W+1)-gram
    *    context — the documented generalization: collecting W-gram
    *    windows buys chain depth W−2 per step).
    * Output is BIT-IDENTICAL to [[trainWordpiece]] (differential-
    * tested); rounds ≈ merges/2 on chain-structured corpora, and
    * several merges per round on the exclusive-pair regime, where
    * round-start dominance alone would already batch. Cost honesty:
    * each round's one collect is heavier than sequential's (triples +
    * neighbor lists ride along), so on a TINY dictionary sequential
    * can win local wall-clock (documents sf0.001: 20.9 s vs 10.0 s for
    * 48 merges at 2.29× fewer rounds) while on the Zipfian exhibit the
    * round cut already wins outright (25.6 s vs 44.2 s at 128 merges);
    * at production scale the driver ROUND-TRIP is the cost the trainer
    * optimizes — scheduler latency × 30k merges — which is exactly
    * what halves. */
  def trainWordpieceChained(docs: DataFrame, nMerges: Int,
      textCol: String = "text", topK: Int = 64): TrainResult =
    trainWordpieceChainedFromDict(wordDict(docs, textCol), nMerges, topK)

  def trainWordpieceChainedFromDict(dict0: DataFrame, nMerges: Int,
      topK: Int = 64): TrainResult = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val Scale = BigInt("1000000000000000000")
    var dict: DataFrame = dict0.lineageBarrier(false)
    val spark = dict0.sparkSession
    import spark.implicits._
    import scala.math.Ordering.Implicits._
    val vocab = scala.collection.mutable.Set.empty[String]
    vocab ++= dict.select(explode(col("symbols")).as("s"))
      .distinct().as[String].collect()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var rounds = 0
    var nbrOverflows = 0
    var exhausted = false
    while (!exhausted && merges.size < nMerges) {
      val rows = wpChainCollect(dict, topK)
      rounds += 1
      val topRows = rows.filter(_._1 == 0)
        .map(t => (t._2, t._3, t._5, t._6, t._7))
        .sortBy(t => (-wpScore(t._3, t._4, t._5), cpKey(t._1), cpKey(t._2)))
      if (topRows.isEmpty) exhausted = true
      else {
        val nbrRows = rows.filter(_._1 == 1)
        val nbrTruncated = nbrRows.length > WpChainNbrCap
        if (nbrTruncated) nbrOverflows += 1
        // exact driver state: part counts and pair counts
        val sfNow = scala.collection.mutable.HashMap.empty[String, Long]
        val pfNow = scala.collection.mutable.HashMap.empty[(String, String), Long]
        (topRows.map(t => (0, t._1, t._2, null: String, t._3, t._4, t._5)) ++
            nbrRows.map(t => (1, t._2, t._3, t._4, t._5, t._6, t._7)))
          .foreach { case (_, l, r, _, pf, lf, rf) =>
            sfNow(l) = lf; sfNow(r) = rf; pfNow((l, r)) = pf }
        val tripL = rows.filter(_._1 == 2)
          .groupBy(t => (t._3, t._4)).map { case (k, v) =>
            k -> v.map(t => (t._2, t._5)).toSeq }
        val tripR = rows.filter(_._1 == 3)
          .groupBy(t => (t._2, t._3)).map { case (k, v) =>
            k -> v.map(t => (t._4, t._5)).toSeq }
        val topSet = topRows.map(t => (t._1, t._2)).toSet
        // untracked pairs are untouched, so their round-start rank caps
        // them: strict dominance over the K-th score is the guard
        val kthBound =
          if (topRows.length == topK)
            wpScore(topRows.last._3, topRows.last._4, topRows.last._5)
          else BigInt(-1)
        val touched = scala.collection.mutable.Set.empty[String]
        val accepted = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
        var continue = true
        while (continue && merges.size + accepted.size < nMerges) {
          // exact argmax over the tracked (== every possibly-changed)
          // pair set, WordPiece order (score desc, l, r binary asc)
          var best: ((String, String), BigInt) = null
          pfNow.foreach { case (p, pf) =>
            if (pf > 0L) {
              val s = wpScore(pf, sfNow(p._1), sfNow(p._2))
              if (best == null || s > best._2 || (s == best._2 &&
                  (cpKey(p._1), cpKey(p._2)) < (cpKey(best._1._1), cpKey(best._1._2))))
                best = (p, s)
            }
          }
          if (best == null) { continue = false
            if (accepted.isEmpty) exhausted = true }
          else if (accepted.nonEmpty && !(best._2 > kthBound)) continue = false
          else {
            val (l, r) = best._1
            accepted += ((l, r))
            val c = l + r
            val m = pfNow((l, r))
            val collision = vocab(c)
            if (!collision) vocab += c
            // exact continuation needs: an untouched top-K pair (its
            // round-start triples are only valid for occurrences
            // disjoint from prior merges), non-self, zero reverse
            // count, no vocab collision, complete neighbor lists, and
            // triple contexts that avoid touched symbols (a touched x
            // may have been consumed/renamed at those occurrences)
            val tl = tripL.getOrElse((l, r), Seq.empty)
            val tr = tripR.getOrElse((l, r), Seq.empty)
            val exactOk = topSet((l, r)) && !touched(l) && !touched(r) &&
              l != r && pfNow.getOrElse((r, l), 0L) == 0L && !collision &&
              !nbrTruncated &&
              tl.forall(t => !touched(t._1)) && tr.forall(t => !touched(t._1))
            touched ++= Seq(l, r, c)
            if (!exactOk) continue = false
            else {
              pfNow((l, r)) = 0L
              sfNow(l) -= m; sfNow(r) -= m; sfNow(c) = m
              tl.foreach { case (x, t) =>
                val old = pfNow((x, l))
                require(old >= t, s"chained WordPiece accounting: ($x,$l)")
                pfNow((x, l)) = old - t
                pfNow((x, c)) = pfNow.getOrElse((x, c), 0L) + t
              }
              tr.foreach { case (y, t) =>
                val old = pfNow((r, y))
                require(old >= t, s"chained WordPiece accounting: ($r,$y)")
                pfNow((r, y)) = old - t
                pfNow((c, y)) = pfNow.getOrElse((c, y), 0L) + t
              }
            }
          }
        }
        merges ++= accepted
        if (accepted.nonEmpty)
          dict = applyMerges(dict, accepted.toSeq).lineageBarrier(false)
      }
    }
    TrainResult(merges.toSeq, rounds, nbrOverflows)
  }

  /** Exact WordPiece likelihood key, driver-side: the same floored
    * 10¹⁸ fixed-point both engines compute. */
  private def wpScore(pf: Long, sa: Long, sb: Long): BigInt =
    BigInt(pf) * BigInt("1000000000000000000") / (BigInt(sa) * BigInt(sb))

  /** [[trainWordpieceChained]]'s one collect per round: kind 0 = top-K
    * pair rows, kind 1 = complete neighbor pair rows of top-K symbols
    * (capped at [[WpChainNbrCap]]+1 — overflow detected, not silent),
    * kind 2/3 = round-start adjacent triples (x,l,r)/(l,r,y) around
    * top-K pairs. All relations derive from ONE barriered scored
    * relation + the dict, and ride one action. */
  private def wpChainCollect(dict: DataFrame, topK: Int)
      : Array[(Int, String, String, String, Long, Long, Long)] = {
    val scored = wordpieceScores(dict).lineageBarrier(false)
    val topRel = scored
      .orderBy(col("score_q").desc, col("l").asc, col("r").asc)
      .limit(topK)
    val syms = topRel.select(explode(array(col("l"), col("r"))).as("s"))
      .distinct()
    def shape(df: DataFrame, kind: Int): DataFrame =
      df.select(lit(kind).as("kind"), col("l").as("s0"), col("r").as("s1"),
        lit(null: String).as("s2"), col("pair_freq").as("cnt"),
        col("lf").as("sf0"), col("rf").as("sf1"))
    val nbr = shape(scored.join(syms.select(col("s").as("l")), Seq("l"), "leftsemi"), 1)
      .unionByName(shape(scored.join(syms.select(col("s").as("r")), Seq("r"), "leftsemi"), 1))
      .limit(WpChainNbrCap + 1)
    val tri = dict.filter(size(col("symbols")) >= 3)
      .select(col("freq"), explode(expr(
        "transform(sequence(0, size(symbols) - 3), i -> struct(" +
          "symbols[i] AS s0, symbols[i+1] AS s1, symbols[i+2] AS s2))"))
        .as("t"))
      .groupBy(col("t.s0").as("s0"), col("t.s1").as("s1"),
        col("t.s2").as("s2"))
      .agg(sum(col("freq")).as("cnt"))
    val topPairs = topRel.select(col("l"), col("r"))
    val tripL = tri.join(topPairs,
        tri("s1") === topPairs("l") && tri("s2") === topPairs("r"), "leftsemi")
      .select(lit(2).as("kind"), col("s0"), col("s1"), col("s2"),
        col("cnt"), lit(0L).as("sf0"), lit(0L).as("sf1"))
    val tripR = tri.join(topPairs,
        tri("s0") === topPairs("l") && tri("s1") === topPairs("r"), "leftsemi")
      .select(lit(3).as("kind"), col("s0"), col("s1"), col("s2"),
        col("cnt"), lit(0L).as("sf0"), lit(0L).as("sf1"))
    shape(topRel, 0).unionByName(nbr).unionByName(tripL).unionByName(tripR)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
  }

  /** APPROXIMATE batched WordPiece — the [[trainApprox]] contract on
    * the likelihood key: per driver round accept every top-`topK` pair
    * sharing no symbol with a pair already accepted this round, apply
    * the set as one chained rewrite. Exists because of a MEASURED
    * property of the likelihood objective (the `graft.Cli soak wordpiece`
    * exhibit): sequential WordPiece CHAINS — a merge shrinks its
    * parts' frequencies and its created pairs (x, l+r) inherit a
    * boosted score pf/(sf(x)·pf), so the next argmax is usually the
    * previous merge's own child (documents fixture: (m,n) → (u,mn) →
    * (l,umn) → (o,lumn) → (c,olumn)). An exact batch proven from
    * round-start statistics alone therefore takes one merge per round
    * on natural corpora (measured round_reduction 1.00 — vs BPE's
    * ~2-3×, whose counts only fall); the exact CHAIN-FOLLOWING mode
    * ([[trainWordpieceChained]]) recovers ~2.1-2.3× bit-identical by
    * accepting each chain child from exactly-tracked post-merge state.
    * The approx mode is the aggressive tier above it: rounds collapse
    * toward nMerges/topK (measured 21×) at a QUANTIFIED merge-set
    * divergence (exhibit overlap 0.117 — the likelihood key genuinely
    * reorders under parallel acceptance; use the exact modes when the
    * vocabulary must be replayable). Contract as [[trainApprox]]:
    * accepted pairs are top-K at round start, mutually symbol-disjoint
    * (order-independent rewrite), and `topK = 1` degenerates to exactly
    * [[trainWordpiece]]. Unlike [[trainApprox]], a candidate whose
    * concatenation collides with an existing symbol, or with another
    * accepted concatenation this round (e.g. (a,bc) and (ab,c) both
    * yielding abc), is skipped. */
  def trainWordpieceApprox(docs: DataFrame, nMerges: Int,
      textCol: String = "text", topK: Int = 64): TrainResult =
    mergeRounds(wordDict(docs, textCol), nMerges, byScore, topK,
      withVocab = true)(disjointSkip(collisionFree = true))

  /** Word-length cap for the greedy WordPiece apply (the
    * [[graft.ops.UnigramOps]] MaxWordLen discipline): the oracle chain
    * unrolls to WpMaxWordLen + |endMark| layers, so the engine refuses
    * longer words loudly instead of silently diverging from a
    * truncated replay. */
  val WpMaxWordLen: Int = 16

  /** Greedy longest-match-first segmentation — real WordPiece
    * INFERENCE (Schuster & Nakajima 2012), a DIFFERENT algorithm from
    * the ordered-merge replay [[tokenize]] performs: at each position
    * take the longest vocabulary piece prefixing the remainder (merge
    * replay applies merges in training order and can split an OOV
    * boundary differently — e.g. merges [(b,c), (a,b)] replay "abc" as
    * a·bc while greedy over vocab {ab, bc, …} emits ab·c; pinned in
    * BpeSpec). Pieces match as raw strings over word+endMark with
    * code-point stepping (the [[wordDict]] unicode contract); an
    * uncovered code point is emitted bare — unreachable when the
    * vocabulary derives from the corpus being tokenized, which always
    * contributes its own alphabet. */
  private[ops] def greedySeg(s: String, pieces: Set[String],
      maxCp: Int): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < s.length) {
      val remCp = s.codePointCount(i, s.length)
      var l = math.min(maxCp, remCp)
      var found: String = null
      while (found == null && l >= 1) {
        val cand = s.substring(i, s.offsetByCodePoints(i, l))
        if (pieces(cand)) found = cand
        l -= 1
      }
      if (found == null) found = s.substring(i, s.offsetByCodePoints(i, 1))
      out += found
      i += found.length
    }
    out.result()
  }

  /** Corpus-scale GREEDY WordPiece apply: tokenize documents against a
    * trained merge list using longest-match-first inference over the
    * vocabulary (corpus alphabet + endMark + merge concatenations) —
    * the production WordPiece decode, complementing the merge-replay
    * [[tokenize]]. Same Zipf shape as [[tokenize]]: the greedy scan
    * runs once per DISTINCT word ([[graft.ops.UnigramOps]]'s
    * broadcast-vocab mapPartitions decode discipline — vocabulary is
    * model-sized), corpus rows only pay the word equi-join; and the
    * same output surface (doc_id, pos, token, token_id), ids by binary
    * order over the emitted vocabulary. */
  def wordpieceTokenize(docs: DataFrame, merges: Seq[(String, String)],
      textCol: String = "text", idCol: String = "doc_id",
      endMark: String = "</w>"): DataFrame = {
    require(merges.nonEmpty, "wordpieceTokenize needs at least one merge")
    require(!endMark.exists(c => c == '\'' || c == '\\'),
      s"endMark must not contain quotes/backslashes: $endMark")
    val spark = docs.sparkSession
    import spark.implicits._
    val pw = docs.select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), " ")).as(Seq("word_pos", "word")))
      .filter(col("word") =!= "")
    val words = pw.select("word").distinct()
    require(words.filter(length(col("word")) > WpMaxWordLen).isEmpty,
      s"wordpieceTokenize: corpus contains words longer than " +
        s"WpMaxWordLen=$WpMaxWordLen (raise the cap in lockstep with " +
        "the oracle layer count)")
    val alphabet = words.select(explode(expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
        .as("p")).distinct().as[String].collect()
    val pieces: Set[String] =
      alphabet.toSet ++ merges.map { case (l, r) => l + r } + endMark
    val maxCp = pieces.iterator.map(p => p.codePointCount(0, p.length)).max
    val piecesB = spark.sparkContext.broadcast(pieces)
    val segmented = words.as[String].mapPartitions { it =>
      val ps = piecesB.value
      it.map(w => (w, greedySeg(w + endMark, ps, maxCp)))
    }.toDF("word", "symbols").materialize()
    tokenizeTail(pw, segmented)
  }

  /** DuckDB twin of [[wordpieceTokenize]]: the greedy chain as layered
    * CTEs (the [[graft.ops.UnigramOps]] dp-layer discipline) — `best`
    * precomputes THE longest matching piece per (word, position) once
    * (matched pieces rank above the bare-code-point fallback), then
    * each layer advances every unfinished word by exactly its greedy
    * piece; `maxWordCp` + |endMark| layers terminate every word
    * because a step always advances ≥ 1 position. Vocab/position tail
    * is the exact [[tokenizeSql]] emitter.
    *
    * `maxWordCp` bounds the layer count INDEPENDENTLY of the engine's
    * [[WpMaxWordLen]] refusal cap: pass the corpus's measured max word
    * length (a one-row aggregate at query-build time) so raising the
    * engine cap does not quadratically inflate every oracle. The bound
    * is SELF-CHECKING, not trusted: a word still unfinished after the
    * last layer raises a loud error() instead of silently vanishing
    * from the final `pos >= n` filter (the trainLrSampledSql empty-
    * sample discipline), and a corpus word containing the chr(31)
    * separator — which would corrupt the seg split — errors in `ws`
    * rather than splitting wrong. */
  def wordpieceTokenizeSql(merges: Seq[(String, String)],
      docFilter: String = "TRUE", endMark: String = "</w>",
      maxWordCp: Int = WpMaxWordLen): String = {
    require(maxWordCp >= 1, s"maxWordCp must be >= 1, got $maxWordCp")
    require(merges.nonEmpty, "wordpieceTokenizeSql needs at least one merge")
    require(!endMark.exists(c => c == '\'' || c == '\\'),
      s"endMark must not contain quotes/backslashes: $endMark")
    require(!merges.exists { case (l, r) => (l + r).contains('') },
      "merge symbols must not contain the chr(31) separator")
    def q(s: String) = s.replace("'", "''")
    val mergeVals = merges.map { case (l, r) => s"('${q(l + r)}')" }
      .mkString(", ")
    val emCp = endMark.codePointCount(0, endMark.length)
    val maxCp = (merges.map { case (l, r) =>
      val c = l + r; c.codePointCount(0, c.length) } :+ emCp :+ 1).max
    val nLayers = maxWordCp + emCp
    val layers = (1 to nLayers).map { k =>
      s"""g$k AS MATERIALIZED (
         |  SELECT word, n, pos, seg FROM g${k - 1} WHERE pos >= n
         |  UNION ALL
         |  SELECT a.word, a.n, a.pos + b.plen AS pos,
         |    CASE WHEN a.seg = '' THEN b.piece
         |         ELSE a.seg || chr(31) || b.piece END AS seg
         |  FROM g${k - 1} a JOIN best b ON b.word = a.word AND b.src = a.pos
         |  WHERE a.pos < a.n)""".stripMargin
    }.mkString(",\n")
    s"""WITH pw AS (
       |  SELECT doc_id, i AS word_pos, words[i + 1] AS word
       |  FROM (SELECT doc_id, string_split(text, ' ') AS words
       |        FROM documents WHERE $docFilter),
       |       unnest(range(0, len(words))) t(i)
       |  WHERE words[i + 1] <> ''),
       |dw AS (SELECT DISTINCT word FROM pw),
       |pieces AS (
       |  SELECT DISTINCT piece FROM (
       |    SELECT unnest(string_split(word, '')) AS piece FROM dw
       |    UNION ALL SELECT '${q(endMark)}'
       |    UNION ALL SELECT piece FROM (VALUES $mergeVals) m(piece))),
       |ws AS (SELECT word,
       |         CASE WHEN contains(word, chr(31)) THEN error(
       |             'wordpieceTokenizeSql: corpus word contains the ' ||
       |             'chr(31) separator (corpus contract violation)')
       |           ELSE word || '${q(endMark)}' END AS s,
       |         len(word || '${q(endMark)}') AS n FROM dw),
       |best AS MATERIALIZED (
       |  SELECT word, src, piece, len(piece) AS plen FROM (
       |    SELECT e.*, row_number() OVER (PARTITION BY word, src
       |      ORDER BY m DESC, len(piece) DESC) AS rn FROM (
       |      SELECT c.word, c.src, c.piece, 1 AS m FROM (
       |        SELECT word, i AS src,
       |          substr(s, CAST(i AS INTEGER) + 1, CAST(l AS INTEGER))
       |            AS piece
       |        FROM ws, unnest(range(0, n)) t(i),
       |             unnest(range(1, $maxCp + 1)) u(l)
       |        WHERE i + l <= n) c JOIN pieces USING (piece)
       |      UNION ALL
       |      SELECT word, src,
       |        substr(s, CAST(src AS INTEGER) + 1, 1) AS piece, 0 AS m
       |      FROM ws, unnest(range(0, n)) t(src)) e)
       |  WHERE rn = 1),
       |g0 AS (SELECT word, n, CAST(0 AS BIGINT) AS pos, '' AS seg FROM ws),
       |$layers,
       |unfin AS (SELECT count(*) AS nbad FROM g$nLayers WHERE pos < n),
       |segf AS (SELECT word, string_split(seg, chr(31)) AS symbols
       |         FROM g$nLayers, unfin
       |         WHERE pos >= CASE WHEN unfin.nbad > 0 THEN CAST(error(
       |             'wordpieceTokenizeSql: ' || CAST(unfin.nbad AS VARCHAR)
       |             || ' word(s) needed more than $nLayers greedy steps'
       |             || ' — maxWordCp too small for this corpus')
       |           AS BIGINT) ELSE n END),
       |${tokenizeTailSql("segf")}""".stripMargin
  }

  // ---- BERT-style continuation-prefix WordPiece apply ---------------------

  /** The conventional unknown-word token of BERT-style vocabularies. */
  val WpBertUnk: String = "[UNK]"

  /** Greedy longest-match-first segmentation in BERT's CONTINUATION-
    * PREFIX convention (Devlin et al. 2019 WordpieceTokenizer, vs the
    * `</w>` END-MARKER convention of [[greedySeg]]): the first piece of
    * a word matches bare, every later piece matches with a `##` prefix,
    * and the failure policy is per-WORD — a word longer than
    * `maxWordCp` code points, or one that strands the greedy scan at a
    * position no vocabulary piece covers, becomes ONE `unk` token
    * (BERT's max_input_chars_per_word → [UNK] policy; the `</w>` form
    * instead emits uncovered code points bare and the engine refuses
    * long words loudly, divergence pinned in BpeSpec). `maxCp` is the
    * longest piece BODY in code points (prefix excluded). A word that
    * literally starts with `##` can match a continuation piece at
    * position 0 — faithful to the reference implementation, which never
    * prefixes the first piece. */
  private[graft] def greedySegBert(word: String, pieces: Set[String],
      maxCp: Int, maxWordCp: Int, unk: String): Vector[String] = {
    if (word.codePointCount(0, word.length) > maxWordCp) return Vector(unk)
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < word.length) {
      val remCp = word.codePointCount(i, word.length)
      var l = math.min(maxCp, remCp)
      var found: String = null
      while (found == null && l >= 1) {
        val raw = word.substring(i, word.offsetByCodePoints(i, l))
        val cand = if (i == 0) raw else "##" + raw
        if (pieces(cand)) found = cand
        l -= 1
      }
      if (found == null) return Vector(unk)
      out += found
      i += (if (i == 0) found.length else found.length - 2)
    }
    out.result()
  }

  /** Corpus-scale BERT WordPiece apply: tokenize documents against a
    * LOADED external vocabulary (one piece per line, bare first piece +
    * `##` continuations — the production `vocab.txt` artifact, see
    * [[readBertVocab]]), with BERT's `max_input_chars_per_word` →
    * `unk` long-word policy instead of [[wordpieceTokenize]]'s loud
    * [[WpMaxWordLen]] refusal. Token ids are the vocabulary's FILE
    * ORDER (line number — the id contract every BERT checkpoint
    * assumes), NOT binary order over emitted pieces.
    *
    * Scale shape identical to [[wordpieceTokenize]]: the greedy scan
    * runs once per DISTINCT word against the broadcast (model-sized)
    * vocabulary; corpus rows pay only the word equi-join. */
  def wordpieceTokenizeBert(docs: DataFrame, vocab: Seq[String],
      textCol: String = "text", idCol: String = "doc_id",
      maxWordChars: Int = 100, unk: String = WpBertUnk): DataFrame = {
    require(vocab.nonEmpty, "wordpieceTokenizeBert needs a vocabulary")
    require(vocab.distinct.size == vocab.size,
      "duplicate pieces in the vocabulary (ids would be ambiguous)")
    require(vocab.contains(unk),
      s"vocabulary must contain the unknown token '$unk'")
    require(maxWordChars >= 1,
      s"maxWordChars must be >= 1, got $maxWordChars")
    val spark = docs.sparkSession
    import spark.implicits._
    val pw = docs.select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), " ")).as(Seq("word_pos", "word")))
      .filter(col("word") =!= "")
    val words = pw.select("word").distinct()
    val pieces = vocab.toSet
    // FULL piece length, not body length: at position 0 a `##…` piece
    // matches raw (a word literally starting with ## — faithful BERT),
    // so the scan length bound must cover the prefix too; at positions
    // > 0 the extra lengths simply fail the set probe
    val maxCp = vocab.iterator
      .map(p => p.codePointCount(0, p.length)).max
    val piecesB = spark.sparkContext.broadcast(pieces)
    val segmented = words.as[String].mapPartitions { it =>
      val ps = piecesB.value
      it.map(w => (w, greedySegBert(w, ps, maxCp, maxWordChars, unk)))
    }.toDF("word", "symbols").materialize()
    val vocabDf = vocab.zipWithIndex.toDF("token", "__i")
      .select(col("token"), col("__i").cast("long").as("token_id"))
    pw.join(segmented, Seq("word"))
      .select(col("doc_id"), col("word_pos"),
        posexplode(col("symbols")).as(Seq("piece_idx", "token")))
      .join(vocabDf, Seq("token"))
      .withColumn("pos", row_number().over(
        Window.partitionBy("doc_id").orderBy("word_pos", "piece_idx"))
        .cast("long"))
      .select("doc_id", "pos", "token", "token_id")
  }

  /** BERT BasicTokenizer ranges, ONE definition rendered for both
    * engines (the Axis.sqlExpr discipline): control chars (cleaned to
    * space — this also removes the chr(31) oracle-separator hazard
    * from arbitrary text), the full ASCII punctuation/symbol ranges
    * (each split into its own token, BERT's `_run_split_on_punc` over
    * the ranges its `_is_punctuation` hardcodes), and the CJK
    * ideograph blocks (each character its own token). ASCII-range and
    * explicit-codepoint classes only — no \p{} category classes, whose
    * Unicode tables could drift between Java regex and RE2. */
  private val BertCjkClass = graft.functions.BertPreClean.CjkClass

  /** BERT `_is_punctuation` beyond ASCII, as EXPLICIT literal ranges
    * (no \p{} classes — their Unicode tables could drift between Java
    * regex and RE2): exactly the category-P* codepoints of the general
    * punctuation (U+2000–206F), CJK symbols/punctuation (U+3000–303F)
    * and halfwidth/fullwidth forms (U+FF00–FFEF) blocks. The S/L/N/M
    * codepoints interleaved in the same blocks are NOT split — faithful
    * to the reference's category test: U+203E overline (So), U+2044
    * fraction slash and U+2052 commercial minus (Sm), U+3004/3012/3013
    * /3020/3036 symbols (So), U+3005-3007/3021-303C letters+numerals,
    * U+FF04 fullwidth dollar (Sc), U+FF0B/FF1C-FF1E/FF5C/FF5E math
    * (Sm), U+FF3E/FF40 modifiers (Sk), fullwidth digits/letters. The
    * per-codepoint agreement with the JDK's category tables over all
    * three blocks is spec-pinned (BpeSpec). */
  private[graft] val BertUniPunct: Seq[(Int, Int)] =
    graft.functions.BertPreClean.UniPunct
  /** Unicode whitespace (category Zs) of the same blocks — cleaned to
    * a plain space exactly like BERT's `_is_whitespace`; U+2028/2029
    * (Zl/Zp) deliberately PASS THROUGH (they are neither Zs nor
    * category C, so the reference leaves them in place). */
  private[graft] val BertUniSpace: Seq[(Int, Int)] =
    graft.functions.BertPreClean.UniSpace
  /** Format controls (category Cf, plus the block's unassigned Cn
    * which the reference's startswith("C") test also removes) —
    * DELETED, not spaced: BERT's `_clean_text` drops them, so
    * `zw​sp` becomes `zwsp`, one word. */
  private[graft] val BertUniDelete: Seq[(Int, Int)] =
    graft.functions.BertPreClean.UniDelete

  private def rangesRe(rs: Seq[(Int, Int)]): String =
    rs.map { case (a, b) =>
      if (a == b) f"\\x{$a%x}" else f"\\x{$a%x}-\\x{$b%x}" }.mkString

  /** Accent folding for the UNCASED mode (BERT's do_lower_case also
    * strips accents): precomposed Latin diacritics fold through ONE
    * `translate` (a 1:1 char map both engines implement identically),
    * and decomposed inputs are covered by deleting the combining-mark
    * block U+0300-U+036F after the fold — together this is the
    * NFD-strip-Mn result for the Latin repertoire; scripts outside the
    * table pass through unchanged (documented bound, not silent
    * wrongness — the cased mode touches none of this). */
  private val BertAccentMap: Seq[(String, Char)] = Seq(
    "àáâãäåāăą" -> 'a', "èéêëēĕėęě" -> 'e', "ìíîïĩīĭįı" -> 'i',
    "òóôõöøōŏő" -> 'o', "ùúûüũūŭůűų" -> 'u', "ýÿŷ" -> 'y',
    "ñńņň" -> 'n', "çćĉċč" -> 'c', "śŝşš" -> 's', "źżž" -> 'z',
    "ğĝġģ" -> 'g', "ĺļľł" -> 'l', "ŕŗř" -> 'r', "ťţŧ" -> 't',
    "ďđ" -> 'd', "ĥħ" -> 'h', "ŵ" -> 'w')
  private val BertAccentFrom = BertAccentMap.map(_._1).mkString
  private val BertAccentTo =
    BertAccentMap.map { case (cs, t) => t.toString * cs.length }.mkString

  /** BERT BasicTokenizer as a codegen'd Column chain: control chars →
    * space, CJK ideographs space-padded, optional lowercase, ASCII
    * punctuation space-padded. The output feeds the standard
    * space-split word path ([[wordpieceTokenizeBert]] and the oracle's
    * `pw` CTE both filter empty tokens, so runs of spaces are free).
    * `lowerCase = true` is BERT's full do_lower_case — lowercase AND
    * accent folding ([[BertAccentMap]] + combining-mark deletion); the
    * cased mode performs neither, exactly as the reference ties the
    * two together. */
  def bertBasicClean(text: Column, lowerCase: Boolean = true): Column = {
    // the four per-codepoint regex passes (ctl/space → ' ', Cf deletion,
    // CJK pad, punctuation pad) run as ONE native pass —
    // [[graft.functions.BertPreClean]]; padding before the lowercase
    // chain is lossless (case maps, the accent fold and combining-mark
    // deletion never produce or consume a padded-class codepoint).
    // Only the accent-fold chain stays expression-built: `lower`'s full
    // Unicode (incl. 1:N) mapping must remain the engine's own.
    val pre = graft.functions.BertPreClean(text)
    if (lowerCase)
      regexp_replace(
        translate(lower(pre), BertAccentFrom, BertAccentTo),
        "[\\x{300}-\\x{36f}]", "")
    else pre
  }

  /** DuckDB twin of [[bertBasicClean]] over a text expression — the
    * same three regex passes in RE2 syntax with the 'g' flag (DuckDB
    * regexp_replace replaces only the first match by default). */
  def bertBasicCleanSql(textExpr: String,
      lowerCase: Boolean = true): String = {
    val cjk = rangesRe(BertCjkClass)
    val noCtl = s"regexp_replace($textExpr, " +
      s"'[\\x00-\\x1f\\x7f${rangesRe(BertUniSpace)}]', ' ', 'g')"
    val noFmt =
      s"regexp_replace($noCtl, '[${rangesRe(BertUniDelete)}]', '', 'g')"
    val cjkPad = s"regexp_replace($noFmt, '([$cjk])', ' \\1 ', 'g')"
    val lowered =
      if (lowerCase)
        s"regexp_replace(translate(lower($cjkPad), " +
          s"'$BertAccentFrom', '$BertAccentTo'), " +
          "'[\\x{300}-\\x{36f}]', '', 'g')"
      else cjkPad
    s"regexp_replace($lowered, " +
      s"'([!-/:-@[-`{-~${rangesRe(BertUniPunct)}])', ' \\1 ', 'g')"
  }

  /** Convert a trained end-marker merge list into a BERT prefix-form
    * vocabulary: `[UNK]` first (id 0), the alphabet bare and
    * `##`-prefixed, then each merge concatenation (end mark stripped)
    * in both forms, in merge order. This is a CONVENTION conversion,
    * not a semantic identity — the `</w>` form marks word ENDS while
    * `##` marks word CONTINUATIONS, so the two tokenizers segment
    * boundary-straddling vocabularies differently (pinned in BpeSpec);
    * the converted vocabulary is the standard artifact for serving a
    * graft-trained tokenizer through BERT-convention infrastructure. */
  def bertVocabFromMerges(merges: Seq[(String, String)],
      alphabet: Seq[String], endMark: String = "</w>",
      unk: String = WpBertUnk): Seq[String] = {
    require(alphabet.nonEmpty, "bertVocabFromMerges needs an alphabet")
    val singles = alphabet.filterNot(_ == endMark)
    val concats = merges.map { case (l, r) => (l + r).stripSuffix(endMark) }
      .filter(_.nonEmpty)
    require(!concats.exists(_.contains(endMark)),
      s"merge concatenation holds a non-terminal '$endMark' — not a " +
        "wordDict-trained merge list")
    (Seq(unk) ++ singles ++ singles.map("##" + _) ++
      concats.flatMap(c => Seq(c, "##" + c))).distinct
  }

  /** Write a vocabulary as a production `vocab.txt` (one piece per
    * line, ids = line order) — the [[readBertVocab]] inverse, same
    * loud contracts (no blank or duplicate lines can ever be read
    * back, so they cannot be written). */
  def writeBertVocab(spark: org.apache.spark.sql.SparkSession,
      vocab: Seq[String], path: String): Unit = {
    require(vocab.nonEmpty, "refusing to write an empty vocabulary")
    require(!vocab.exists(p => p.isEmpty || p.contains('\n') ||
        p.contains('\r')),
      "vocabulary pieces must be non-empty and newline-free")
    require(vocab.distinct.size == vocab.size,
      "duplicate pieces in the vocabulary")
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try out.write((vocab.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Load a BERT `vocab.txt` (one piece per line, ids = line order)
    * driver-side — the vocabulary is model-sized and gets broadcast, so
    * a distributed read would be the wrong scale call. Fails loudly on
    * empty or duplicate lines (a damaged vocabulary must never silently
    * shift token ids). */
  def readBertVocab(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(p)
    val vocab =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
      finally in.close()
    require(vocab.nonEmpty, s"empty vocabulary file at $path")
    require(!vocab.exists(_.isEmpty),
      s"blank line in vocabulary file at $path (ids would shift)")
    require(vocab.distinct.size == vocab.size,
      s"duplicate pieces in vocabulary file at $path")
    vocab
  }

  /** DuckDB twin of [[wordpieceTokenizeBert]]: the
    * [[wordpieceTokenizeSql]] layered-CTE discipline in the
    * continuation-prefix convention. `best` precomputes the longest
    * matching piece per (word, position) with the `##` prefix applied
    * at positions > 0; a word longer than `maxWordChars`, or one whose
    * greedy chain hits a position with NO matching piece (the inner
    * join drops it), collapses to one `unk` row. `maxWordCp` is the
    * corpus's measured max word length — it bounds the layer count
    * independently of `maxWordChars`, and the bound is SELF-CHECKING: a
    * word still unfinished (but never stuck) after the last layer
    * raises error() instead of silently vanishing. `maxWordCp = 0` (the
    * default) means `maxWordChars`, so the DEFAULT oracle covers the
    * same word lengths as the default engine — callers pass a smaller
    * measured bound only to cut layer count. `fromSql` is the document
    * relation (a table name or a parenthesized subquery; keep it
    * single-line — a line-leading || would be eaten by stripMargin).
    * Token ids are the vocabulary's file order, emitted as a VALUES
    * relation. */
  def wordpieceTokenizeBertSql(vocab: Seq[String],
      docFilter: String = "TRUE", maxWordChars: Int = 100,
      maxWordCp: Int = 0, unk: String = WpBertUnk,
      textSql: String = "text", fromSql: String = "documents"): String = {
    require(vocab.nonEmpty, "wordpieceTokenizeBertSql needs a vocabulary")
    require(vocab.distinct.size == vocab.size,
      "duplicate pieces in the vocabulary")
    require(vocab.contains(unk),
      s"vocabulary must contain the unknown token '$unk'")
    require(maxWordChars >= 1 && maxWordCp >= 0,
      s"maxWordChars/maxWordCp must be >= 1 (maxWordCp 0 = maxWordChars):" +
        s" $maxWordChars, $maxWordCp")
    require(!vocab.exists(p => p.contains('')),
      "vocabulary pieces must not contain the chr(31) separator")
    def q(s: String) = s.replace("'", "''")
    val vocabVals = vocab.zipWithIndex
      .map { case (p, i) => s"('${q(p)}', $i)" }.mkString(", ")
    // full piece length (position-0 raw matches of ##-pieces — see the
    // engine's maxCp note); longer-than-body lengths at src > 0 just
    // fail the vocab join
    val maxCp = vocab.iterator
      .map(p => p.codePointCount(0, p.length)).max
    val wordCpBound = if (maxWordCp == 0) maxWordChars else maxWordCp
    val nLayers = math.min(maxWordChars, wordCpBound)
    val layers = (1 to nLayers).map { k =>
      s"""g$k AS MATERIALIZED (
         |  SELECT word, n, pos, seg FROM g${k - 1} WHERE pos >= n
         |  UNION ALL
         |  SELECT a.word, a.n, a.pos + b.plen AS pos,
         |    CASE WHEN a.seg = '' THEN b.piece
         |         ELSE a.seg || chr(31) || b.piece END AS seg
         |  FROM g${k - 1} a JOIN best b ON b.word = a.word AND b.src = a.pos
         |  WHERE a.pos < a.n)""".stripMargin
    }.mkString(",\n")
    s"""WITH pw AS (
       |  SELECT doc_id, i AS word_pos, words[i + 1] AS word
       |  FROM (SELECT doc_id, string_split($textSql, ' ') AS words
       |        FROM $fromSql WHERE $docFilter),
       |       unnest(range(0, len(words))) t(i)
       |  WHERE words[i + 1] <> ''),
       |dw AS (SELECT DISTINCT word FROM pw),
       |vocab(piece, token_id) AS (VALUES $vocabVals),
       |ws AS (SELECT
       |         CASE WHEN contains(word, chr(31)) THEN error(
       |             'wordpieceTokenizeBertSql: corpus word contains the '
       |             || 'chr(31) separator (corpus contract violation)')
       |           ELSE word END AS word,
       |         len(word) AS n
       |       FROM dw WHERE len(word) <= $maxWordChars),
       |best AS MATERIALIZED (
       |  SELECT word, src, piece, plen FROM (
       |    SELECT c.word, c.src, c.piece, c.plen,
       |      row_number() OVER (PARTITION BY c.word, c.src
       |        ORDER BY c.plen DESC) AS rn
       |    FROM (
       |      SELECT word, i AS src, l AS plen,
       |        CASE WHEN i = 0
       |          THEN substr(word, 1, CAST(l AS INTEGER))
       |          ELSE '##' ||
       |            substr(word, CAST(i AS INTEGER) + 1, CAST(l AS INTEGER))
       |        END AS piece
       |      FROM ws, unnest(range(0, n)) t(i),
       |           unnest(range(1, $maxCp + 1)) u(l)
       |      WHERE i + l <= n) c JOIN vocab v ON v.piece = c.piece)
       |  WHERE rn = 1),
       |g0 AS (SELECT word, n, CAST(0 AS BIGINT) AS pos, '' AS seg FROM ws),
       |$layers,
       |unfin AS (
       |  SELECT count(*) AS nbad FROM g$nLayers g
       |  WHERE pos < n AND EXISTS (
       |    SELECT 1 FROM best b WHERE b.word = g.word AND b.src = g.pos)),
       |fin AS (SELECT word, string_split(seg, chr(31)) AS symbols
       |        FROM g$nLayers, unfin
       |        WHERE pos >= CASE WHEN unfin.nbad > 0 THEN CAST(error(
       |            'wordpieceTokenizeBertSql: ' ||
       |            CAST(unfin.nbad AS VARCHAR) ||
       |            ' word(s) needed more than $nLayers greedy steps — ' ||
       |            'maxWordCp too small for this corpus')
       |          AS BIGINT) ELSE n END),
       |segf AS (
       |  SELECT word, symbols FROM fin
       |  UNION ALL
       |  SELECT word, ['${q(unk)}'] AS symbols
       |  FROM dw WHERE word NOT IN (SELECT word FROM fin)),
       |tok AS (
       |  SELECT pw.doc_id, pw.word_pos, j AS piece_idx,
       |    p.symbols[j + 1] AS token
       |  FROM pw JOIN segf p USING (word),
       |       unnest(range(0, len(p.symbols))) t(j))
       |SELECT tok.doc_id,
       |  row_number() OVER (PARTITION BY tok.doc_id
       |    ORDER BY tok.word_pos, tok.piece_idx) AS pos,
       |  tok.token, CAST(v.token_id AS BIGINT) AS token_id
       |FROM tok JOIN vocab v ON v.piece = tok.token
       |ORDER BY doc_id, pos""".stripMargin
  }

  /** Single-sequence BERT ENCODE over a tokenized relation (doc_id,
    * pos, token, token_id — the [[wordpieceTokenizeBert]] output): per
    * document, `[CLS]` + the first seqLen−2 tokens (BERT truncation) +
    * `[SEP]`, padded with `[PAD]` to exactly seqLen — the
    * fixed-length input-ids contract every BERT fine-tuning pipeline
    * feeds. Emits (doc_id, n_tok, n_kept, n_pad, truncated, input_ids,
    * token_type_ids, attention_mask) — the full HF input triple, ids
    * and masks space-joined (the [[tokenizeAndPack]] id-string
    * convention); the mask is 1 over [CLS]+tokens+[SEP] and 0 over the
    * pads, and `token_type_ids` is all-zeros (single sequence — the
    * pair variant [[bertEncodePair]] emits the 0/1 split).
    * Special-token ids are the pieces' positions in the SAME
    * vocabulary the tokenizer ran with — ids cannot drift between
    * tokenize and encode.
    *
    * `docs`: pass the document relation to ALSO emit rows for
    * documents that produced zero tokens (empty / all-whitespace text
    * never reaches `tok`) — they encode as `[CLS] [SEP]` + pads, so
    * output row count matches the corpus. Without `docs`, token-less
    * documents are absent from the output (the tok-relation-only
    * contract). Fully per-row after one doc-keyed aggregate (map-side
    * combined) plus, with `docs`, one doc-cardinality equi-join;
    * nothing corpus-sized shuffles except the (doc, token) rows
    * already produced by the tokenizer. */
  def bertEncode(tok: DataFrame, vocab: Seq[String], seqLen: Int,
      cls: String = "[CLS]", sep: String = "[SEP]",
      pad: String = "[PAD]", docs: Option[DataFrame] = None,
      idCol: String = "doc_id"): DataFrame = {
    require(seqLen >= 3, s"seqLen must be >= 3, got $seqLen")
    def idOf(p: String): Long = {
      val i = vocab.indexOf(p)
      require(i >= 0, s"vocabulary must contain the special token '$p'")
      i.toLong
    }
    val (clsId, sepId, padId) = (idOf(cls), idOf(sep), idOf(pad))
    val budget = seqLen - 2
    val agg = tok.groupBy("doc_id").agg(
        count(lit(1)).as("n_tok"),
        sum(when(col("pos") <= budget, 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(array_sort(collect_list(
            when(col("pos") <= budget,
              struct(col("pos"), col("token_id"))))),
          x => x.getField("token_id").cast("string")), " ").as("__body"))
    val keyed = docs match {
      case Some(d) =>
        d.select(col(idCol).as("doc_id")).distinct()
          .join(agg, Seq("doc_id"), "left")
          .na.fill(0L, Seq("n_tok", "n_kept"))
      case None => agg
    }
    keyed.select(col("doc_id"), col("n_tok"), col("n_kept"),
        (lit(budget.toLong) - col("n_kept")).as("n_pad"),
        (col("n_tok") > col("n_kept")).as("truncated"),
        when(col("n_kept") === 0L,
          concat(lit(s"$clsId $sepId"),
            expr(s"repeat(' $padId', $budget)")))
          .otherwise(
            concat(lit(s"$clsId "), col("__body"), lit(s" $sepId"),
              expr(s"repeat(' $padId', CAST($budget - n_kept AS INT))")))
          .as("input_ids"),
        lit("0" + " 0" * (seqLen - 1)).as("token_type_ids"),
        concat(lit("1"), expr("repeat(' 1', CAST(n_kept + 1 AS INT))"),
          expr(s"repeat(' 0', CAST($budget - n_kept AS INT))"))
          .as("attention_mask"))
  }

  /** DuckDB twin of [[bertEncode]] — wraps a tokenized relation's SQL
    * (e.g. [[wordpieceTokenizeBertSql]]) as a CTE and replays the
    * truncate/wrap/pad arithmetic with the same specials-from-vocab id
    * lookup. `docsSql` (a SELECT producing `doc_id`) mirrors the
    * engine's `docs` left-join so token-less documents emit the
    * `[CLS] [SEP]`+pads row. Integer and string building only — no
    * float anywhere. */
  def bertEncodeSql(tokensSql: String, vocab: Seq[String], seqLen: Int,
      cls: String = "[CLS]", sep: String = "[SEP]",
      pad: String = "[PAD]", docsSql: Option[String] = None): String = {
    require(seqLen >= 3, s"seqLen must be >= 3, got $seqLen")
    def idOf(p: String): Long = {
      val i = vocab.indexOf(p)
      require(i >= 0, s"vocabulary must contain the special token '$p'")
      i.toLong
    }
    val (clsId, sepId, padId) = (idOf(cls), idOf(sep), idOf(pad))
    val budget = seqLen - 2
    // the embedded tokensSql/docsSql are multiline and may contain
    // line-leading || continuations — they must stay OUT of
    // stripMargin's reach (a margin strip would eat one pipe and turn
    // string concat into bitwise or)
    val docsCte = docsSql.map(d => s"enc_docs AS (\n$d\n),\n").getOrElse("")
    val allCte =
      if (docsSql.isDefined)
        """enc_all AS (
          |  SELECT d.doc_id, COALESCE(a.n_tok, 0) AS n_tok,
          |    COALESCE(a.n_kept, 0) AS n_kept, a.body
          |  FROM enc_docs d LEFT JOIN enc_agg a USING (doc_id))""".stripMargin
      else "enc_all AS (SELECT doc_id, n_tok, n_kept, body FROM enc_agg)"
    s"WITH enc_tok AS (\n$tokensSql\n),\n$docsCte" +
      s"""enc_agg AS (
         |  SELECT doc_id,
         |    CAST(count(*) AS BIGINT) AS n_tok,
         |    CAST(count(*) FILTER (WHERE pos <= $budget) AS BIGINT)
         |      AS n_kept,
         |    string_agg(CAST(token_id AS VARCHAR), ' ' ORDER BY pos)
         |      FILTER (WHERE pos <= $budget) AS body
         |  FROM enc_tok GROUP BY 1),
         |$allCte
         |SELECT doc_id, n_tok, n_kept,
         |  CAST($budget - n_kept AS BIGINT) AS n_pad,
         |  n_tok > n_kept AS truncated,
         |  CASE WHEN n_kept = 0
         |    THEN '$clsId $sepId' || repeat(' $padId', $budget)
         |    ELSE '$clsId ' || body || ' $sepId' ||
         |      repeat(' $padId', CAST($budget - n_kept AS INTEGER))
         |  END AS input_ids,
         |  '0' || repeat(' 0', ${seqLen - 1}) AS token_type_ids,
         |  '1' || repeat(' 1', CAST(n_kept + 1 AS INTEGER)) ||
         |    repeat(' 0', CAST($budget - n_kept AS INTEGER))
         |    AS attention_mask
         |FROM enc_all ORDER BY doc_id""".stripMargin
  }

  /** Sentence-PAIR BERT encode: `[CLS] A [SEP] B [SEP]` padded to
    * exactly seqLen, with `token_type_ids` (0 over [CLS]+A+[SEP] and
    * the pads, 1 over B+[SEP]) and `attention_mask` (1 over the filled
    * positions, 0 over pads) — the NSP/cross-encoder input contract.
    * Truncation is BERT's truncate_seq_pair (pop one token from the
    * LONGER side, ties pop B) in CLOSED FORM — the iterative trim's
    * fixed point is
    *   k_a = min(n_a, max(budget − n_b, ⌈budget/2⌉))
    *   k_b = min(n_b, max(budget − n_a, ⌊budget/2⌋))
    * with budget = seqLen − 3 (a side shorter than half keeps all its
    * tokens and donates the remainder; two long sides equalize with
    * the tie going to A) — integer arithmetic both engines replay
    * exactly, no loop. `pairs` is (doc_a, doc_b); `tok` is the
    * tokenized relation both sides join (one tokenize pass, two
    * model-free equi-joins — nothing corpus-sized beyond the token
    * rows themselves). */
  def bertEncodePair(tok: DataFrame, pairs: DataFrame, vocab: Seq[String],
      seqLen: Int, cls: String = "[CLS]", sep: String = "[SEP]",
      pad: String = "[PAD]"): DataFrame = {
    require(seqLen >= 5, s"seqLen must be >= 5, got $seqLen")
    def idOf(p: String): Long = {
      val i = vocab.indexOf(p)
      require(i >= 0, s"vocabulary must contain the special token '$p'")
      i.toLong
    }
    val (clsId, sepId, padId) = (idOf(cls), idOf(sep), idOf(pad))
    val budget = (seqLen - 3).toLong
    // the per-doc id arrays feed BOTH pair sides — barrier once so the
    // tokenizer plan + doc aggregate run once, not twice (guide §2.4)
    val perDoc = tok.groupBy("doc_id").agg(
      count(lit(1)).as("n"),
      transform(array_sort(collect_list(struct(col("pos"),
        col("token_id")))), x => x.getField("token_id")).as("ids"))
      .lineageBarrier(eager = false)
    val joined = pairs
      .join(perDoc.select(col("doc_id").as("doc_a"), col("n").as("n_a"),
        col("ids").as("ids_a")), Seq("doc_a"))
      .join(perDoc.select(col("doc_id").as("doc_b"), col("n").as("n_b"),
        col("ids").as("ids_b")), Seq("doc_b"))
      .withColumn("k_a", least(col("n_a"),
        greatest(lit(budget) - col("n_b"), lit((budget + 1L) / 2L))))
      .withColumn("k_b", least(col("n_b"),
        greatest(lit(budget) - col("n_a"), lit(budget / 2L))))
      .withColumn("n_pad", lit(budget) - col("k_a") - col("k_b"))
    joined.select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
      col("k_a"), col("k_b"),
      (col("n_a") > col("k_a") || col("n_b") > col("k_b")).as("truncated"),
      concat(
        lit(s"$clsId "),
        array_join(expr("slice(ids_a, 1, CAST(k_a AS INT))"), " "),
        lit(s" $sepId "),
        array_join(expr("slice(ids_b, 1, CAST(k_b AS INT))"), " "),
        lit(s" $sepId"),
        expr(s"repeat(' $padId', CAST(n_pad AS INT))")).as("input_ids"),
      concat(lit("0"),
        expr("repeat(' 0', CAST(k_a + 1 AS INT))"),
        expr("repeat(' 1', CAST(k_b + 1 AS INT))"),
        expr("repeat(' 0', CAST(n_pad AS INT))")).as("token_type_ids"),
      concat(lit("1"),
        expr("repeat(' 1', CAST(k_a + k_b + 2 AS INT))"),
        expr("repeat(' 0', CAST(n_pad AS INT))")).as("attention_mask"))
  }

  /** DuckDB twin of [[bertEncodePair]]: the tokenized relation and the
    * pair relation as CTEs (both caller-supplied full SELECTs, kept out
    * of stripMargin's reach), then the identical closed-form trim and
    * string assembly. */
  def bertEncodePairSql(tokensSql: String, pairsSql: String,
      vocab: Seq[String], seqLen: Int, cls: String = "[CLS]",
      sep: String = "[SEP]", pad: String = "[PAD]"): String = {
    require(seqLen >= 5, s"seqLen must be >= 5, got $seqLen")
    def idOf(p: String): Long = {
      val i = vocab.indexOf(p)
      require(i >= 0, s"vocabulary must contain the special token '$p'")
      i.toLong
    }
    val (clsId, sepId, padId) = (idOf(cls), idOf(sep), idOf(pad))
    val budget = (seqLen - 3).toLong
    s"WITH enc_tok AS (\n$tokensSql\n),\npairs AS (\n$pairsSql\n),\n" +
      s"""per_doc AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
         |    list(token_id ORDER BY pos) AS ids
         |  FROM enc_tok GROUP BY 1),
         |j AS (
         |  SELECT p.doc_a, p.doc_b, a.n AS n_a, b.n AS n_b,
         |    a.ids AS ids_a, b.ids AS ids_b,
         |    LEAST(a.n, GREATEST($budget - b.n, ${(budget + 1) / 2}))
         |      AS k_a,
         |    LEAST(b.n, GREATEST($budget - a.n, ${budget / 2})) AS k_b
         |  FROM pairs p
         |  JOIN per_doc a ON a.doc_id = p.doc_a
         |  JOIN per_doc b ON b.doc_id = p.doc_b)
         |SELECT doc_a, doc_b, n_a, n_b,
         |  CAST(k_a AS BIGINT) AS k_a, CAST(k_b AS BIGINT) AS k_b,
         |  n_a > k_a OR n_b > k_b AS truncated,
         |  '$clsId ' ||
         |    array_to_string(list_slice(ids_a, 1, CAST(k_a AS INTEGER)),
         |      ' ') ||
         |    ' $sepId ' ||
         |    array_to_string(list_slice(ids_b, 1, CAST(k_b AS INTEGER)),
         |      ' ') ||
         |    ' $sepId' ||
         |    repeat(' $padId', CAST($budget - k_a - k_b AS INTEGER))
         |    AS input_ids,
         |  '0' || repeat(' 0', CAST(k_a + 1 AS INTEGER)) ||
         |    repeat(' 1', CAST(k_b + 1 AS INTEGER)) ||
         |    repeat(' 0', CAST($budget - k_a - k_b AS INTEGER))
         |    AS token_type_ids,
         |  '1' || repeat(' 1', CAST(k_a + k_b + 2 AS INTEGER)) ||
         |    repeat(' 0', CAST($budget - k_a - k_b AS INTEGER))
         |    AS attention_mask
         |FROM j ORDER BY doc_a, doc_b""".stripMargin
  }

  /** MLM-encoded training row — the tensor pair a masked-LM trainer
    * actually consumes: [[graft.ops.PipelineOps.mlmMask]]'s output
    * wrapped per document as `[CLS]` + the first seqLen−2 MASKED ids +
    * `[SEP]` + pads (input_ids), with `labels` aligned slot for slot —
    * −100 on [CLS]/[SEP]/pads and unselected positions, the ORIGINAL
    * id on masked/random/kept positions (the loss ignore-index
    * contract) — plus the all-zeros token_type_ids and the
    * attention_mask, as [[bertEncode]]. `n_masked` counts the
    * label-bearing slots that survive truncation. `docs` as in
    * [[bertEncode]] (token-less documents emit the `[CLS] [SEP]`+pads
    * row with all-−100 labels). Scale shape identical to
    * [[bertEncode]]: one doc-keyed map-side-combined aggregate plus a
    * pure string projection — nothing corpus-sized shuffles beyond
    * the token rows themselves. */
  def bertEncodeMlm(masked: DataFrame, vocab: Seq[String], seqLen: Int,
      cls: String = "[CLS]", sep: String = "[SEP]",
      pad: String = "[PAD]", docs: Option[DataFrame] = None,
      idCol: String = "doc_id"): DataFrame = {
    require(seqLen >= 3, s"seqLen must be >= 3, got $seqLen")
    def idOf(p: String): Long = {
      val i = vocab.indexOf(p)
      require(i >= 0, s"vocabulary must contain the special token '$p'")
      i.toLong
    }
    val (clsId, sepId, padId) = (idOf(cls), idOf(sep), idOf(pad))
    val budget = seqLen - 2
    val agg = masked.groupBy("doc_id").agg(
        count(lit(1)).as("n_tok"),
        sum(when(col("pos") <= budget, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("pos") <= budget && col("label") =!= -100L, 1L)
          .otherwise(0L)).as("n_masked"),
        array_join(transform(array_sort(collect_list(
            when(col("pos") <= budget,
              struct(col("pos"), col("masked_id"))))),
          x => x.getField("masked_id").cast("string")), " ").as("__body"),
        array_join(transform(array_sort(collect_list(
            when(col("pos") <= budget,
              struct(col("pos"), col("label"))))),
          x => x.getField("label").cast("string")), " ").as("__lab"))
    val keyed = docs match {
      case Some(d) =>
        d.select(col(idCol).as("doc_id")).distinct()
          .join(agg, Seq("doc_id"), "left")
          .na.fill(0L, Seq("n_tok", "n_kept", "n_masked"))
      case None => agg
    }
    keyed.select(col("doc_id"), col("n_tok"), col("n_kept"),
        col("n_masked"), (lit(budget.toLong) - col("n_kept")).as("n_pad"),
        (col("n_tok") > col("n_kept")).as("truncated"),
        when(col("n_kept") === 0L,
          concat(lit(s"$clsId $sepId"),
            expr(s"repeat(' $padId', $budget)")))
          .otherwise(
            concat(lit(s"$clsId "), col("__body"), lit(s" $sepId"),
              expr(s"repeat(' $padId', CAST($budget - n_kept AS INT))")))
          .as("input_ids"),
        when(col("n_kept") === 0L,
          concat(lit("-100 -100"), expr(s"repeat(' -100', $budget)")))
          .otherwise(
            concat(lit("-100 "), col("__lab"), lit(" -100"),
              expr(s"repeat(' -100', CAST($budget - n_kept AS INT))")))
          .as("labels"),
        lit("0" + " 0" * (seqLen - 1)).as("token_type_ids"),
        concat(lit("1"), expr("repeat(' 1', CAST(n_kept + 1 AS INT))"),
          expr(s"repeat(' 0', CAST($budget - n_kept AS INT))"))
          .as("attention_mask"))
  }

  /** DuckDB twin of [[bertEncodeMlm]] — wraps the masked relation's
    * SQL ([[graft.ops.PipelineOps.mlmMaskSql]]) as a CTE and replays
    * the truncate/wrap/pad arithmetic for both streams. `docsSql` as
    * in [[bertEncodeSql]]. */
  def bertEncodeMlmSql(maskedSql: String, vocab: Seq[String], seqLen: Int,
      cls: String = "[CLS]", sep: String = "[SEP]",
      pad: String = "[PAD]", docsSql: Option[String] = None): String = {
    require(seqLen >= 3, s"seqLen must be >= 3, got $seqLen")
    def idOf(p: String): Long = {
      val i = vocab.indexOf(p)
      require(i >= 0, s"vocabulary must contain the special token '$p'")
      i.toLong
    }
    val (clsId, sepId, padId) = (idOf(cls), idOf(sep), idOf(pad))
    val budget = seqLen - 2
    val docsCte = docsSql.map(d => s"mle_docs AS (\n$d\n),\n").getOrElse("")
    val allCte =
      if (docsSql.isDefined)
        """mle_all AS (
          |  SELECT d.doc_id, COALESCE(a.n_tok, 0) AS n_tok,
          |    COALESCE(a.n_kept, 0) AS n_kept,
          |    COALESCE(a.n_masked, 0) AS n_masked, a.body, a.lab
          |  FROM mle_docs d LEFT JOIN mle_agg a USING (doc_id))""".stripMargin
      else
        "mle_all AS (SELECT doc_id, n_tok, n_kept, n_masked, body, lab" +
          " FROM mle_agg)"
    s"WITH mle_tok AS (\n$maskedSql\n),\n$docsCte" +
      s"""mle_agg AS (
         |  SELECT doc_id,
         |    CAST(count(*) AS BIGINT) AS n_tok,
         |    CAST(count(*) FILTER (WHERE pos <= $budget) AS BIGINT)
         |      AS n_kept,
         |    CAST(count(*) FILTER (WHERE pos <= $budget AND label <> -100)
         |      AS BIGINT) AS n_masked,
         |    string_agg(CAST(masked_id AS VARCHAR), ' ' ORDER BY pos)
         |      FILTER (WHERE pos <= $budget) AS body,
         |    string_agg(CAST(label AS VARCHAR), ' ' ORDER BY pos)
         |      FILTER (WHERE pos <= $budget) AS lab
         |  FROM mle_tok GROUP BY 1),
         |$allCte
         |SELECT doc_id, n_tok, n_kept, n_masked,
         |  CAST($budget - n_kept AS BIGINT) AS n_pad,
         |  n_tok > n_kept AS truncated,
         |  CASE WHEN n_kept = 0
         |    THEN '$clsId $sepId' || repeat(' $padId', $budget)
         |    ELSE '$clsId ' || body || ' $sepId' ||
         |      repeat(' $padId', CAST($budget - n_kept AS INTEGER))
         |  END AS input_ids,
         |  CASE WHEN n_kept = 0
         |    THEN '-100 -100' || repeat(' -100', $budget)
         |    ELSE '-100 ' || lab || ' -100' ||
         |      repeat(' -100', CAST($budget - n_kept AS INTEGER))
         |  END AS labels,
         |  '0' || repeat(' 0', ${seqLen - 1}) AS token_type_ids,
         |  '1' || repeat(' 1', CAST(n_kept + 1 AS INTEGER)) ||
         |    repeat(' 0', CAST($budget - n_kept AS INTEGER))
         |    AS attention_mask
         |FROM mle_all ORDER BY doc_id""".stripMargin
  }

  // ---- SFT (prompt-completion) encode ------------------------------------
  /** Supervised fine-tuning sample builder (decoder-only convention):
    * per (doc_a = prompt, doc_b = completion) pair, concatenate the
    * two token streams, truncate from the RIGHT at `seqLen`
    * (k_a = min(n_a, seqLen), k_b = min(n_b, seqLen − k_a)), pad with
    * `pad` to exactly `seqLen`, and mask the loss off the prompt:
    * `labels` is −100 over the prompt slots and the pads, the
    * completion's own ids over its kept slots — train on the response
    * only, the TRL/chat-SFT contract. Emits (doc_a, doc_b, n_a, n_b,
    * k_a, k_b, truncated, input_ids, labels, attention_mask). A
    * prompt at or beyond the budget leaves k_b = 0 (all-−100 labels —
    * filter such rows downstream if the trainer requires live loss).
    *
    * Same scale shape as [[bertEncodePair]]: one tokenize pass, two
    * doc-keyed equi-joins of the pairs against the per-doc id arrays,
    * then pure codegen'd string building. */
  def sftEncode(tok: DataFrame, pairs: DataFrame, vocab: Seq[String],
      seqLen: Int, pad: String = "[PAD]"): DataFrame = {
    require(seqLen >= 2, s"seqLen must be >= 2, got $seqLen")
    val padIdx = vocab.indexOf(pad)
    require(padIdx >= 0, s"vocabulary must contain the pad token '$pad'")
    val padId = padIdx.toLong
    // both pair sides read the per-doc arrays — barrier once (the
    // bertEncodePair discipline)
    val perDoc = tok.groupBy("doc_id").agg(
      count(lit(1)).as("n"),
      transform(array_sort(collect_list(struct(col("pos"),
        col("token_id")))), x => x.getField("token_id")).as("ids"))
      .lineageBarrier(eager = false)
    val joined = pairs
      .join(perDoc.select(col("doc_id").as("doc_a"), col("n").as("n_a"),
        col("ids").as("ids_a")), Seq("doc_a"))
      .join(perDoc.select(col("doc_id").as("doc_b"), col("n").as("n_b"),
        col("ids").as("ids_b")), Seq("doc_b"))
      .withColumn("k_a", least(col("n_a"), lit(seqLen.toLong)))
      .withColumn("k_b", least(col("n_b"), lit(seqLen.toLong) - col("k_a")))
      .withColumn("k", col("k_a") + col("k_b"))
    joined.select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
      col("k_a"), col("k_b"),
      (col("n_a") > col("k_a") || col("n_b") > col("k_b")).as("truncated"),
      expr(s"""ltrim(
        concat(
          CASE WHEN k_a > 0 THEN concat(' ', array_join(transform(
            slice(ids_a, 1, CAST(k_a AS INT)), x -> CAST(x AS STRING)),
            ' ')) ELSE '' END,
          CASE WHEN k_b > 0 THEN concat(' ', array_join(transform(
            slice(ids_b, 1, CAST(k_b AS INT)), x -> CAST(x AS STRING)),
            ' ')) ELSE '' END,
          repeat(' $padId', CAST(${seqLen}L - k AS INT))))""")
        .as("input_ids"),
      expr(s"""ltrim(
        concat(
          repeat(' -100', CAST(k_a AS INT)),
          CASE WHEN k_b > 0 THEN concat(' ', array_join(transform(
            slice(ids_b, 1, CAST(k_b AS INT)), x -> CAST(x AS STRING)),
            ' ')) ELSE '' END,
          repeat(' -100', CAST(${seqLen}L - k AS INT))))""")
        .as("labels"),
      expr(s"ltrim(concat(repeat(' 1', CAST(k AS INT))," +
        s" repeat(' 0', CAST(${seqLen}L - k AS INT))))")
        .as("attention_mask"))
  }

  /** DuckDB twin of [[sftEncode]] — identical slice/repeat string
    * building over the same per-doc id arrays. */
  def sftEncodeSql(tokensSql: String, pairsSql: String,
      vocab: Seq[String], seqLen: Int, pad: String = "[PAD]"): String = {
    require(seqLen >= 2, s"seqLen must be >= 2, got $seqLen")
    val padIdx = vocab.indexOf(pad)
    require(padIdx >= 0, s"vocabulary must contain the pad token '$pad'")
    val padId = padIdx.toLong
    s"WITH sft_tok AS (\n$tokensSql\n),\nsft_pairs AS (\n$pairsSql\n),\n" +
      s"""sft_doc AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
         |    list(token_id ORDER BY pos) AS ids
         |  FROM sft_tok GROUP BY 1),
         |sft_j AS (
         |  SELECT p.doc_a, p.doc_b, a.n AS n_a, b.n AS n_b,
         |    a.ids AS ids_a, b.ids AS ids_b,
         |    LEAST(a.n, $seqLen) AS k_a,
         |    LEAST(b.n, $seqLen - LEAST(a.n, $seqLen)) AS k_b,
         |    LEAST(a.n, $seqLen)
         |      + LEAST(b.n, $seqLen - LEAST(a.n, $seqLen)) AS k
         |  FROM sft_pairs p
         |  JOIN sft_doc a ON a.doc_id = p.doc_a
         |  JOIN sft_doc b ON b.doc_id = p.doc_b)
         |SELECT doc_a, doc_b, n_a, n_b,
         |  CAST(k_a AS BIGINT) AS k_a, CAST(k_b AS BIGINT) AS k_b,
         |  n_a > k_a OR n_b > k_b AS truncated,
         |  ltrim(
         |    CASE WHEN k_a > 0 THEN ' ' || array_to_string(
         |      list_slice(ids_a, 1, CAST(k_a AS INTEGER)), ' ')
         |      ELSE '' END ||
         |    CASE WHEN k_b > 0 THEN ' ' || array_to_string(
         |      list_slice(ids_b, 1, CAST(k_b AS INTEGER)), ' ')
         |      ELSE '' END ||
         |    repeat(' $padId', CAST($seqLen - k AS INTEGER)))
         |    AS input_ids,
         |  ltrim(
         |    repeat(' -100', CAST(k_a AS INTEGER)) ||
         |    CASE WHEN k_b > 0 THEN ' ' || array_to_string(
         |      list_slice(ids_b, 1, CAST(k_b AS INTEGER)), ' ')
         |      ELSE '' END ||
         |    repeat(' -100', CAST($seqLen - k AS INTEGER)))
         |    AS labels,
         |  ltrim(repeat(' 1', CAST(k AS INTEGER)) ||
         |    repeat(' 0', CAST($seqLen - k AS INTEGER)))
         |    AS attention_mask
         |FROM sft_j""".stripMargin
  }

  // ---- detokenize (decode) ----------------------------------------------
  /** Decode a BERT-convention token relation back to text — the
    * inverse of [[wordpieceTokenizeBert]] and what every tokenizer
    * library ships as `decode`: pieces concatenate per document in
    * `pos` order, a `##` continuation glues to its predecessor
    * (prefix stripped), any other piece opens a new space-separated
    * word (HF `convert_tokens_to_string`: join on space, then drop
    * every ` ##`). Exact round-trip on fully-in-vocab text; `[UNK]`
    * pieces decode literally (the information the unknown policy
    * discarded is gone — same as the reference decode). One doc-keyed
    * map-side-combined aggregate over a codegen'd per-row projection;
    * nothing corpus-sized shuffles beyond the token rows. */
  def detokenizeBert(tok: DataFrame): DataFrame =
    tok.withColumn("__part",
        when(col("token").startsWith("##"), expr("substring(token, 3)"))
          .when(col("pos") === 1L, col("token"))
          .otherwise(concat(lit(" "), col("token"))))
      .groupBy("doc_id")
      .agg(array_join(transform(array_sort(collect_list(
          struct(col("pos"), col("__part")))),
        x => x.getField("__part")), "").as("text"))

  /** DuckDB twin of [[detokenizeBert]] over a tokenized relation's
    * SQL. */
  def detokenizeBertSql(tokensSql: String): String =
    s"WITH dtk AS (\n$tokensSql\n)\n" +
      """SELECT doc_id,
        |  string_agg(CASE WHEN token LIKE '##%' THEN substr(token, 3)
        |    WHEN pos = 1 THEN token ELSE ' ' || token END, ''
        |    ORDER BY pos) AS text
        |FROM dtk GROUP BY doc_id""".stripMargin

  /** Decode an end-mark-convention token relation ([[tokenize]]'s
    * `</w>` symbols) back to text: symbols concatenate in `pos` order
    * and each end mark becomes the word boundary (trailing one
    * trimmed). Exact round-trip for any corpus the merge replay
    * tokenized (every word ends in the mark, so no information is
    * lost). Same scale shape as [[detokenizeBert]]. */
  def detokenize(tok: DataFrame, endMark: String = "</w>"): DataFrame = {
    require(endMark.nonEmpty, "endMark must be non-empty")
    tok.groupBy("doc_id")
      .agg(rtrim(array_join(transform(array_sort(collect_list(
          struct(col("pos"), col("token")))),
        x => replace(x.getField("token"), lit(endMark), lit(" "))), ""))
        .as("text"))
  }

  /** DuckDB twin of [[detokenize]]. */
  def detokenizeSql(tokensSql: String, endMark: String = "</w>"): String = {
    require(endMark.nonEmpty && !endMark.contains("'"),
      s"endMark must be non-empty and quote-free: $endMark")
    s"WITH dtk AS (\n$tokensSql\n)\n" +
      s"""SELECT doc_id,
         |  rtrim(string_agg(replace(token, '$endMark', ' '), ''
         |    ORDER BY pos)) AS text
         |FROM dtk GROUP BY doc_id""".stripMargin
  }

  /** DuckDB twin of [[wordpieceScores]] over the corpus word
    * dictionary (top k, deterministic order) — the round-1 certificate
    * that the likelihood arithmetic agrees cross-engine, the
    * [[pairCountsSql]] discipline. */
  def wordpieceScoresSql(k: Int, endMark: String = "</w>"): String = {
    require(!endMark.exists(c => c == '\'' || c == '\\'),
      s"endMark must not contain quotes/backslashes: $endMark")
    s"""WITH w AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE word <> '' GROUP BY 1),
       |d AS (
       |  SELECT freq,
       |    list_append(string_split(word, ''), '$endMark') AS symbols
       |  FROM w),
       |p AS (
       |  SELECT symbols[i + 1] AS l, symbols[i + 2] AS r, freq
       |  FROM d, unnest(range(0, len(symbols) - 1)) t(i)),
       |pc AS (
       |  SELECT l, r, CAST(sum(freq) AS BIGINT) AS pair_freq
       |  FROM p GROUP BY 1, 2),
       |sc AS (
       |  SELECT s, CAST(sum(freq) AS BIGINT) AS sf
       |  FROM (SELECT unnest(symbols) AS s, freq FROM d) GROUP BY 1)
       |SELECT pc.l, pc.r, pc.pair_freq,
       |  lf.sf AS lf, rf.sf AS rf,
       |  CAST((CAST(pc.pair_freq AS HUGEINT) * 1000000000000000000)
       |    // (CAST(lf.sf AS HUGEINT) * rf.sf) AS BIGINT) AS score_q
       |FROM pc JOIN sc lf ON lf.s = pc.l JOIN sc rf ON rf.s = pc.r
       |ORDER BY score_q DESC, pc.l, pc.r LIMIT $k""".stripMargin
  }

  /** Persist a trained merge list as a parquet sidecar (rank, left,
    * right) — the tokenizer-vocabulary artifact of the "train once,
    * apply to every snapshot" contract (the [[graft.ops.SimilarityOps]]
    * PqIndex / inverted-index amortization discipline applied to
    * tokenizers). Rank IS the merge priority; a reload must see the
    * exact ordered list or downstream token ids silently shift, so
    * [[readMerges]] validates contiguity and fails loudly on a
    * truncated or duplicated sidecar. */
  def writeMerges(spark: org.apache.spark.sql.SparkSession,
      merges: Seq[(String, String)], path: String): Unit = {
    require(merges.nonEmpty, "refusing to write an empty merge list")
    import spark.implicits._
    merges.zipWithIndex
      .map { case ((l, r), i) => (i, l, r) }
      .toDF("rank", "left", "right")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a [[writeMerges]] sidecar back into the ordered merge list.
    * Fails loudly on rank gaps/duplicates (a damaged vocabulary must
    * never silently tokenize differently). */
  def readMerges(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(String, String)] = {
    val rows = spark.read.parquet(path)
      .select("rank", "left", "right")
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    require(rows.nonEmpty, s"empty merge sidecar at $path")
    require(rows.map(_._1).toSeq == rows.indices.toSeq,
      s"merge sidecar ranks not contiguous 0..${rows.length - 1} at $path")
    require(rows.forall(r => r._2 != null && r._3 != null),
      s"null merge symbol in sidecar at $path")
    rows.map(r => (r._2, r._3)).toSeq
  }
}
