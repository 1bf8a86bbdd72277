package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer (the SentencePiece family — Kudo 2018): the
  * OTHER major production tokenizer formulation next to BPE. Where BPE
  * composes a vocabulary bottom-up by merging pairs
  * ([[graft.ops.BpeOps]]), the unigram model starts from a large
  * substring candidate set, assigns each piece a log-probability, and
  * segments every word by VITERBI decoding — the minimum-cost path
  * through the lattice of vocabulary pieces.
  *
  * This implementation is the deterministic, oracle-checkable core of
  * that family:
  *
  *  - Candidate induction: every substring of length 1..P of the
  *    distinct-word dictionary, counted with positional multiplicity
  *    and corpus word frequency — the standard seed vocabulary.
  *  - Selection: ALL single-character pieces (guarantees every word
  *    segments) plus multi-character pieces whose corpus frequency
  *    clears a parts-per-million threshold of the total word count.
  *    A frequency threshold rather than top-K keeps the rule a pure
  *    relational predicate (no LIMIT-over-ties ambiguity).
  *  - Scoring: cost(piece) = round(1e6 * ln(total/freq)) as BIGINT —
  *    the scaled negative log-probability. Integer costs make the
  *    Viterbi argmin exactly portable across engines; the single `ln`
  *    is computed on a ratio of exact integers with identical
  *    operation order in the SQL twin (the 6dp-contract discipline,
  *    here at integer granularity).
  *  - Viterbi: per DISTINCT word, dp(j) = min over vocab pieces ending
  *    at j of dp(j-len)+cost, ties broken by the lexicographically
  *    smaller chr(31)-joined segmentation string. Both engines apply
  *    the SAME bottom-up rule, so the decode is bit-reproducible; the
  *    DuckDB twin unrolls the dp as one CTE layer per position
  *    (bounded by [[MaxWordLen]] — enforced loudly on the Spark side).
  *
  * Scale design (the Zipf trick, as [[BpeOps.tokenize]]): candidate
  * counting, selection, scoring and Viterbi all run over the
  * DISTINCT-word dictionary — Zipf-small relative to token volume. The
  * corpus is touched exactly twice: once reduced to (doc_id, word_pos,
  * word) and once joined against the segmented dictionary. The vocab
  * is model-sized (collected and broadcast for the decode — same
  * contract as kmeans centroids / BPE merge lists); the only
  * corpus-sized shuffles are the word equi-join and the per-document
  * position window.
  *
  * Differential contract vs BPE (test-pinned): on a corpus where a
  * frequent multi-char piece exists, unigram picks it in one shot
  * while BPE needs the merge chain; both cover ASCII identically at
  * the single-char floor.
  *
  * Reference cite (semantics documentation only): the reference engine
  * has no tokenizer surface at all (`/root/reference/src` is histogram
  * aggregation); this operator family is part of the training-data
  * extension surface.
  */
object UnigramOps {

  /** Hard cap on word length for the oracle-unrollable Viterbi dp.
    * Words longer than this abort loudly (the SQL twin has exactly
    * this many dp layers). Raise in lockstep with the generator. */
  val MaxWordLen: Int = 12

  /** Longest candidate piece. 4 keeps the candidate set at
    * O(4 · Σ|word|) over the dictionary — the standard short-piece
    * seed; production vocabs rarely profit beyond ~6 on natural
    * language. */
  val MaxPieceLen: Int = 4

  private val Sep = '\u001F' // chr(31): below all printable ASCII

  /** (word, freq) corpus word dictionary — whitespace words, empties
    * dropped (same convention as [[BpeOps.wordDict]]). */
  def wordFreq(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Candidate pieces: every substring of length 1..[[MaxPieceLen]] of
    * every dictionary word, with positional multiplicity, weighted by
    * corpus word frequency. Dictionary-sized input, piece-vocabulary-
    * sized output. */
  def pieceCandidates(wd: DataFrame): DataFrame =
    wd.select(col("freq"), explode(expr(
        s"""flatten(transform(sequence(0, length(word) - 1),
           |  i -> filter(transform(sequence(1, $MaxPieceLen),
           |    l -> CASE WHEN i + l <= length(word)
           |         THEN substring(word, i + 1, l) END),
           |  x -> x IS NOT NULL)))""".stripMargin)).as("piece"))
      .groupBy("piece").agg(sum("freq").as("pfreq"))

  /** The scored model: selected pieces with frequency, integer cost and
    * dense lexicographic token id. `ratioPpm` is the multi-char
    * selection threshold in parts-per-million of the corpus word count
    * (single chars are always kept — the coverage floor).
    *
    * The one-partition `row_number` window and the one-row cross joins
    * are model/scalar-sized by construction. */
  def vocab(docs: DataFrame, ratioPpm: Long, textCol: String = "text")
      : DataFrame = {
    require(ratioPpm > 0, s"ratioPpm must be positive, got $ratioPpm")
    val wd = wordFreq(docs, textCol)
    val n = wd.agg(sum("freq").as("n"))
    val selected = pieceCandidates(wd)
      .crossJoin(n)
      .filter(length(col("piece")) === 1 ||
        col("pfreq") >= expr(s"(${ratioPpm}L * n) div 1000000L"))
      .select("piece", "pfreq")
    val tot = selected.agg(sum("pfreq").as("tot"))
    selected.crossJoin(tot)
      .withColumn("cost",
        round(lit(1000000.0) * log(col("tot").cast("double") /
          col("pfreq").cast("double")), 0).cast("long"))
      .withColumn("token_id",
        row_number().over(Window.orderBy("piece")).cast("long"))
      .select("piece", "pfreq", "cost", "token_id")
  }

  /** Driver-side Viterbi decode of one word against the broadcast cost
    * map: minimum total cost, ties to the lexicographically smaller
    * chr(31)-joined segmentation — the EXACT rule the SQL dp layers
    * apply, bottom-up per position. Coverage is guaranteed (every
    * corpus character is a kept single-char piece); a missing char
    * means the vocab and the corpus diverged — abort loudly. */
  private[graft] def viterbiSeg(word: String, cost: collection.Map[String, Long])
      : Seq[String] = {
    val n = word.length
    // (totalCost, segString); null seg = unreachable
    val best = new Array[(Long, String)](n + 1)
    best(0) = (0L, "")
    var j = 1
    while (j <= n) {
      var bc = Long.MaxValue
      var bs: String = null
      var l = 1
      while (l <= math.min(MaxPieceLen, j)) {
        val prev = best(j - l)
        if (prev != null) {
          val piece = word.substring(j - l, j)
          cost.get(piece) match {
            case Some(c) =>
              val nc = prev._1 + c
              val ns = if (prev._2.isEmpty) piece else prev._2 + Sep + piece
              if (nc < bc || (nc == bc && ns < bs)) { bc = nc; bs = ns }
            case None => // piece not in vocab: not an edge
          }
        }
        l += 1
      }
      best(j) = if (bs == null) null else (bc, bs)
      j += 1
    }
    require(best(n) != null,
      s"viterbiSeg: '$word' is not coverable by the vocab (corpus/vocab mismatch)")
    best(n)._2.split(Sep).toSeq
  }

  /** Corpus-scale unigram tokenizer APPLY: induce the vocab from the
    * corpus at `ratioPpm`, Viterbi-segment the distinct-word
    * dictionary, encode every document. Output (doc_id, pos, token,
    * token_id), pos 1-based in document order — the same surface as
    * [[BpeOps.tokenize]].
    *
    * The vocab collect is model-sized (piece count is bounded by the
    * threshold rule, not the corpus); the decode runs distributed over
    * the dictionary with the cost map broadcast. */
  def tokenize(docs: DataFrame, ratioPpm: Long, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val pw = docs.select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), " ")).as(Seq("word_pos", "word")))
      .filter(col("word") =!= "")
    val words = pw.select("word").distinct()
    require(words.filter(length(col("word")) > MaxWordLen).isEmpty,
      s"tokenize: corpus contains words longer than MaxWordLen=$MaxWordLen " +
        "(raise the cap in lockstep with the oracle dp generator)")
    val voc = vocab(docs, ratioPpm, textCol)
    val costMap = voc.select("piece", "cost").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val costB = spark.sparkContext.broadcast(costMap)
    val segmented = words.as[String].mapPartitions { it =>
      val cm = costB.value
      it.map(w => (w, viterbiSeg(w, cm)))
    }.toDF("word", "pieces")
    pw.join(segmented, Seq("word"))
      .select(col("doc_id"), col("word_pos"),
        posexplode(col("pieces")).as(Seq("piece_idx", "token")))
      // without it (sf0.1): SortMergeJoin + 2 Exchange
      .join(broadcast(voc.select(col("piece").as("token"), col("token_id"))),
        Seq("token"))
      .withColumn("pos", row_number().over(
        Window.partitionBy("doc_id").orderBy("word_pos", "piece_idx"))
        .cast("long"))
      .select("doc_id", "pos", "token", "token_id")
  }

  // ---- DuckDB twins -------------------------------------------------------

  /** Shared model CTEs: pw → word dict → candidates → threshold
    * selection → integer costs + token ids. Same operation order as
    * [[vocab]] everywhere a double appears. */
  private def modelCtes(ratioPpm: Long): String =
    s"""pw AS MATERIALIZED (
       |  SELECT doc_id, i AS word_pos, words[i + 1] AS word
       |  FROM (SELECT doc_id, string_split(text, ' ') AS words
       |        FROM documents),
       |       unnest(range(0, len(words))) t(i)
       |  WHERE words[i + 1] <> ''),
       |wd AS MATERIALIZED (SELECT word, count(*) AS freq FROM pw GROUP BY 1),
       |nw AS (SELECT sum(freq) AS n FROM wd),
       |cand AS (
       |  SELECT substr(word, CAST(i AS INTEGER) + 1, CAST(l AS INTEGER))
       |    AS piece, CAST(sum(freq) AS BIGINT) AS pfreq
       |  FROM wd,
       |       unnest(range(0, len(word))) t(i),
       |       unnest(range(1, ${MaxPieceLen + 1})) u(l)
       |  WHERE i + l <= len(word)
       |  GROUP BY 1),
       |vocab AS (
       |  SELECT piece, pfreq FROM cand, nw
       |  WHERE len(piece) = 1
       |     OR pfreq >= ($ratioPpm * CAST(nw.n AS BIGINT)) // 1000000),
       |tot AS (SELECT sum(pfreq) AS tot FROM vocab),
       |costs AS MATERIALIZED (
       |  SELECT piece, pfreq,
       |    CAST(round(1000000 * ln(CAST(tot.tot AS DOUBLE)
       |      / CAST(pfreq AS DOUBLE))) AS BIGINT) AS cost,
       |    row_number() OVER (ORDER BY piece) AS token_id
       |  FROM vocab, tot)""".stripMargin

  /** DuckDB twin of [[vocab]]. */
  def vocabSql(ratioPpm: Long): String =
    s"""WITH ${modelCtes(ratioPpm)}
       |SELECT piece, pfreq, cost, token_id FROM costs""".stripMargin

  /** DuckDB twin of [[tokenize]]: the Viterbi dp unrolled as one CTE
    * layer per position 1..[[MaxWordLen]]. Layer j holds THE best
    * (cost, seg) row per word at position j — argmin over incoming
    * lattice edges with the (cost, seg-string) tie-break; `a{j}`
    * accumulates all settled positions so layer j+1 can read dp(j-l)
    * for any piece length l. Bounded and machine-generated, exactly
    * like the BPE merge layers.
    *
    * The accumulator CTEs MUST be `MATERIALIZED`: each `a{j}` is
    * referenced twice (by `dp{j+1}` and by `a{j+1}`), so DuckDB's
    * default inlining would expand the chain 2^L times — measured as
    * an fd/planner explosion, not just slowness. With the hints the
    * full dp runs in well under a second at sf0.01.
    *
    * Unicode contract: both engines index words with code-point
    * `substr`/`substring` here, and the Spark-side decode uses Java
    * UTF-16 indexing — the three agree on all Basic-Multilingual-Plane
    * text (the [[BpeOps.wordDict]] contract, one plane stricter). */
  def tokenizeSql(ratioPpm: Long): String =
    s"""WITH ${decodeCtes(ratioPpm)}
       |SELECT tok.doc_id,
       |  row_number() OVER (PARTITION BY tok.doc_id
       |    ORDER BY tok.word_pos, tok.piece_idx) AS pos,
       |  tok.token, c.token_id
       |FROM tok JOIN costs c ON c.piece = tok.token
       |ORDER BY doc_id, pos""".stripMargin

  /** Model + full corpus decode as CTEs (through `tok`, one row per
    * emitted token position) — shared by [[tokenizeSql]] and
    * [[refinedVocabSql]] so the refined model's E-step re-aggregates
    * the SAME certified decode. */
  private def decodeCtes(ratioPpm: Long): String = {
    val layers = (1 to MaxWordLen).map { j =>
      s"""dp$j AS (
         |  SELECT * FROM (
         |    SELECT d.word, e.dst AS pos, d.cost + e.cost AS cost,
         |      CASE WHEN d.seg = '' THEN e.piece
         |           ELSE d.seg || chr(31) || e.piece END AS seg
         |    FROM a${j - 1} d
         |    JOIN edges e ON e.word = d.word AND e.src = d.pos
         |    WHERE e.dst = $j)
         |  QUALIFY row_number() OVER (PARTITION BY word
         |    ORDER BY cost, seg) = 1),
         |a$j AS MATERIALIZED (SELECT * FROM a${j - 1} UNION ALL SELECT * FROM dp$j)"""
        .stripMargin
    }.mkString(",\n")
    s"""${modelCtes(ratioPpm)},
       |words AS (SELECT word FROM wd),
       |edges AS MATERIALIZED (
       |  SELECT s.word, s.src, s.src + len(c.piece) AS dst, c.cost, c.piece
       |  FROM (SELECT word, CAST(i AS BIGINT) AS src,
       |          substr(word, CAST(i AS INTEGER) + 1, CAST(l AS INTEGER))
       |            AS piece
       |        FROM words,
       |             unnest(range(0, len(word))) t(i),
       |             unnest(range(1, ${MaxPieceLen + 1})) u(l)
       |        WHERE i + l <= len(word)) s
       |  JOIN costs c USING (piece)),
       |a0 AS (SELECT word, CAST(0 AS BIGINT) AS pos, CAST(0 AS BIGINT)
       |         AS cost, '' AS seg FROM words),
       |$layers,
       |segf AS (
       |  SELECT word, string_split(seg, chr(31)) AS pieces
       |  FROM a$MaxWordLen WHERE pos = len(word)),
       |tok AS (
       |  SELECT pw.doc_id, pw.word_pos, j AS piece_idx,
       |    p.pieces[j + 1] AS token
       |  FROM pw JOIN segf p USING (word),
       |       unnest(range(0, len(p.pieces))) t(j))""".stripMargin
  }

  /** One hard-EM refinement round over the unigram model: decode the
    * corpus under the seed model ([[tokenize]]), re-estimate piece
    * probabilities from the ACTUAL Viterbi usage counts, and rebuild
    * costs over the surviving support. This is the M-step every
    * SentencePiece-style trainer iterates (Kudo 2018 runs soft EM;
    * hard EM — count the argmax path only — is its deterministic,
    * oracle-checkable variant): threshold-selected pieces the decoder
    * never uses drop out, the single-char floor is retained for
    * coverage, and add-one smoothing over the retained support keeps
    * every cost finite.
    *
    * Scale shape: the E-step re-aggregation is one groupBy over the
    * token output (corpus-sized input, vocab-sized output, map-side
    * combining); everything after is model-sized. Iterating k rounds
    * multiplies by k — no new shuffle classes. */
  def refinedVocab(docs: DataFrame, ratioPpm: Long,
      textCol: String = "text"): DataFrame = {
    val used = tokenize(docs, ratioPpm, textCol)
      .groupBy(col("token").as("piece")).agg(count(lit(1)).as("used"))
    val floor = vocab(docs, ratioPpm, textCol)
      .filter(length(col("piece")) === 1).select("piece")
    val support = used.join(floor, Seq("piece"), "full")
      .select(col("piece"), (coalesce(col("used"), lit(0L)) + 1L).as("cnt"))
    val tot = support.agg(sum("cnt").as("tot"))
    support.crossJoin(tot)
      .withColumn("cost",
        round(lit(1000000.0) * log(col("tot").cast("double") /
          col("cnt").cast("double")), 0).cast("long"))
      .withColumn("token_id",
        row_number().over(Window.orderBy("piece")).cast("long"))
      .select("piece", "cnt", "cost", "token_id")
  }

  /** DuckDB twin of [[refinedVocab]]: the E-step re-aggregates the
    * SAME decode CTE chain the tokenize oracle certifies, so a hash
    * match here certifies the refinement end to end (decode → usage
    * counts → smoothed costs → ids). */
  def refinedVocabSql(ratioPpm: Long): String =
    s"""WITH ${decodeCtes(ratioPpm)},
       |used AS (SELECT token AS piece, count(*) AS used FROM tok GROUP BY 1),
       |floor0 AS (SELECT piece FROM costs WHERE len(piece) = 1),
       |support AS (
       |  SELECT COALESCE(u.piece, f.piece) AS piece,
       |    COALESCE(u.used, 0) + 1 AS cnt
       |  FROM used u FULL JOIN floor0 f ON u.piece = f.piece),
       |tot2 AS (SELECT sum(cnt) AS tot FROM support)
       |SELECT piece, cnt,
       |  CAST(round(1000000 * ln(CAST(tot2.tot AS DOUBLE)
       |    / CAST(cnt AS DOUBLE))) AS BIGINT) AS cost,
       |  row_number() OVER (ORDER BY piece) AS token_id
       |FROM support, tot2""".stripMargin
}
