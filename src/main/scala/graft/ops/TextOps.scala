package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, language-ID (marker-word heuristic), quality scoring,
  * document fingerprinting (rolling hash).
  *
  * Every function is a pure narrow Column expression built from
  * `org.apache.spark.sql.functions` (codegen'd, no UDFs) — at 100 TB these
  * run inside whole-stage codegen directly over the parquet scan with zero
  * shuffle. Each has a `...Sql` twin emitting the identical formula as
  * DuckDB SQL for the driver's oracle; the two are generated from the same
  * constants so they cannot drift.
  */
object TextOps {

  /** Whitespace tokens (single-space delimiter — matches DuckDB
    * string_split semantics exactly, including empty tokens). */
  def tokens(text: Column): Column = split(text, " ")
  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")
  def tokenCountSql(t: String): String = s"CAST(len(string_split($t, ' ')) AS BIGINT)"

  def charCount(text: Column): Column = length(text).cast("long")
  def charCountSql(t: String): String = s"CAST(length($t) AS BIGINT)"

  /** Mean token length = (chars - separators) / tokens, as doubles. */
  def meanTokenLen(text: Column): Column =
    (length(text) - (tokenCount(text) - lit(1L))).cast("double") /
      tokenCount(text).cast("double")
  def meanTokenLenSql(t: String): String =
    s"CAST(length($t) - (${tokenCountSql(t)} - 1) AS DOUBLE) / CAST(${tokenCountSql(t)} AS DOUBLE)"

  // ---- language ID ------------------------------------------------------
  /** Marker vocabulary per language, fixed precedence order (argmax breaks
    * ties toward the earlier entry). A classic stopword-profile n-gram
    * heuristic, deterministic and engine-portable. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "los", "las", "y", "es"),
    "zh" -> Seq("的", "是", "了"))

  /** Marker-token count: native one-pass expression
    * ([[graft.functions.MarkerCount]]) — the HOF form
    * `size(filter(tokens, in-set))` evaluates its lambda interpreted per
    * token per row, a measured hot-path cliff on 100 TB text. */
  def markerScore(text: Column, markers: Seq[String]): Column =
    graft.functions.MarkerCount(text, markers)
  def markerScoreSql(t: String, markers: Seq[String]): String = {
    val lst = markers.map(m => s"'$m'").mkString("[", ", ", "]")
    s"len(list_filter(string_split($t, ' '), x -> list_contains($lst, x)))"
  }

  /** Predicted language = argmax of marker scores, first-wins ties. */
  def langId(text: Column): Column = {
    val scores = langMarkers.map { case (l, ms) => l -> markerScore(text, ms) }
    scores.zipWithIndex.foldRight(lit(scores.last._1)) { case (((l, s), i), rest) =>
      val laterScores = scores.drop(i + 1).map(_._2)
      if (laterScores.isEmpty) rest
      else when(laterScores.map(o => s >= o).reduce(_ && _), lit(l)).otherwise(rest)
    }
  }
  def langIdSql(t: String): String = {
    val scores = langMarkers.map { case (l, ms) => l -> markerScoreSql(t, ms) }
    val arms = scores.zipWithIndex.init.map { case ((l, s), i) =>
      val cond = scores.drop(i + 1).map(o => s"$s >= ${o._2}").mkString(" AND ")
      s"WHEN $cond THEN '$l'"
    }
    s"(CASE ${arms.mkString(" ")} ELSE '${scores.last._1}' END)"
  }

  // ---- quality score ----------------------------------------------------
  /** Composite quality score in [0,1]: length saturation (50 tokens),
    * marker-stopword ratio, mean token length saturation (10 chars).
    * Formula identical on both engines; callers round for the oracle. */
  def qualityScore(text: Column): Column = {
    val nt = tokenCount(text).cast("double")
    val stopRatio = markerScore(text, allMarkers).cast("double") / nt
    least(nt / lit(50.0), lit(1.0)) * lit(0.5) +
      stopRatio * lit(0.3) +
      least(meanTokenLen(text) / lit(10.0), lit(1.0)) * lit(0.2)
  }
  private def allMarkers: Seq[String] = langMarkers.flatMap(_._2)
  def qualityScoreSql(t: String): String = {
    val nt = s"CAST(${tokenCountSql(t)} AS DOUBLE)"
    val stop = s"CAST(${markerScoreSql(t, allMarkers)} AS DOUBLE) / $nt"
    s"(least($nt / 50.0, 1.0) * 0.5 + ($stop) * 0.3 + " +
      s"least((${meanTokenLenSql(t)}) / 10.0, 1.0) * 0.2)"
  }

  // ---- repetition / curation filters (Gopher & C4-style rules) ----------
  /** Fraction of tokens that are repeats (1 − distinct/total). */
  def dupTokenFraction(text: Column): Column = {
    val toks = tokens(text)
    lit(1.0) - size(array_distinct(toks)).cast("double") / size(toks).cast("double")
  }
  def dupTokenFractionSql(t: String): String =
    s"(1.0 - CAST(len(list_distinct(string_split($t, ' '))) AS DOUBLE) / " +
      s"CAST(len(string_split($t, ' ')) AS DOUBLE))"

  /** Gopher-style keep/drop flags: token count in [minTokens, maxTokens],
    * mean token length in [3, 10], duplicate-token fraction <= maxDupFrac.
    * (Line-based rules are degenerate on single-line synthetic docs.) */
  def gopherKeep(text: Column, minTokens: Int = 10, maxTokens: Int = 100000,
      maxDupFrac: Double = 0.6): Column = {
    val nt = tokenCount(text)
    (nt >= minTokens) && (nt <= maxTokens) &&
      (meanTokenLen(text) >= 3.0) && (meanTokenLen(text) <= 10.0) &&
      (round(dupTokenFraction(text), 6) <= maxDupFrac)
  }
  def gopherKeepSql(t: String, minTokens: Int = 10, maxTokens: Int = 100000,
      maxDupFrac: Double = 0.6): String =
    s"(${tokenCountSql(t)} >= $minTokens AND ${tokenCountSql(t)} <= $maxTokens " +
      s"AND (${meanTokenLenSql(t)}) >= 3.0 AND (${meanTokenLenSql(t)}) <= 10.0 " +
      s"AND round(${dupTokenFractionSql(t)}, 6) <= $maxDupFrac)"

  // ---- normalization ----------------------------------------------------
  /** Canonical text form for normalization-aware dedup: lowercase,
    * punctuation runs → space, whitespace runs collapsed, ends trimmed.
    * RE2-safe patterns (no lookaround), so Spark's Java regex and DuckDB's
    * RE2 agree; case folding is locale-free on this corpus (ASCII —
    * asserted by the multimodal byte/codepoint checksum parity). */
  def normalize(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[.,!?;:]+", " "), " +", " "))
  def normalizeSql(t: String): String =
    s"trim(regexp_replace(regexp_replace(lower($t), '[.,!?;:]+', ' ', 'g'), ' +', ' ', 'g'))"

  // ---- HTML text extraction ---------------------------------------------
  /** Shared Java∩RE2 patterns (no lookaround, no backreferences) so the
    * engine and the DuckDB twin run the VERBATIM same extraction. */
  private val HtmlScriptPat = "(?is)<script\\b[^>]*>.*?</script>"
  private val HtmlStylePat = "(?is)<style\\b[^>]*>.*?</style>"
  private val HtmlCommentPat = "(?s)<!--.*?-->"
  private val HtmlTagPat = "(?s)<[^>]*>"
  /** Decode order matters: named/numeric entities FIRST, `&amp;` LAST —
    * otherwise `&amp;lt;` would double-decode into `<`. */
  private val HtmlEntities = Seq("&lt;" -> "<", "&gt;" -> ">",
    "&quot;" -> "\"", "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")

  /** Crawled-HTML → visible text: drop script/style blocks (content
    * included) and comments, strip remaining tags, decode the common
    * entities, collapse whitespace. This is the REGEX-CLASS extractor —
    * the standard first pass between WARC ingestion and the text
    * pipeline (boilerplate scoring/dedup/quality run downstream);
    * deliberately NOT a DOM parser, so malformed nesting degrades
    * gracefully to tag-strip instead of failing the shard. Pure
    * codegen'd string expressions — no UDF on the corpus path. */
  def htmlToText(html: Column): Column = {
    val stripped = Seq(HtmlScriptPat, HtmlStylePat, HtmlCommentPat,
      HtmlTagPat).foldLeft(html)((c, p) => regexp_replace(c, p, " "))
    val decoded = HtmlEntities.foldLeft(stripped) { case (c, (k, v)) =>
      replace(c, lit(k), lit(v))
    }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** DuckDB twin of [[htmlToText]] — identical patterns, replace order,
    * and collapse. */
  def htmlToTextSql(h: String): String = {
    def q(s: String) = s.replace("'", "''")
    val stripped = Seq(HtmlScriptPat, HtmlStylePat, HtmlCommentPat,
      HtmlTagPat).foldLeft(h)((e, p) => s"regexp_replace($e, '${q(p)}', ' ', 'g')")
    val decoded = HtmlEntities.foldLeft(stripped) { case (e, (k, v)) =>
      s"replace($e, '${q(k)}', '${q(v)}')"
    }
    s"trim(regexp_replace($decoded, '\\s+', ' ', 'g'))"
  }

  // ---- hyperlink extraction ---------------------------------------------
  /** All `<a ... href="...">` targets in an HTML page (raw, undecoded).
    * Anchor tags ONLY — `<link href>`, `<img src>`, script URLs are
    * boilerplate, not endorsements, and must not enter the link graph.
    * Same regex-class contract as [[htmlToText]]: not a DOM parser,
    * malformed nesting degrades to missed links, never a failed shard.
    * Codegen'd `regexp_extract_all` — no UDF on the crawl path. */
  def hrefs(html: Column): Column =
    regexp_extract_all(html, lit("(?i)<a\\s[^>]*href\\s*=\\s*\"([^\"]*)\""), lit(1))

  /** Resolve one href to a normalized HOST: absolute http(s) URLs keep
    * their own authority (lowercased, port/path/query/fragment
    * stripped); site-relative paths inherit the page's host; every
    * other scheme (mailto:, javascript:, data:) returns NULL — filter
    * before grouping. Host-granularity is the 100 TB link-graph
    * contract: hosts bound the node set (millions, not trillions), and
    * per-URL graphs can always re-derive from the same extraction. */
  def linkHost(href: Column, pageHost: Column): Column =
    when(href.rlike("(?i)^https?://"),
      lower(regexp_extract(href, "(?i)^https?://([^/:#?]+)", 1)))
      .when(href.startsWith("/"), pageHost)
      .otherwise(lit(null).cast("string"))

  /** Normalized host of a page URL (same extraction as [[linkHost]]'s
    * absolute branch). */
  def urlHost(url: Column): Column =
    lower(regexp_extract(url, "(?i)^https?://([^/:#?]+)", 1))

  // ---- fingerprint ------------------------------------------------------
  /** Rolling polynomial hash (base 31 mod 1e9+7) of the first `maxLen`
    * characters — a deterministic document fingerprint. Delegates to the
    * native codegen'd [[graft.functions.PolyHash]] (identical recurrence;
    * the HOF encoding paid per-character interpreted-lambda cost). */
  def fingerprint(text: Column, maxLen: Int = 32): Column =
    graft.functions.PolyHash(substring(text, 1, maxLen))
  def fingerprintSql(t: String, maxLen: Int = 32): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(1, least(length($t), $maxLen) + 1), " +
      s"i -> CAST(unicode(substr($t, CAST(i AS INT), 1)) AS BIGINT))), " +
      s"(a, b) -> (a * 31 + b) % 1000000007)"

  /** Per-document unigram entropy H = ln n − (Σ c·ln c)/n over token
    * counts — low entropy flags repetitive/templated text that the
    * distinct-fraction metric misses (it is blind to HOW skewed the
    * repeats are). Relational (explode → two aggregations), not a per-row
    * lambda: the per-doc token histogram partial-aggregates map-side, so
    * only (doc, distinct-token) count rows shuffle — never raw text.
    * Returns (doc_id, n_tokens, entropy), entropy rounded to 6 dp
    * (0 for single-token docs). */
  def tokenEntropy(df: org.apache.spark.sql.DataFrame,
      textCol: String = "text", idCol: String = "doc_id")
      : org.apache.spark.sql.DataFrame = {
    val c = Spread(df)
      .select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
    c.groupBy("doc_id")
      .agg(sum(col("c")).as("n_tokens"),
        sum(col("c").cast("double") * log(col("c").cast("double"))).as("__s"))
      .select(col("doc_id"), col("n_tokens"),
        round(log(col("n_tokens").cast("double")) -
          col("__s") / col("n_tokens").cast("double"), 6).as("entropy"))
  }

  /** Corpus heavy-hitter words — the two-pass candidate/verify pattern
    * that makes a merge-order-dependent sketch DETERMINISTIC end to end:
    *
    *  1. one scan aggregates a [[graft.functions.MisraGriesAgg]] summary
    *     (k counters per partition, k-sized merges — the full distinct
    *     vocabulary never shuffles) together with the exact token total n;
    *  2. the ≤ k candidate strings come back to the driver (sidecar-sized
    *     collect), and the MG guarantee `true > n/(k+1) ⇒ candidate` is
    *     CHECKED: `minCount > n/(k+1)` must hold or this throws — that
    *     inequality is exactly what makes "exact-count the candidates" a
    *     complete answer rather than a lossy one;
    *  3. a second scan exact-counts ONLY the candidates (broadcast hash
    *     semi-join prunes the explode) and thresholds on the exact count.
    *
    * Output = precisely the words with true frequency ≥ minCount, so the
    * DuckDB twin is a plain GROUP BY ... HAVING — sketch-free. At 100 TB
    * this is 2 scans + a k-row broadcast instead of a full-vocabulary
    * shuffle (billions of distinct tokens under Zipf). */
  def heavyHitterWords(docs: org.apache.spark.sql.DataFrame, k: Int,
      minFrac: Double, textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    require(minFrac > 1.0 / (k + 1) && minFrac <= 1.0,
      s"minFrac=$minFrac must exceed the MG miss bound 1/(k+1) = " +
        s"${1.0 / (k + 1)} or a true heavy hitter could be missed — " +
        "raise k or minFrac (scale-free: the check never depends on n)")
    val words = docs.select(
      explode(split(col(textCol), " ")).as("w")).filter(col("w") =!= "")
    val first = words.agg(count(lit(1)).as("n"),
      graft.functions.MisraGriesAgg(col("w"), k).as("mg")).head()
    val n = first.getLong(0)
    // identical threshold arithmetic to the oracle: ceil over ieee754
    val minCount = math.ceil(minFrac * n).toLong
    val cand = first.getMap[String, Long](1).keys.toSeq
    val spark = docs.sparkSession
    import spark.implicits._
    words.join(cand.toDF("w"), Seq("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
  }

  /** Per-window heavy hitters — [[heavyHitterWords]]' two-pass
    * candidate/verify pattern grouped by event-time window (the
    * per-window dominant-key monitor: abusive users, hot query terms,
    * viral documents). Pass 1 keeps ONE k-counter Misra–Gries summary
    * plus the exact count per window (state per open window is k cells,
    * the sketch's point — same bound class as the windowed CMS/hist
    * fills); pass 2 exact-counts only the per-window candidates via an
    * equi-join on (window, token) and thresholds on ceil(minFrac·n_w).
    * The scale-free `minFrac > 1/(k+1)` check makes the per-window MG
    * guarantee cover EVERY window regardless of its size, so the output
    * equals the sketch-free per-window GROUP BY/HAVING oracle exactly.
    * The candidate relation is windows×k rows — orders below the token
    * stream it prunes. */
  def windowedHeavyHitters(events: org.apache.spark.sql.DataFrame,
      tsCol: Column, windowDuration: String, tokenCol: Column, k: Int,
      minFrac: Double): org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    require(minFrac > 1.0 / (k + 1) && minFrac <= 1.0,
      s"minFrac=$minFrac must exceed the MG miss bound 1/(k+1) = " +
        s"${1.0 / (k + 1)} or a true heavy hitter could be missed in " +
        "some window — raise k or minFrac")
    val wtok = events.select(
      window(tsCol, windowDuration).as("window"), tokenCol.as("w"))
    val cand = wtok.groupBy("window")
      .agg(count(lit(1)).as("n"),
        graft.functions.MisraGriesAgg(col("w"), k).as("mg"))
      .select(col("window"), col("n"), explode(map_keys(col("mg"))).as("w"))
    // without it (sf0.1): BroadcastHashJoin BuildLeft, the token stream broadcast
    wtok.join(broadcast(cand), Seq("window", "w"))
      .groupBy(col("window"), col("w"), col("n"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= ceil(col("n") * minFrac))
      .select(col("window.start").cast("long").as("window_start"),
        col("w"), col("cnt"))
  }

  /** DuckDB twin of [[windowedHeavyHitters]]: per-window exact
    * GROUP BY/HAVING with the same time_bucket windowing and
    * ceil(minFrac·n) threshold. */
  def windowedHeavyHittersSql(table: String, tsCol: String, interval: String,
      tokenExpr: String, minFrac: Double): String =
    s"""WITH w AS (
       |  SELECT CAST(epoch(time_bucket(INTERVAL '$interval', $tsCol)) AS BIGINT)
       |    AS window_start, $tokenExpr AS w FROM $table),
       |t AS (SELECT window_start, count(*) AS n FROM w GROUP BY 1)
       |SELECT w.window_start, w.w, CAST(count(*) AS BIGINT) AS cnt
       |FROM w JOIN t USING (window_start)
       |GROUP BY w.window_start, w.w, t.n
       |HAVING count(*) >= ceil(CAST('$minFrac' AS DOUBLE) * t.n)""".stripMargin

  /** DuckDB twin of [[heavyHitterWords]]: the exact definition the
    * two-pass operator provably equals (same split, same empty-token
    * filter, same ceil(frac·n) threshold). */
  def heavyHitterWordsSql(minFrac: Double): String =
    s"""WITH w AS (
       |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
       |t AS (SELECT count(*) AS n FROM w WHERE w <> '')
       |SELECT w, CAST(count(*) AS BIGINT) AS cnt
       |FROM w CROSS JOIN t
       |WHERE w <> ''
       |GROUP BY w, t.n
       |HAVING count(*) >= ceil(CAST('$minFrac' AS DOUBLE) * t.n)""".stripMargin

  /** The FastSS deletion neighborhood of a string as a distinct array:
    * the string itself plus every single-character deletion. Two
    * DISTINCT strings are within Levenshtein distance 1 iff their
    * neighborhoods intersect-with-verification: a substitution at
    * position i means both share the delete-at-i string; an
    * insertion/deletion means one IS a deletion of the other (hence the
    * identity entry). Sharing alone over-generates (e.g. "ab"/"ba"
    * share {"a","b"} at distance 2), which is why [[fuzzyPairs]]
    * re-verifies with the exact DP distance. */
  def deletionSigs(s: Column): Column = {
    val dels = transform(sequence(lit(1), length(s)),
      i => concat(s.substr(lit(1), i - 1), s.substr(i + 1, length(s))))
    array_distinct(when(length(s) === 0, array(s))
      .otherwise(concat(array(s), dels)))
  }

  /** EXACT all-pairs Levenshtein-distance-1 join over a string relation
    * (record linkage / near-identical-ID detection — the entity
    * resolution primitive): every (s_a < s_b) pair at edit distance
    * exactly 1, found via a deletion-signature equi-join (Bocek et al.
    * 2007 FastSS), never a cartesian product.
    *
    * 100 TB shape: the input is vocabulary-sized by construction (the
    * caller dedups to distinct strings — Zipf makes that the tiny
    * relation); signatures blow it up by only (len+1)x; candidates meet
    * on an equi-join over signature strings, so the quadratic term is
    * confined to same-signature families (IDs sharing all-but-one
    * character), and verification is candidate-linear. No broadcast of
    * either side is required — both sides shuffle on the signature key. */
  def fuzzyPairs(strs: DataFrame, strCol: String = "s"): DataFrame = {
    // join on the signature's 8-byte hash, not the signature string:
    // candidate generation is drop-in identical (a hash collision can
    // only ADD a candidate, and the exact levenshtein verify kills it),
    // while the equi-join shuffles fixed-width keys
    val sigs = strs.select(col(strCol).as("s"))
      .select(col("s"), explode(deletionSigs(col("s"))).as("__sig"))
      .select(col("s"), xxhash64(col("__sig")).as("sig"))
    val cand = sigs.select(col("s").as("s_a"), col("sig"))
      .join(sigs.select(col("s").as("s_b"), col("sig")), Seq("sig"))
      .filter(col("s_a") < col("s_b"))
      .select("s_a", "s_b").distinct()
    cand.withColumn("dist", levenshtein(col("s_a"), col("s_b")))
      .filter(col("dist") <= 1)
  }

  /** DuckDB twin of [[fuzzyPairs]] — deliberately the UNPRUNED
    * quadratic join, so a hash match certifies the signature join has
    * no false negatives. */
  def fuzzyPairsSql(strsCte: String): String =
    s"""WITH v AS ($strsCte)
       |SELECT a.s AS s_a, b.s AS s_b,
       |  CAST(levenshtein(a.s, b.s) AS INT) AS dist
       |FROM v a JOIN v b
       |  ON a.s < b.s AND levenshtein(a.s, b.s) <= 1""".stripMargin

  /** Pointwise mutual information over document-level token
    * co-occurrence (Church & Hanks 1990): for token pairs appearing
    * together in >= `minCount` documents,
    * `pmi = ln(n_docs · c_ab / (c_a · c_b))` — the collocation /
    * topic-coherence signal pipelines threshold on.
    *
    * 100 TB shape: co-occurrence pairs are generated by a per-DOCUMENT
    * self-join on doc_id — bounded by (tokens per doc)², never by
    * corpus-wide df² (the viral-token blowup lives in c_a·c_b, which is
    * just two counters here). The df relation is vocabulary-sized
    * (Zipf-small, broadcastable); the corpus total rides as the one-row
    * broadcast aggregate. All counts are exact integers; the single
    * double division + ln is rounded identically on both engines. */
  def pmiPairs(docs: DataFrame, minCount: Long = 5L,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val tok = docs
      .select(col(idCol).as("doc_id"), explode(split(col(textCol), " ")).as("tok"))
      .distinct()
    val n = docs.agg(count(lit(1)).as("n"))
    val dfreq = tok.groupBy("tok").agg(count(lit(1)).as("c"))
    val co = tok.select(col("doc_id"), col("tok").as("tok_a"))
      .join(tok.select(col("doc_id"), col("tok").as("tok_b")), Seq("doc_id"))
      .filter(col("tok_a") < col("tok_b"))
      .groupBy("tok_a", "tok_b").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
    co.crossJoin(n)
      // without them (sf0.1, 16 KB threshold): 2 SortMergeJoin + 2 Exchange
      .join(broadcast(dfreq.select(col("tok").as("tok_a"), col("c").as("c_a"))),
        Seq("tok_a"))
      .join(broadcast(dfreq.select(col("tok").as("tok_b"), col("c").as("c_b"))),
        Seq("tok_b"))
      .select(col("tok_a"), col("tok_b"), col("c_ab"),
        // each factor cast to double BEFORE the multiply: BIGINT products
        // n·c_ab / c_a·c_b exceed int64 at claimed corpus scales, where
        // Spark would wrap silently while DuckDB raises — casting first
        // keeps both engines exact-to-the-ulp on the same operation order
        round(log((col("n").cast("double") * col("c_ab").cast("double")) /
          (col("c_a").cast("double") * col("c_b").cast("double"))), 6)
          .as("pmi"))
  }

  /** DuckDB twin of [[pmiPairs]]: same distinct doc-token relation, same
    * exact integer counts, same single division + ln + 6dp round. */
  def pmiPairsSql(minCount: Long): String =
    s"""WITH tok AS (
       |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |nd AS (SELECT count(*) AS n FROM documents),
       |df AS (SELECT tok, count(*) AS c FROM tok GROUP BY 1),
       |co AS (
       |  SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS c_ab
       |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND a.tok < b.tok
       |  GROUP BY 1, 2 HAVING count(*) >= $minCount)
       |SELECT tok_a, tok_b, c_ab,
       |  round(ln((CAST(nd.n AS DOUBLE) * CAST(c_ab AS DOUBLE)) /
       |    (CAST(da.c AS DOUBLE) * CAST(db.c AS DOUBLE))), 6) AS pmi
       |FROM co CROSS JOIN nd
       |JOIN df da ON tok_a = da.tok
       |JOIN df db ON tok_b = db.tok""".stripMargin

  /** GloVe-style positional co-occurrence counts (Pennington et al.
    * 2014): for every token pair within `window` positions, accumulate
    * the distance-discounted weight 1/d — the statistic GloVe factorizes
    * into word vectors, and the positional upgrade of [[pmiPairs]]'
    * doc-level counts.
    *
    * Exactness trick: weights are scaled by lcm(1..window) (12 for the
    * default window 4) so every contribution is an INTEGER — `w12 =
    * Σ 12/d` sums exactly in any order on any engine, where Σ 1/3-style
    * float sums would be summation-order-dependent and break the oracle
    * hash. Callers wanting the real weight divide once at the end.
    *
    * Pairs are canonical (least, greatest — both directions of the
    * window fold together; same-token pairs kept, as GloVe does).
    *
    * 100 TB shape: NO self-join anywhere — each distance d emits its
    * pairs by zipping the token array against itself shifted by d
    * (array slice + zip on the scan, pairs per doc = Σ(len−d), linear
    * in corpus length), and the only shuffle is the final (tok_a,
    * tok_b) count aggregate, map-side-combined under Zipf skew. As a
    * DAG the text is scanned `window` times (one slice-shift per
    * distance); at corpus scale persist the tokenized relation once
    * (the [[LmOps.bigramPerplexity]] note) or fuse the distances into
    * one generator expression. */
  def cooccurPairs(docs: DataFrame, window: Int = 4, minPairs: Long = 5L,
      textCol: String = "text"): DataFrame = {
    require(window >= 1 && window <= 4, s"window in [1,4] (lcm=12), got $window")
    require(minPairs >= 1, s"minPairs must be >= 1, got $minPairs")
    val branches = (1 to window).map { d =>
      val t = split(col(textCol), " ", -1)
      val n = greatest(size(t) - d, lit(0))
      docs.select(explode(arrays_zip(
          slice(t, lit(1), n), slice(t, lit(d + 1), n))).as("p"))
        .select(
          least(col("p").getField("0"), col("p").getField("1")).as("tok_a"),
          greatest(col("p").getField("0"), col("p").getField("1")).as("tok_b"),
          lit(12L / d).as("w"))
    }
    branches.reduce(_ unionByName _)
      .groupBy("tok_a", "tok_b")
      .agg(count(lit(1)).as("n_pairs"), sum(col("w")).as("w12"))
      .filter(col("n_pairs") >= minPairs)
  }

  /** DuckDB twin of [[cooccurPairs]]: same per-distance shifted pairs,
    * same integer lcm weights, same canonicalization. */
  def cooccurPairsSql(window: Int = 4, minPairs: Long = 5L): String = {
    require(window >= 1 && window <= 4, s"window in [1,4] (lcm=12), got $window")
    val branches = (1 to window).map { d =>
      s"""  SELECT least(ts[i], ts[i + $d]) AS tok_a,
         |    greatest(ts[i], ts[i + $d]) AS tok_b,
         |    CAST(${12L / d} AS BIGINT) AS w
         |  FROM ipos WHERE i + $d <= len(ts)""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH ts0 AS (SELECT string_split(text, ' ') AS ts FROM documents),
       |ipos AS (
       |  SELECT ts, unnest(range(1, len(ts) + 1)) AS i FROM ts0),
       |pairs AS (
       |$branches)
       |SELECT tok_a, tok_b, count(*) AS n_pairs,
       |  CAST(sum(w) AS BIGINT) AS w12
       |FROM pairs GROUP BY 1, 2 HAVING count(*) >= $minPairs""".stripMargin
  }

  /** POSITIONAL PMI: pointwise mutual information over the windowed
    * pair relation ([[cooccurPairs]]' occurrences, unweighted) instead
    * of document-level co-occurrence ([[pmiPairs]]) — the collocation
    * estimator word-embedding evaluations use (window-bounded, so
    * "York" pairs with "New", not with everything in the page):
    * `pmi = ln(N · c_ab / (m_a · m_b))` with c_ab = windowed pair
    * occurrences, m = symmetric marginals, N = total pair occurrences.
    * Self-pairs count twice in their own marginal (the symmetric-fold
    * convention, identical in the oracle). All counts exact integers;
    * one division + ln, rounded at 6.
    *
    * Scale shape: inherits [[cooccurPairs]]' no-self-join generation;
    * marginals re-aggregate the pair relation (vocab-sized), the total
    * rides a one-row broadcast. */
  def positionalPmi(docs: DataFrame, window: Int = 4, minPairs: Long = 5L,
      textCol: String = "text"): DataFrame = {
    val pairs = cooccurPairs(docs, window, minPairs = 1L, textCol)
      .select("tok_a", "tok_b", "n_pairs")
    val sym = pairs.select(col("tok_a").as("tok"), col("n_pairs"))
      .unionByName(pairs.select(col("tok_b").as("tok"), col("n_pairs")))
    val marg = sym.groupBy("tok").agg(sum(col("n_pairs")).as("m"))
    val tot = pairs.agg(sum(col("n_pairs")).as("n"))
    pairs.filter(col("n_pairs") >= minPairs)
      .join(marg.select(col("tok").as("tok_a"), col("m").as("m_a")), Seq("tok_a"))
      .join(marg.select(col("tok").as("tok_b"), col("m").as("m_b")), Seq("tok_b"))
      .crossJoin(tot)
      .select(col("tok_a"), col("tok_b"), col("n_pairs"),
        // factor-wise double cast before multiply — same int64-overflow
        // guard (and identical operation order) as [[pmiPairs]]
        round(log((col("n").cast("double") * col("n_pairs").cast("double")) /
          (col("m_a").cast("double") * col("m_b").cast("double"))), 6)
          .as("pmi"))
  }

  /** DuckDB twin of [[positionalPmi]]: [[cooccurPairsSql]]'s pair
    * relation + identical marginals, single division + ln + 6dp. */
  def positionalPmiSql(window: Int = 4, minPairs: Long = 5L): String = {
    val branches = (1 to window).map { d =>
      s"""  SELECT least(ts[i], ts[i + $d]) AS tok_a,
         |    greatest(ts[i], ts[i + $d]) AS tok_b
         |  FROM ipos WHERE i + $d <= len(ts)""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH ts0 AS (SELECT string_split(text, ' ') AS ts FROM documents),
       |ipos AS (
       |  SELECT ts, unnest(range(1, len(ts) + 1)) AS i FROM ts0),
       |praw AS (
       |$branches),
       |pairs AS (
       |  SELECT tok_a, tok_b, CAST(count(*) AS BIGINT) AS n_pairs
       |  FROM praw GROUP BY 1, 2),
       |marg AS (
       |  SELECT tok, CAST(sum(n_pairs) AS BIGINT) AS m FROM (
       |    SELECT tok_a AS tok, n_pairs FROM pairs
       |    UNION ALL SELECT tok_b, n_pairs FROM pairs) GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS n FROM pairs)
       |SELECT tok_a, tok_b, n_pairs,
       |  round(ln((CAST(tot.n AS DOUBLE) * CAST(n_pairs AS DOUBLE)) /
       |    (CAST(ma.m AS DOUBLE) * CAST(mb.m AS DOUBLE))), 6) AS pmi
       |FROM pairs CROSS JOIN tot
       |JOIN marg ma ON tok_a = ma.tok
       |JOIN marg mb ON tok_b = mb.tok
       |WHERE n_pairs >= $minPairs""".stripMargin
  }

  // ---- TF-IDF keyword extraction ----------------------------------------
  /** Per-document top-k keywords by TF-IDF — the standard "what is this
    * document about" signal used for topic tagging, cluster naming, and
    * per-domain vocabulary audits in a curation pipeline.
    *
    * score = tf · ln(N/df), ranked per doc by (rounded score desc, token
    * asc) — the engine-portable rounded-score discipline shared with BM25.
    *
    * Scale shape: tf is born aggregated in the (doc, token) groupBy on the
    * scan (map-side partial combine eats Zipf skew); df reduces tf again
    * by token. The tf⋈df join is a plain token equi-join — deliberately
    * NOT broadcast-hinted, because at 100 TB the distinct-token relation
    * is itself huge (noise tokens); AQE broadcasts it when it is in fact
    * small. N rides a one-row broadcast. The per-doc rank is a
    * WindowGroupLimit (partial top-k before the doc exchange). */
  def tfidfTopK(docs: DataFrame, k: Int = 5, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val tf = docs
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, Seq("tok"))
      .crossJoin(nDocs)
      .withColumn("score", round(col("tf").cast("double") *
        log(col("n_docs").cast("double") / col("df").cast("double")), 6))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("tok").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("doc_id", "tok", "tf", "df", "score", "rank")
  }

  /** DuckDB twin of [[tfidfTopK]]: same tokenization, same tf·ln(N/df)
    * operation order, same rounded-score + token tie-break rank. */
  def tfidfTopKSql(k: Int = 5): String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |tf AS (
       |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
       |  FROM tok GROUP BY 1, 2),
       |dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
       |          FROM tf GROUP BY 1),
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
       |scored AS (
       |  SELECT doc_id, tok, tf, df,
       |    round(CAST(tf AS DOUBLE) *
       |      ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS score
       |  FROM tf JOIN dfreq USING (tok) CROSS JOIN nd),
       |ranked AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
       |    ORDER BY score DESC, tok ASC) AS INT) AS rank FROM scored)
       |SELECT doc_id, tok, tf, df, score, rank FROM ranked
       |WHERE rank <= $k""".stripMargin

  /** Domain-distinctive terms: TF-IDF at GROUP granularity — tf is the
    * term's total count inside the domain (source/language), df the
    * number of domains containing it, N the domain count. The "what is
    * this source about, relative to the others" audit a mixture designer
    * reads before setting domain weights. Same scale shape and rounded
    * ranking as [[tfidfTopK]], but every aggregate is domain-sized:
    * (domain, token) rows after the first combine, never doc-sized. */
  def domainTfidfTopK(docs: DataFrame, groupCol: String, k: Int = 10,
      textCol: String = "text"): DataFrame = {
    val tf = docs
      .select(col(groupCol).as("domain"), explode(tokens(col(textCol))).as("tok"))
      .groupBy("domain", "tok").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val nd = docs.agg(countDistinct(col(groupCol)).as("n_domains"))
    val scored = tf.join(dfreq, Seq("tok"))
      .crossJoin(nd)
      .withColumn("score", round(col("tf").cast("double") *
        log(col("n_domains").cast("double") / col("df").cast("double")), 6))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("domain")
      .orderBy(col("score").desc, col("tok").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("domain", "tok", "tf", "df", "score", "rank")
  }

  /** DuckDB twin of [[domainTfidfTopK]] over the documents table. */
  def domainTfidfTopKSql(groupCol: String, k: Int = 10): String =
    s"""WITH tok AS (
       |  SELECT $groupCol AS domain, unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |tf AS (
       |  SELECT domain, tok, CAST(count(*) AS BIGINT) AS tf
       |  FROM tok GROUP BY 1, 2),
       |dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
       |          FROM tf GROUP BY 1),
       |nd AS (SELECT CAST(count(DISTINCT $groupCol) AS BIGINT) AS n_domains
       |       FROM documents),
       |scored AS (
       |  SELECT domain, tok, tf, df,
       |    round(CAST(tf AS DOUBLE) *
       |      ln(CAST(n_domains AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS score
       |  FROM tf JOIN dfreq USING (tok) CROSS JOIN nd),
       |ranked AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY domain
       |    ORDER BY score DESC, tok ASC) AS INT) AS rank FROM scored)
       |SELECT domain, tok, tf, df, score, rank FROM ranked
       |WHERE rank <= $k""".stripMargin

  /** DuckDB twin of [[tokenEntropy]] (same tokenization, same
    * ln-n − Σc·ln(c)/n form, same rounding). */
  def tokenEntropySql(): String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
      |  FROM tok GROUP BY 1, 2),
      |a AS (
      |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
      |    sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS s
      |  FROM c GROUP BY 1)
      |SELECT doc_id, n_tokens,
      |  round(ln(CAST(n_tokens AS DOUBLE)) - s / CAST(n_tokens AS DOUBLE), 6)
      |    AS entropy
      |FROM a""".stripMargin

  // ---- trained naive-Bayes language identification -----------------------
  /** Char-trigram relation of (carry..., tri) — the feature extractor
    * shared by training and scoring (and, verbatim, by the SQL twin).
    * Docs shorter than 3 chars emit nothing (unclassifiable; the
    * descending-`sequence` footgun is guarded). */
  private def charTrigrams(df: DataFrame, textCol: String,
      carry: Seq[String]): DataFrame =
    df.select(carry.map(col) :+ explode(expr(
      s"CASE WHEN length($textCol) >= 3 THEN transform(" +
        s"sequence(1, length($textCol) - 2), i -> substring($textCol, i, 3)) " +
        "ELSE CAST(array() AS array<string>) END")).as("tri"): _*)

  /** Language-ID confusion matrix of an IN-ENGINE-TRAINED multinomial
    * naive-Bayes char-trigram classifier against the corpus labels —
    * the production upgrade of the [[langId]] marker heuristic (the
    * fastText-langid formulation, trained and applied as one relational
    * pipeline; resubstitution evaluation, the
    * `quality_classifier_trained` discipline).
    *
    * Engine-portable exactness: model weights are 1e6-scaled INTEGER
    * log-likelihoods w(l,t) = round(ln((c+1)/(T_l+V))·1e6) (add-one
    * smoothing; OOV trigrams get the same-denominator zero-count
    * weight), so every per-doc score is an exact integer sum
    * Σ c_d(t)·w(l,t) — no float accumulation order anywhere — and the
    * argmax tie-breaks on lang ascending.
    *
    * 100 TB shape: the trigram relation is char-volume but feeds exactly
    * two map-side-combined aggregates (per-doc profile, per-lang model);
    * the model is langs × trigram-vocab (bounded, broadcast-joinable);
    * scoring is doc-profile × |langs| (a small broadcast lang list +
    * one model equi-join); the argmax window partitions per doc.
    * Returns (lang, pred_lang, n) — sub-3-char docs are excluded
    * (documented above). */
  def nbLangConfusion(docs: DataFrame, textCol: String = "text",
      langCol: String = "lang", idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tri = charTrigrams(Spread(docs), textCol, Seq(idCol, langCol))
    // NOTE (r15): fusing dt and model into one (doc_id, lang, tri)
    // aggregate re-read by both was tried and MEASURED SLOWER (2.8 →
    // 5.7 s at sf0.1): the two aggregates partial-aggregate map-side,
    // so their shuffles are already tiny, while the fused relation adds
    // a full (doc × trigram)-keyed exchange that the (lang, tri)
    // re-aggregate cannot reuse. The double char-explode is the cheaper
    // side of that trade.
    val dt = tri.groupBy(col(idCol).as("doc_id"), col("tri"))
      .agg(count(lit(1)).as("cd"))
    val model = tri.groupBy(col(langCol).as("lang"), col("tri"))
      .agg(count(lit(1)).as("c"))
    val tl = model.groupBy("lang").agg(sum(col("c")).as("t"))
    val vocab = model.agg(count_distinct(col("tri")).as("v"))
    val w = model.join(tl, Seq("lang")).crossJoin(vocab)
      .select(col("lang"), col("tri"),
        round(log((col("c") + 1).cast("double") /
          (col("t") + col("v")).cast("double")) * 1e6).cast("long").as("w"))
    val oov = tl.crossJoin(vocab).select(col("lang"),
      round(log(lit(1.0) / (col("t") + col("v")).cast("double")) * 1e6)
        .cast("long").as("w0"))
    // without it (sf0.1): BroadcastNestedLoopJoin BuildLeft, the per-document counts broadcast
    val scored = dt.crossJoin(broadcast(oov))
      .join(w, Seq("lang", "tri"), "left")
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("cd") * coalesce(col("w"), col("w0"))).as("score"))
    val wn = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("lang").asc)
    val pred = scored.withColumn("rn", row_number().over(wn))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang").as("pred_lang"))
    docs.select(col(idCol).as("doc_id"), col(langCol).as("lang"))
      .join(pred, Seq("doc_id"))
      .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
  }

  /** DuckDB twin of [[nbLangConfusion]] over the documents table: same
    * trigram extractor, same integer weights, same argmax tie-break. */
  def nbLangConfusionSql(): String =
    """WITH tri AS (
      |  SELECT doc_id, lang, substr(text, CAST(i AS INT), 3) AS tri
      |  FROM (SELECT doc_id, lang, text,
      |          unnest(range(1, greatest(length(text) - 1, 1))) AS i
      |        FROM documents)),
      |dt AS (SELECT doc_id, tri, CAST(count(*) AS BIGINT) AS cd
      |       FROM tri GROUP BY 1, 2),
      |model AS (SELECT lang, tri, CAST(count(*) AS BIGINT) AS c
      |          FROM tri GROUP BY 1, 2),
      |tl AS (SELECT lang, CAST(sum(c) AS BIGINT) AS t FROM model GROUP BY 1),
      |vocab AS (SELECT CAST(count(DISTINCT tri) AS BIGINT) AS v FROM model),
      |w AS (SELECT model.lang, model.tri,
      |        CAST(round(ln(CAST(c + 1 AS DOUBLE) /
      |          CAST(t + v AS DOUBLE)) * 1e6) AS BIGINT) AS w
      |      FROM model JOIN tl USING (lang) CROSS JOIN vocab),
      |oov AS (SELECT lang,
      |          CAST(round(ln(1.0 / CAST(t + v AS DOUBLE)) * 1e6) AS BIGINT)
      |            AS w0
      |        FROM tl CROSS JOIN vocab),
      |scored AS (
      |  SELECT dt.doc_id, oov.lang,
      |    CAST(sum(dt.cd * COALESCE(w.w, oov.w0)) AS BIGINT) AS score
      |  FROM dt CROSS JOIN oov
      |  LEFT JOIN w ON w.lang = oov.lang AND w.tri = dt.tri
      |  GROUP BY 1, 2),
      |pred AS (
      |  SELECT doc_id, lang AS pred_lang FROM (
      |    SELECT *, row_number() OVER (PARTITION BY doc_id
      |      ORDER BY score DESC, lang ASC) AS rn FROM scored)
      |  WHERE rn = 1)
      |SELECT d.lang, p.pred_lang, CAST(count(*) AS BIGINT) AS n
      |FROM documents d JOIN pred p USING (doc_id)
      |GROUP BY 1, 2""".stripMargin

  // ---- distinctive terms (weighted log-odds) ------------------------------

  /** Distinctive-terms readout between one document group and the rest:
    * Monroe, Colaresi & Quinn 2008 ("Fightin' Words") weighted log-odds
    * with an informative Dirichlet prior — the statistically-grounded
    * alternative to [[domainTfidfTopK]] that does not over-reward rare
    * words (the prior shrinks low-count terms toward the corpus rate,
    * and the variance term z-normalizes the odds difference).
    *
    * For each word w with corpus count y and group counts y_a / y_b:
    * prior a_w = alpha0 * y / n; delta = ln((y_a + a_w)/(n_a + alpha0 −
    * y_a − a_w)) − ln((y_b + a_w)/(n_b + alpha0 − y_b − a_w)); var =
    * 1/(y_a + a_w) + 1/(y_b + a_w); z = delta/sqrt(var), rounded at 6.
    * Returns the k most A-distinctive (side 'a', z desc) and k most
    * B-distinctive (side 'b', z asc) words as
    * (side, rank, word, y_a, y_b, z) — ties break on the word so the
    * cut is deterministic on both engines; a word qualifying for both
    * sides (only possible when the pruned vocab is < 2k) reports side
    * 'a'.
    *
    * Cross-engine determinism: all counts are exact integers; the z
    * assembly is a fixed token-order double expression (factor-wise
    * casts; division inside each ln) identical in the twin.
    *
    * 100 TB shape: ONE token scan feeds a vocab-sized conditional-sum
    * groupBy (map-side combined — never a per-doc pivot); totals ride a
    * one-row broadcast; the rank windows run on the minCount-pruned z
    * relation, and Zipf makes that pruning hyperbolic — at corpus scale
    * pick minCount so the ranked relation is small, which the analysis
    * wants anyway (a 3-count word cannot be "distinctive"). */
  def logOddsTerms(docs: DataFrame, groupCol: String, groupA: String,
      alpha0: Double = 100.0, minCount: Long = 5L, k: Int = 20,
      textCol: String = "text"): DataFrame = {
    require(alpha0 > 0.0, s"alpha0 must be > 0, got $alpha0")
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    require(k >= 1, s"k must be >= 1, got $k")
    val counts = docs.select((col(groupCol) === groupA).as("in_a"),
        explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(
        sum(when(col("in_a"), 1L).otherwise(0L)).as("y_a"),
        sum(when(col("in_a"), 0L).otherwise(1L)).as("y_b"))
    val tot = counts.agg(sum("y_a").as("n_a"), sum("y_b").as("n_b"))
    val scored = counts.filter(col("y_a") + col("y_b") >= minCount)
      .crossJoin(tot)
      .withColumn("aw", lit(alpha0) *
        (col("y_a") + col("y_b")).cast("double") /
        (col("n_a") + col("n_b")).cast("double"))
      .withColumn("d",
        log((col("y_a").cast("double") + col("aw")) /
          (col("n_a").cast("double") + lit(alpha0) -
            col("y_a").cast("double") - col("aw"))) -
        log((col("y_b").cast("double") + col("aw")) /
          (col("n_b").cast("double") + lit(alpha0) -
            col("y_b").cast("double") - col("aw"))))
      .withColumn("v",
        lit(1.0) / (col("y_a").cast("double") + col("aw")) +
        lit(1.0) / (col("y_b").cast("double") + col("aw")))
      .withColumn("z", round(col("d") / sqrt(col("v")), 6))
    val wa = org.apache.spark.sql.expressions.Window
      .orderBy(col("z").desc, col("w").asc)
    val wb = org.apache.spark.sql.expressions.Window
      .orderBy(col("z").asc, col("w").asc)
    scored.withColumn("ra", row_number().over(wa))
      .withColumn("rb", row_number().over(wb))
      .filter(col("ra") <= k || col("rb") <= k)
      .select(
        when(col("ra") <= k, lit("a")).otherwise(lit("b")).as("side"),
        when(col("ra") <= k, col("ra")).otherwise(col("rb")).as("rank"),
        col("w").as("word"), col("y_a"), col("y_b"), col("z"))
  }

  /** DuckDB twin of [[logOddsTerms]] over the `documents` table. */
  def logOddsTermsSql(groupCol: String, groupA: String,
      alpha0: Double = 100.0, minCount: Long = 5L, k: Int = 20): String = {
    require(alpha0 > 0.0, s"alpha0 must be > 0, got $alpha0")
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    require(k >= 1, s"k must be >= 1, got $k")
    val ga = "'" + groupA.replace("'", "''") + "'"
    s"""WITH counts AS (
       |  SELECT w,
       |    CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS y_a,
       |    CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS y_b
       |  FROM (
       |    SELECT ($groupCol = $ga) AS in_a,
       |      unnest(string_split(text, ' ')) AS w
       |    FROM documents)
       |  WHERE w <> '' GROUP BY 1),
       |tot AS (SELECT CAST(sum(y_a) AS BIGINT) AS n_a,
       |  CAST(sum(y_b) AS BIGINT) AS n_b FROM counts),
       |pruned AS (
       |  SELECT w, y_a, y_b, n_a, n_b,
       |    $alpha0 * CAST(y_a + y_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)
       |      AS aw
       |  FROM counts CROSS JOIN tot
       |  WHERE y_a + y_b >= $minCount),
       |dv AS (
       |  SELECT w, y_a, y_b,
       |    ln((CAST(y_a AS DOUBLE) + aw) /
       |       (CAST(n_a AS DOUBLE) + $alpha0 - CAST(y_a AS DOUBLE) - aw))
       |    - ln((CAST(y_b AS DOUBLE) + aw) /
       |       (CAST(n_b AS DOUBLE) + $alpha0 - CAST(y_b AS DOUBLE) - aw))
       |      AS d,
       |    1.0 / (CAST(y_a AS DOUBLE) + aw)
       |      + 1.0 / (CAST(y_b AS DOUBLE) + aw) AS v
       |  FROM pruned),
       |ranked AS (
       |  SELECT w, y_a, y_b, round(d / sqrt(v), 6) AS z FROM dv),
       |rr AS (
       |  SELECT *,
       |    CAST(row_number() OVER (ORDER BY z DESC, w ASC) AS INT) AS ra,
       |    CAST(row_number() OVER (ORDER BY z ASC, w ASC) AS INT) AS rb
       |  FROM ranked)
       |SELECT CASE WHEN ra <= $k THEN 'a' ELSE 'b' END AS side,
       |  CASE WHEN ra <= $k THEN ra ELSE rb END AS rank,
       |  w AS word, y_a, y_b, z
       |FROM rr WHERE ra <= $k OR rb <= $k""".stripMargin
  }

  // ---- Jaro-Winkler similarity join ----------------------------------------

  /** EXACT Jaro–Winkler self-join: all unordered string pairs with
    * `round(jw, 6) >= tauMilli/1000` — the record-linkage counterpart
    * of [[fuzzyPairs]] (graded similarity instead of edit-distance-1),
    * scored by the native codegen'd [[graft.functions.JaroWinkler]]
    * whose semantics are pinned to DuckDB/RapidFuzz so the UNPRUNED
    * quadratic oracle recomputes it verbatim.
    *
    * Candidate pruning is LOSSLESS by the length bound: with prefix
    * bonus capped at 0.4(1−jaro), jw >= τ forces jaro >= (τ−0.4)/0.6,
    * and jaro <= (2 + min/max)/3 forces min/max >= 5τ−4 — so the
    * shorter side's length must land in [⌈(5τ−4)·L⌉, L] of the longer
    * side's L. The longer side emits exactly those INTEGER length keys
    * (no float banding, so the capture guarantee is arithmetic, not
    * approximate) and candidates equi-join on the shorter side's own
    * length; the exact rounded-jw filter then decides. Requires
    * tauMilli > 800 (below that the ratio bound is vacuous and the join
    * would be quadratic by construction — block upstream instead).
    *
    * 100 TB shape: candidates are bounded by strings-per-length-band ×
    * the (1−(5τ−4))·L keys each string emits (a handful for
    * record-linkage strings); the join is a hash equi-join on the
    * length key — no cross join anywhere; the certified-lossless
    * contract is the same unpruned-oracle discipline as the
    * Jaccard/containment tiers. */
  def jaroWinklerPairs(strings: DataFrame, tauMilli: Int = 980,
      salts: Int = 32): DataFrame = {
    require(800 < tauMilli && tauMilli < 1000,
      s"tauMilli must be in (800, 1000), got $tauMilli")
    require(salts >= 1, s"salts must be >= 1, got $salts")
    val r0num = 5L * tauMilli - 4000L // min/max >= r0num/1000, exact
    val base = strings.select(col("s")).filter(col("s").isNotNull)
      .distinct()
      .withColumn("len", octet_length(col("s")).cast("long"))
      .filter(col("len") > 0)
    // record-linkage strings cluster on a handful of lengths, so the
    // bare length key is maximally skewed (one key = one task = a
    // serial nested loop); a deterministic salt on the shorter side +
    // salt replication on the longer side splits each hot length
    // across `salts` tasks without changing the candidate set
    val short = base.select(col("s").as("s_x"), col("len").as("lx"))
      .withColumn("salt", pmod(xxhash64(col("s_x")), lit(salts)))
    val long_ = base.select(col("s").as("s_y"), col("len").as("ly"))
      .withColumn("k",
        explode(expr(s"sequence(($r0num * ly + 999) div 1000, ly)")))
      .withColumn("salt", explode(expr(s"sequence(0L, ${salts - 1}L)")))
    val tau = tauMilli.toDouble / 1000.0
    // the similarity conjunct is written LAST so the cheap ordering
    // test rejects the mirrored half of each bucket before the kernel
    // runs; the explicit salt repartition keeps AQE from coalescing the
    // row-tiny but compute-heavy probe side into one task
    short.repartition(salts, col("salt"))
      .join(long_,
        col("lx") === col("k") && short("salt") === long_("salt") &&
        (col("lx") < col("ly") ||
          (col("lx") === col("ly") && col("s_x") < col("s_y"))) &&
        round(graft.functions.JaroWinkler(col("s_x"), col("s_y")), 6)
          >= lit(tau))
      .select(least(col("s_x"), col("s_y")).as("s_a"),
        greatest(col("s_x"), col("s_y")).as("s_b"),
        round(graft.functions.JaroWinkler(col("s_x"), col("s_y")), 6)
          .as("jw"))
  }

  /** DuckDB twin of [[jaroWinklerPairs]] — deliberately the UNPRUNED
    * quadratic join over `stringsCte` (one column `s`), so a hash match
    * certifies the length-key pruning lost nothing. */
  def jaroWinklerPairsSql(stringsCte: String, tauMilli: Int = 980): String = {
    require(800 < tauMilli && tauMilli < 1000,
      s"tauMilli must be in (800, 1000), got $tauMilli")
    val tau = tauMilli.toDouble / 1000.0
    s"""WITH strs AS (
       |  SELECT DISTINCT s FROM ($stringsCte)
       |  WHERE s IS NOT NULL AND strlen(s) > 0)
       |SELECT a.s AS s_a, b.s AS s_b,
       |  round(jaro_winkler_similarity(a.s, b.s), 6) AS jw
       |FROM strs a JOIN strs b ON a.s < b.s
       |WHERE round(jaro_winkler_similarity(a.s, b.s), 6) >= $tau""".stripMargin
  }

  // ---- RAKE keyphrase extraction -------------------------------------------

  /** RAKE keyphrase extraction (Rose et al. 2010): candidate phrases are
    * maximal stopword-free token runs; each word scores deg/freq (deg =
    * total length of candidate phrases containing it, freq = its
    * occurrences), and a phrase scores the sum of its words' scores —
    * multi-word technical phrases outrank bare frequent words, which is
    * why RAKE is the classic cheap corpus-keyphrase pass.
    *
    * Determinism: deg and freq are exact integers; each word's score is
    * integer-scaled to round(1e6·deg/freq) and phrases SUM those BIGINTs
    * (the RBO/DCG discipline — float summation order never matters).
    * Phrase strings rebuild via position-sorted aggregation on both
    * engines. Returns the corpus top-k distinct phrases:
    * (rank, phrase, n_occurrences, score_e6), ranked score desc with
    * the phrase string as tie-break; singleton-run phrases score their
    * single word, and phrases are counted once per occurrence.
    *
    * 100 TB shape: one posexplode scan → gaps-and-islands run ids via a
    * per-doc window (doc-bounded) → phrase + word relations both
    * corpus-sized but shingle-class (the dedup passes already move this
    * volume); word stats aggregate to vocab size and broadcast back via
    * an equi-join; the final rank window runs on the minCount-pruned
    * distinct-phrase relation. */
  def rakeKeyphrases(docs: DataFrame, stopwords: Seq[String], k: Int = 20,
      minCount: Long = 2L, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(stopwords.nonEmpty, "need a stopword list")
    require(k >= 1 && minCount >= 1, s"bad k=$k / minCount=$minCount")
    val stopLit = typedlit(stopwords)
    val toks = docs.select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), " ")).as(Seq("pos", "tok")))
      .filter(col("tok") =!= "")
      .withColumn("stop", array_contains(stopLit, col("tok")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val runs = toks
      .withColumn("nsrank",
        sum(when(col("stop"), 0L).otherwise(1L)).over(w))
      .filter(!col("stop"))
      .withColumn("run", col("pos") - col("nsrank"))
    val phrases = runs.groupBy("doc_id", "run")
      .agg(array_join(expr(
        "transform(array_sort(collect_list(struct(pos, tok))), s -> s.tok)"),
        " ").as("phrase"),
        collect_list(col("tok")).as("words"))
    val wordStats = phrases
      .select(explode(col("words")).as("tok"), size(col("words")).as("plen"))
      .groupBy("tok")
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      .select(col("tok"), expr(
        "CAST(round(1000000.0 * CAST(deg AS DOUBLE)" +
          " / CAST(freq AS DOUBLE)) AS BIGINT)").as("ws_e6"))
    val scored = phrases.select(col("phrase"), explode(col("words")).as("tok"))
      .join(wordStats, Seq("tok"))
      .groupBy("phrase")
      // each phrase OCCURRENCE contributes one copy of every word, so
      // dividing the summed word scores by the occurrence count gives
      // the per-occurrence phrase score exactly
      .agg(sum(col("ws_e6")).as("total_e6"))
    val occ = phrases.groupBy("phrase").agg(count(lit(1)).as("n_occurrences"))
    val rw = org.apache.spark.sql.expressions.Window
      .orderBy(col("score_e6").desc, col("phrase").asc)
    scored.join(occ, Seq("phrase"))
      .filter(col("n_occurrences") >= minCount)
      .withColumn("score_e6", expr("total_e6 div n_occurrences"))
      .withColumn("rank", row_number().over(rw))
      .filter(col("rank") <= k)
      .select(col("rank"), col("phrase"), col("n_occurrences"),
        col("score_e6"))
  }

  /** DuckDB twin of [[rakeKeyphrases]] over the `documents` table. */
  def rakeKeyphrasesSql(stopwords: Seq[String], k: Int = 20,
      minCount: Long = 2L): String = {
    require(stopwords.nonEmpty, "need a stopword list")
    require(k >= 1 && minCount >= 1, s"bad k=$k / minCount=$minCount")
    val lst = stopwords.map(s => "'" + s.replace("'", "''") + "'")
      .mkString("[", ", ", "]")
    s"""WITH toks AS (
       |  SELECT doc_id, i AS pos, ts[i] AS tok,
       |    list_contains($lst, ts[i]) AS stop
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ts
       |        FROM documents) t,
       |    unnest(range(1, len(ts) + 1)) u(i)
       |  WHERE ts[i] <> ''),
       |runs AS (
       |  SELECT doc_id, pos, tok,
       |    pos - sum(CASE WHEN stop THEN 0 ELSE 1 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
       |  FROM toks QUALIFY NOT stop),
       |phrases AS (
       |  SELECT doc_id, run,
       |    string_agg(tok, ' ' ORDER BY pos) AS phrase,
       |    CAST(count(*) AS BIGINT) AS plen
       |  FROM runs GROUP BY 1, 2),
       |pw AS (
       |  SELECT p.phrase, r.tok, p.plen
       |  FROM phrases p JOIN runs r
       |    ON r.doc_id = p.doc_id AND r.run = p.run),
       |wordstats AS (
       |  SELECT tok,
       |    CAST(round(1000000.0 * CAST(sum(plen) AS DOUBLE)
       |      / CAST(count(*) AS DOUBLE)) AS BIGINT) AS ws_e6
       |  FROM pw GROUP BY 1),
       |scored AS (
       |  SELECT pw.phrase, CAST(sum(ws.ws_e6) AS BIGINT) AS total_e6
       |  FROM pw JOIN wordstats ws USING (tok) GROUP BY 1),
       |occ AS (
       |  SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences
       |  FROM phrases GROUP BY 1)
       |SELECT CAST(rank AS INT) AS rank, phrase, n_occurrences, score_e6
       |FROM (
       |  SELECT s.phrase, o.n_occurrences,
       |    s.total_e6 // o.n_occurrences AS score_e6,
       |    row_number() OVER (ORDER BY s.total_e6 // o.n_occurrences DESC,
       |      s.phrase ASC) AS rank
       |  FROM scored s JOIN occ o USING (phrase)
       |  WHERE o.n_occurrences >= $minCount)
       |WHERE rank <= $k""".stripMargin
  }

  // ---- TextRank keywords -----------------------------------------------------

  /** TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004): run
    * PageRank over the window-co-occurrence word graph and keep the
    * top-k words — the graph-centrality complement to [[rakeKeyphrases]]
    * (RAKE scores phrases locally; TextRank scores words by global
    * graph position, surfacing hub terms that never sit in long runs).
    *
    * Pure composition of certified machinery: [[cooccurPairs]] builds
    * the weighted undirected graph (lcm-integer window weights), a
    * deterministic vocab numbering (row_number over token order) maps
    * words onto the LONG node ids [[GraphOps.weightedPageRank]]
    * requires, and the fixed-round rank vector joins back to words.
    * The top-k cut orders by the ROUNDED rank (9dp, the PageRank twin's
    * own contract) with the word as tie-break.
    *
    * 100 TB shape: inherits cooccurPairs' no-self-join pair generation
    * and weightedPageRank's node-keyed per-round joins; the vocab
    * numbering window runs on the minPairs-pruned vocabulary (Zipf-
    * bounded, same contract as [[logOddsTerms]]'s rank window). */
  def textRankKeywords(docs: DataFrame, window: Int = 4,
      minPairs: Long = 5L, iters: Int = 4, k: Int = 20,
      textCol: String = "text"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val pairs = cooccurPairs(docs, window, minPairs, textCol)
    val vw = org.apache.spark.sql.expressions.Window.orderBy("tok")
    val vocab = pairs.select(col("tok_a").as("tok"))
      .unionByName(pairs.select(col("tok_b").as("tok"))).distinct()
      .withColumn("id", row_number().over(vw).cast("long"))
    val ed = pairs
      .join(vocab.select(col("tok").as("tok_a"), col("id").as("src")),
        Seq("tok_a"))
      .join(vocab.select(col("tok").as("tok_b"), col("id").as("dst")),
        Seq("tok_b"))
      .select(col("src"), col("dst"), col("w12").as("w"))
    val edges = ed.unionByName(
      ed.select(col("dst").as("src"), col("src").as("dst"), col("w")))
    val pr = GraphOps.weightedPageRank(edges, iters)
      .select(col("node").as("id"), round(col("rank"), 9).as("rank"))
    val rw = org.apache.spark.sql.expressions.Window
      .orderBy(col("rank").desc, col("tok").asc)
    pr.join(vocab, Seq("id"))
      .withColumn("pos", row_number().over(rw))
      .filter(col("pos") <= k)
      .select(col("pos").as("rank_pos"), col("tok").as("word"), col("rank"))
  }

  /** DuckDB twin of [[textRankKeywords]] — composes the cooccurPairs
    * and weightedPageRank twins around the same vocab numbering. */
  def textRankKeywordsSql(window: Int = 4, minPairs: Long = 5L,
      iters: Int = 4, k: Int = 20): String = {
    require(k >= 1, s"k must be >= 1, got $k")
    val pairsSql = cooccurPairsSql(window, minPairs)
    val edgesCte =
      s"""WITH pairs0 AS (
         |$pairsSql
         |),
         |vocab0 AS (
         |  SELECT tok, CAST(row_number() OVER (ORDER BY tok) AS BIGINT)
         |    AS id
         |  FROM (SELECT tok_a AS tok FROM pairs0
         |        UNION SELECT tok_b FROM pairs0)),
         |ed AS (
         |  SELECT va.id AS src, vb.id AS dst, p.w12 AS w
         |  FROM pairs0 p
         |  JOIN vocab0 va ON va.tok = p.tok_a
         |  JOIN vocab0 vb ON vb.tok = p.tok_b)
         |SELECT src, dst, w FROM ed
         |UNION ALL SELECT dst, src, w FROM ed""".stripMargin
    val prSql = GraphOps.weightedPageRankSql(edgesCte, iters, 0.85)
    s"""WITH pr AS (
       |$prSql
       |),
       |pairs1 AS (
       |$pairsSql
       |),
       |vocab1 AS (
       |  SELECT tok, CAST(row_number() OVER (ORDER BY tok) AS BIGINT)
       |    AS id
       |  FROM (SELECT tok_a AS tok FROM pairs1
       |        UNION SELECT tok_b FROM pairs1))
       |SELECT CAST(pos AS INT) AS rank_pos, word, rank FROM (
       |  SELECT v.tok AS word, pr.rank,
       |    row_number() OVER (ORDER BY pr.rank DESC, v.tok ASC) AS pos
       |  FROM pr JOIN vocab1 v ON v.id = pr.node)
       |WHERE pos <= $k""".stripMargin
  }
}
