package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.BpeOps

/** BPE merge induction: the classic Sennrich fixture plus a differential
  * check against a driver-side reference trainer on random corpora. */
class BpeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get
  import spark.implicits._

  /** Driver-side reference BPE (literal transcription of the semantics:
    * word-freq dict, overlapping pair counts, argmax with (freq desc,
    * l asc, r asc) tie-break, leftmost-first non-overlapping rewrite). */
  private def referenceTrain(corpus: Seq[String], nMerges: Int): Seq[(String, String)] = {
    var dict: Map[Vector[String], Long] = corpus.flatMap(_.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, ws) =>
        (w.map(_.toString).toVector :+ "</w>") -> ws.size.toLong
      }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var i = 0
    while (i < nMerges) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      dict.foreach { case (syms, f) =>
        syms.sliding(2).filter(_.size == 2).foreach { p =>
          counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + f
        }
      }
      if (counts.isEmpty) i = nMerges
      else {
        // tie-break must mirror Spark's BINARY (code-point) string order,
        // not Scala's UTF-16 code-unit compareTo — they disagree for
        // supplementary-plane vs U+E000..U+FFFF symbols
        import scala.math.Ordering.Implicits._
        def cp(s: String): List[Int] = s.codePoints().toArray.toList
        val (l, r) = counts.toSeq
          .minBy { case ((a, b), c) => (-c, cp(a), cp(b)) }._1
        merges += ((l, r))
        dict = dict.map { case (syms, f) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var j = 0
          while (j < syms.length) {
            if (j + 1 < syms.length && syms(j) == l && syms(j + 1) == r) {
              out += l + r; j += 2
            } else { out += syms(j); j += 1 }
          }
          out.toVector -> f
        }
        i += 1
      }
    }
    merges.toSeq
  }

  test("classic fixture: merges build 'est</w>' from newest/widest") {
    val corpus = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val docs = Seq((0L, corpus.mkString(" "))).toDF("doc_id", "text")
    val merges = BpeOps.train(docs, 5)
    assert(merges == referenceTrain(corpus.mkString(" ") :: Nil, 5))
    // the famous outcome: 'es' then 'est' early (freq 9 from newest+widest)
    assert(merges.take(2).contains(("e", "s")))
    assert(merges.contains(("es", "t")) || merges.contains(("e", "st")))
  }

  test("differential: distributed train == reference on random corpora") {
    for (seed <- Seq(2, 31)) {
      val rnd = new scala.util.Random(seed)
      val words = Seq.fill(30)(
        Seq.fill(1 + rnd.nextInt(5))(('a' + rnd.nextInt(4)).toChar).mkString)
      val text = Seq.fill(120)(words(rnd.nextInt(words.size))).mkString(" ")
      val docs = Seq((0L, text)).toDF("doc_id", "text")
      val got = BpeOps.train(docs, 8)
      assert(got == referenceTrain(Seq(text), 8), s"seed=$seed")
    }
  }

  test("trainBatched == train, in far fewer driver rounds") {
    // classic fixture
    val classic = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    // multibyte zh corpus
    val zh = Seq.fill(4)("你好 世界") ++ Seq.fill(3)("你好吗") ++
      Seq.fill(2)("世界 和平")
    val corpora = Seq(
      "classic" -> classic,
      "zh" -> zh.mkString(" "), {
        // adversarial random small-alphabet corpus: heavy pair
        // interaction, the regime where naive batching diverges
        val rnd = new scala.util.Random(7)
        val words = Seq.fill(40)(
          Seq.fill(1 + rnd.nextInt(6))(('a' + rnd.nextInt(3)).toChar).mkString)
        "rand3" -> Seq.fill(200)(words(rnd.nextInt(words.size))).mkString(" ")
      })
    for ((tag, text) <- corpora) {
      val docs = Seq((0L, text)).toDF("doc_id", "text")
      val n = 24
      val seqMerges = BpeOps.train(docs, n)
      val batched = BpeOps.trainBatched(docs, n)
      assert(batched.merges == seqMerges, s"corpus=$tag")
      // never worse than sequential (+1 for a final empty probe round)
      assert(batched.rounds <= seqMerges.size + 1,
        s"corpus=$tag rounds=${batched.rounds} merges=${seqMerges.size}")
    }
    // a corpus shaped to batch: disjoint-alphabet repeated bigrams with
    // well-separated counts, so several top pairs pass the dominance
    // gate per round — the regime production (Zipfian) vocabularies hit
    val interleaved = Seq.fill(10)("ababab") ++ Seq.fill(9)("cdcdcd") ++
      Seq.fill(8)("efefef") ++ Seq.fill(7)("ghghgh") ++ Seq.fill(6)("ijijij")
    val docs = Seq((0L, interleaved.mkString(" "))).toDF("doc_id", "text")
    val n = 16
    val seqMerges = BpeOps.train(docs, n)
    val batched = BpeOps.trainBatched(docs, n)
    assert(batched.merges == seqMerges)
    assert(batched.rounds < seqMerges.size,
      s"expected a round-trip win, got rounds=${batched.rounds} for " +
        s"${seqMerges.size} merges")
  }

  test("trainApprox: topK=1 is exactly train; divergence quantified above") {
    val classic = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val zh = (Seq.fill(4)("你好 世界") ++ Seq.fill(3)("你好吗") ++
      Seq.fill(2)("世界 和平")).mkString(" ")
    for ((tag, text) <- Seq("classic" -> classic, "zh" -> zh)) {
      val docs = Seq((0L, text)).toDF("doc_id", "text")
      val n = 16
      val exact = BpeOps.train(docs, n)
      // degenerate case: one pair per round == the exact sequential mode
      val k1 = BpeOps.trainApprox(docs, n, topK = 1)
      assert(k1.merges == exact, s"corpus=$tag topK=1 must be exact")
      // approximate mode: fewer rounds; divergence measured, not assumed.
      // These fixtures are the WORST case for greedy parallel acceptance:
      // classic has 4 distinct words trained to near-exhaustion (measured
      // overlap 0.53), zh similar — every pair interacts with every
      // other. Production Zipf corpora interact far less (the
      // disjoint-alphabet case below is exact; graft.Cli soak bpe-approx
      // reports exhibit-scale overlap)
      val approx = BpeOps.trainApprox(docs, n, topK = 8)
      assert(approx.rounds < exact.size,
        s"corpus=$tag rounds=${approx.rounds} should beat ${exact.size}")
      val overlap = approx.merges.toSet.intersect(exact.toSet).size.toDouble /
        exact.size
      assert(overlap >= 0.5,
        s"corpus=$tag merge-set overlap $overlap below the pinned floor")
    }
    // disjoint-alphabet repeated bigrams: zero pair interaction, so the
    // approximate mode is EXACT here and takes ~nMerges/topK rounds
    val interleaved = Seq.fill(10)("ababab") ++ Seq.fill(9)("cdcdcd") ++
      Seq.fill(8)("efefef") ++ Seq.fill(7)("ghghgh") ++ Seq.fill(6)("ijijij")
    val docs = Seq((0L, interleaved.mkString(" "))).toDF("doc_id", "text")
    val n = 10
    val exact = BpeOps.train(docs, n)
    val approx = BpeOps.trainApprox(docs, n, topK = 5)
    assert(approx.merges.toSet == exact.toSet)
    assert(approx.rounds <= n / 5 + 1,
      s"expected ~n/topK rounds, got ${approx.rounds}")
  }

  test("wordDict splits by code point (unicode contract vs the oracle)") {
    def syms(word: String): Seq[String] =
      BpeOps.wordDict(Seq((0L, word)).toDF("doc_id", "text"))
        .select("symbols").collect()(0)
        .getAs[scala.collection.Seq[String]](0).toSeq
    // one grapheme == one code point: engine and DuckDB twin agree
    assert(syms("café") == Seq("c", "a", "f", "é", "</w>")) // NFC é
    assert(syms("你好") == Seq("你", "好", "</w>")) // zh
    assert(syms("😀a") == Seq("😀", "a", "</w>")) // emoji: 1 cp
    // documented divergence: a decomposed accent is TWO code points here
    // but ONE grapheme cluster in DuckDB string_split(word, '')
    assert(syms("e\u0301") == Seq("e", "\u0301", "</w>"))
  }

  // ---- byte-level mode --------------------------------------------------

  /** UTF-8 bytes of a pre-token lifted through the GPT-2 table — the
    * driver-side transcription of the engine's byte symbols. */
  private def byteSyms(word: String): Vector[String] =
    word.getBytes("UTF-8").map(b => BpeOps.ByteToUnicode(b & 0xff)).toVector

  /** Pre-tokenize with the SAME Java regex the engine uses. */
  private def preToks(text: String): Seq[String] =
    BpeOps.PreTokenPattern.r.findAllIn(text).toSeq.filter(_.nonEmpty)

  /** Driver-side reference byte-level trainer: [[referenceTrain]]'s loop
    * over the pre-token byte dictionary (no end-of-word marker). */
  private def referenceByteTrain(corpus: Seq[String],
      nMerges: Int): Seq[(String, String)] = {
    var dict: Map[Vector[String], Long] = corpus.flatMap(preToks)
      .groupBy(identity).map { case (w, ws) => byteSyms(w) -> ws.size.toLong }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var i = 0
    while (i < nMerges) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      dict.foreach { case (syms, f) =>
        syms.sliding(2).filter(_.size == 2).foreach { p =>
          counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + f
        }
      }
      if (counts.isEmpty) i = nMerges
      else {
        import scala.math.Ordering.Implicits._
        def cp(s: String): List[Int] = s.codePoints().toArray.toList
        val (l, r) = counts.toSeq
          .minBy { case ((a, b), c) => (-c, cp(a), cp(b)) }._1
        merges += ((l, r))
        dict = dict.map { case (syms, f) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var j = 0
          while (j < syms.length) {
            if (j + 1 < syms.length && syms(j) == l && syms(j + 1) == r) {
              out += l + r; j += 2
            } else { out += syms(j); j += 1 }
          }
          out.toVector -> f
        }
        i += 1
      }
    }
    merges.toSeq
  }

  test("byte mode: trainBytes == driver reference on a mixed corpus") {
    val corpus = Seq(
      "the cat's hat", "low lower  lowest 42 it's low!",
      "newest widest low café")
    val docs = corpus.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = BpeOps.trainBytes(docs, 8)
    assert(got == referenceByteTrain(corpus, 8))
  }

  test("byte mode: ASCII one-word docs == code-point dynamics (no marker)") {
    // one word per doc, printable ASCII: pre-token == word, byte symbols
    // == characters (the identity region of the byte map) — so the byte
    // trainer must reproduce a code-point trainer without the end marker
    val words = Seq("low", "low", "lower", "newest", "newest", "newest",
      "widest", "wide")
    val docs = words.zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val charDict = docs
      .select(org.apache.spark.sql.functions.col("text").as("word"))
      .groupBy("word")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("freq"))
      .withColumn("symbols", org.apache.spark.sql.functions.expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
    assert(BpeOps.trainBytes(docs, 6) == BpeOps.trainFromDict(charDict, 6))
  }

  test("byte mode: multibyte diverges from code-point mode; bytes round-trip") {
    // 'é' NFC is ONE code point but TWO UTF-8 bytes: the byte dict must
    // hold 2 symbols where the code-point dict holds 1 (+ marker) — the
    // deliberate divergence between the two formulations
    val docs = Seq((0L, "café")).toDF("doc_id", "text")
    val bs = BpeOps.byteWordDict(docs).select("symbols").collect()(0)
      .getAs[scala.collection.Seq[String]](0).toSeq
    assert(bs.length == 5, s"café must be 5 byte symbols, got $bs")
    assert(bs == byteSyms("café"))
    // and the lift is LOSSLESS on the full unicode mix (astral included):
    // inverse-mapping the tokenized symbols reconstructs the exact text
    val inv: Map[String, Int] =
      BpeOps.ByteToUnicode.zipWithIndex.map { case (c, b) => c -> b }.toMap
    val texts = Seq((0L, "café müller low"),
      (1L, "你好 世界 low"),
      (2L, "rock😀roll low's 42!"))
    val tdocs = texts.toDF("doc_id", "text")
    val merges = BpeOps.trainBytes(tdocs, 5)
    val toks = BpeOps.tokenizeBytes(tdocs, merges)
      .orderBy("doc_id", "pos").collect()
      .map(r => (r.getLong(0), r.getString(2)))
    for ((id, text) <- texts) {
      val joined = toks.filter(_._1 == id).map(_._2).mkString
      val bytes = joined.codePoints().toArray
        .map(cp => inv(new String(Character.toChars(cp))).toByte)
      assert(new String(bytes, "UTF-8") == text, s"doc $id not lossless")
    }
  }

  /** Driver-side reference tokenizer: leftmost-first non-overlapping
    * rewrite per merge in list order, then ids by code-point-sorted
    * distinct vocabulary — the [[BpeOps.tokenize]] contract, transcribed
    * independently of the engine's HOF rewrite. */
  private def referenceTokenize(docs: Seq[(Long, String)],
      merges: Seq[(String, String)]): Seq[(Long, Long, String, Long)] = {
    def segment(word: String): Vector[String] =
      merges.foldLeft(word.map(_.toString).toVector :+ "</w>") {
        case (syms, (l, r)) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var j = 0
          while (j < syms.length) {
            if (j + 1 < syms.length && syms(j) == l && syms(j + 1) == r) {
              out += l + r; j += 2
            } else { out += syms(j); j += 1 }
          }
          out.toVector
      }
    val perDoc = docs.map { case (id, text) =>
      id -> text.split(" ").filter(_.nonEmpty).toSeq.flatMap(segment)
    }
    import scala.math.Ordering.Implicits._
    def cp(s: String): List[Int] = s.codePoints().toArray.toList
    val vocab = perDoc.flatMap(_._2).distinct.sortBy(cp)
      .zipWithIndex.map { case (t, i) => t -> (i + 1).toLong }.toMap
    perDoc.flatMap { case (id, toks) =>
      toks.zipWithIndex.map { case (t, i) => (id, (i + 1).toLong, t, vocab(t)) }
    }
  }

  test("tokenize == driver-side reference on classic + zh corpora") {
    val classic = Seq(
      0L -> "low lower newest widest low newest",
      1L -> "newest low lowest wide wider")
    val zh = Seq(2L -> "你好 世界 你好吗 世界 和平 你好")
    for ((tag, corpus) <- Seq("classic" -> classic, "zh" -> zh)) {
      val docs = corpus.toDF("doc_id", "text")
      val merges = BpeOps.train(docs, 6)
      val got = BpeOps.tokenize(docs, merges)
        .orderBy("doc_id", "pos").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
        .toSeq
      assert(got == referenceTokenize(corpus, merges), s"corpus=$tag")
    }
  }

  test("tokenize on the training corpus reproduces the trained dictionary" +
      " segmentation") {
    // apply == training-segmentation by construction is the contract;
    // pin it: every (word → token seq) tokenize emits equals the
    // applyMerges(wordDict) symbols for that word
    val text = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val docs = Seq((0L, text.mkString(" "))).toDF("doc_id", "text")
    val merges = BpeOps.train(docs, 8)
    val dictSeg = BpeOps.applyMerges(BpeOps.wordDict(docs), merges)
      .select("word", "symbols").collect()
      .map(r => r.getString(0) ->
        r.getAs[scala.collection.Seq[String]](1).toSeq).toMap
    val toks = BpeOps.tokenize(docs, merges)
      .orderBy("doc_id", "pos").select("token").collect()
      .map(_.getString(0)).toSeq
    val expected = text.flatMap(w => dictSeg(w))
    assert(toks == expected)
  }

  test("tokenizeAndPack and wordpieceTokenizeBert: shuffled joins " +
      "(threshold -1) match the default shapes") {
    import ShuffledShapes._
    val docs = Seq(
      (0L, "low lower newest widest low newest", "en", "web"),
      (1L, "newest low lowest wide wider", "en", "web"),
      (2L, "wide wider widest low low", "de", "web"))
      .toDF("doc_id", "text", "lang", "source")
    val merges = BpeOps.train(docs, 6)
    val (pb, ps) = defaultAndShuffled(spark) {
      rows(BpeOps.tokenizeAndPack(docs, merges, seqLen = 5L, idBuckets = 2))
    }
    assert(pb.nonEmpty && ps == pb, "tokenizeAndPack shapes disagree")
    val vocab = Seq("[UNK]", "l", "o", "w", "##o", "##w", "##e", "##r",
      "lo", "##we")
    val (wb, ws) = defaultAndShuffled(spark) {
      rows(BpeOps.wordpieceTokenizeBert(docs, vocab))
    }
    assert(wb.nonEmpty && ws == wb, "wordpieceTokenizeBert shapes disagree")
  }

  test("tokenizeAndPack: exact chop — interior seqs full, stream preserved") {
    // multi-shard corpus: two (lang, source) shards with several docs
    val docs = Seq(
      (0L, "low lower newest widest low newest", "en", "web"),
      (1L, "newest low lowest wide wider", "en", "web"),
      (2L, "wide wider widest low low", "en", "web"),
      (3L, "newest newest lowest wider low", "de", "web"),
      (4L, "low wide lowest widest newest", "de", "web"))
      .toDF("doc_id", "text", "lang", "source")
    val merges = BpeOps.train(docs, 6)
    val seqLen = 7L
    // idBuckets = 1: the explicit demo-scale opt-out of the enforced
    // id_bucket shard contract — this test pins the exact chop math on
    // the raw (lang, source) shard; the bucketed default's totals are
    // pinned below
    val packed = BpeOps.tokenizeAndPack(docs, merges, seqLen = seqLen,
        idBuckets = 1)
      .orderBy("lang", "source", "seq_id").collect()
    val tok = BpeOps.tokenize(docs, merges).orderBy("doc_id", "pos")
      .select("doc_id", "token_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val shardOf = Map(0L -> "en", 1L -> "en", 2L -> "en",
      3L -> "de", 4L -> "de")
    // expected per-shard id stream: docs concatenated in doc_id order
    val streams = tok.groupBy { case (d, _) => shardOf(d) }
      .map { case (sh, rows) => sh -> rows.sortBy(_._1).map(_._2).toSeq }
    for ((sh, ids) <- streams) {
      val rows = packed.filter(_.getString(0) == sh)
      // every interior sequence is exactly full; ids re-concatenate to
      // the shard stream in seq_id order
      val got = rows.sortBy(_.getLong(2)).flatMap(
        _.getString(5).split(" ").map(_.toLong)).toSeq
      assert(got == ids, s"shard=$sh stream mismatch")
      val sizes = rows.sortBy(_.getLong(2)).map(_.getLong(4))
      assert(sizes.init.forall(_ == seqLen),
        s"shard=$sh interior seqs not full: ${sizes.toSeq}")
      assert(sizes.last == (ids.size - (sizes.size - 1) * seqLen),
        s"shard=$sh tail size wrong")
      // n_tokens agrees with the emitted id count per row
      rows.foreach(r => assert(
        r.getString(5).split(" ").length.toLong == r.getLong(4)))
    }
    // the enforced default appends id_bucket; token totals are
    // bucket-invariant and interior rows stay exactly seqLen-sized
    import org.apache.spark.sql.functions.{col, max, sum}
    val bucketed = BpeOps.tokenizeAndPack(docs, merges, seqLen = seqLen,
      idBuckets = 4)
    assert(bucketed.columns.contains("id_bucket"))
    assert(bucketed.agg(sum("n_tokens")).head.getLong(0) == tok.length.toLong)
    val lastPerShard = bucketed.groupBy("lang", "source", "id_bucket")
      .agg(max("seq_id").as("last"))
    val interior = bucketed.join(lastPerShard,
      Seq("lang", "source", "id_bucket"))
      .filter(col("seq_id") < col("last"))
    assert(interior.filter(col("n_tokens") =!= seqLen).count() == 0L)
  }

  test("applyMerges rewrites leftmost-first without overlap") {
    val dict = Seq((1L, "aaa")).toDF("doc_id", "text")
    val d0 = BpeOps.wordDict(dict)
    val after = BpeOps.applyMerges(d0, Seq(("a", "a")))
      .select("symbols").collect()(0)
      .getAs[scala.collection.Seq[String]](0).toSeq
    assert(after == Seq("aa", "a", "</w>")) // NOT (a, aa): leftmost wins
    val twice = BpeOps.applyMerges(d0, Seq(("a", "a"), ("aa", "a")))
      .select("symbols").collect()(0)
      .getAs[scala.collection.Seq[String]](0).toSeq
    assert(twice == Seq("aaa", "</w>"))
  }

  test("merge sidecar roundtrips; damaged sidecars fail loudly") {
    val docs = Seq((0L, "low lower lowest newest newer new")).toDF("doc_id", "text")
    val merges = BpeOps.train(docs, 8)
    val dir = java.nio.file.Files.createTempDirectory("graft-merges").toString
    BpeOps.writeMerges(spark, merges, dir)
    val back = BpeOps.readMerges(spark, dir)
    assert(back == merges, s"roundtrip: $back vs $merges")
    // tokenization through the reloaded list is bit-identical
    val a = BpeOps.tokenize(docs, merges).collect().map(_.toString).toSeq
    val b = BpeOps.tokenize(docs, back).collect().map(_.toString).toSeq
    assert(a == b)
    // a truncated sidecar (rank gap) must refuse to load
    import org.apache.spark.sql.functions.col
    val dir2 = java.nio.file.Files.createTempDirectory("graft-merges2").toString
    spark.read.parquet(dir).filter(col("rank") =!= 2)
      .write.mode("overwrite").parquet(dir2)
    val e = intercept[IllegalArgumentException] {
      BpeOps.readMerges(spark, dir2)
    }
    assert(e.getMessage.contains("not contiguous"))
  }

  /** Driver-side reference WordPiece: same dict/rewrite mechanics as
    * [[referenceTrain]], argmax by the exact integer likelihood key
    * (pf * 10^18) / (lf * rf) with per-occurrence symbol counts. */
  private def referenceWordpiece(corpus: Seq[String], nMerges: Int): Seq[(String, String)] = {
    var dict: Map[Vector[String], Long] = corpus.flatMap(_.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, ws) =>
        (w.map(_.toString).toVector :+ "</w>") -> ws.size.toLong
      }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var i = 0
    while (i < nMerges) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      val sc = scala.collection.mutable.Map.empty[String, Long]
      dict.foreach { case (syms, f) =>
        syms.foreach(s0 => sc(s0) = sc.getOrElse(s0, 0L) + f)
        syms.sliding(2).filter(_.size == 2).foreach { p =>
          pc((p(0), p(1))) = pc.getOrElse((p(0), p(1)), 0L) + f
        }
      }
      if (pc.isEmpty) i = nMerges
      else {
        import scala.math.Ordering.Implicits._
        def cp(s0: String): List[Int] = s0.codePoints().toArray.toList
        def key(p: (String, String)): BigInt =
          BigInt(pc(p)) * BigInt("1000000000000000000") /
            (BigInt(sc(p._1)) * BigInt(sc(p._2)))
        val (l, r) = pc.keys.toSeq
          .minBy(p => (-key(p), cp(p._1), cp(p._2)))
        merges += ((l, r))
        dict = dict.map { case (syms, f) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var j = 0
          while (j < syms.length) {
            if (j + 1 < syms.length && syms(j) == l && syms(j + 1) == r) {
              out += l + r; j += 2
            } else { out += syms(j); j += 1 }
          }
          out.toVector -> f
        }
        i += 1
      }
    }
    merges.toSeq
  }

  test("wordpiece scores: exact integer key on a hand-computed fixture") {
    // corpus "ab ab cd": pairs (a,b) pf=2, (c,d) pf=1, (b,</w>) pf=2,
    // (d,</w>) pf=1; counts a=2 b=2 c=1 d=1 </w>=3
    val docs = Seq((0L, "ab ab cd")).toDF("doc_id", "text")
    val rows = BpeOps.wordpieceScores(BpeOps.wordDict(docs)).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val E = BigInt("1000000000000000000")
    assert(rows(("a", "b")) == ((2L, 2L, 2L, (E * 2 / 4).toLong)))
    assert(rows(("c", "d")) == ((1L, 1L, 1L, E.toLong)))
    assert(rows(("b", "</w>")) == ((2L, 2L, 3L, (E * 2 / 6).toLong)))
    assert(rows(("d", "</w>")) == ((1L, 1L, 3L, (E / 3).toLong)))
    // WordPiece picks the EXCLUSIVE pair (c,d) over the more frequent
    // (a,b) — the discriminating behavior vs BPE, whose argmax here is
    // (a,b)/(b,</w>) at pf=2
    val wp = BpeOps.trainWordpiece(docs, 1)
    assert(wp == Seq(("c", "d")))
    assert(BpeOps.train(docs, 1).head != ("c", "d"))
  }

  test("wordpiece differential: distributed train == reference on random corpora") {
    for (seed <- Seq(5, 47)) {
      val rnd = new scala.util.Random(seed)
      val words = Seq.fill(30)(
        Seq.fill(1 + rnd.nextInt(5))(('a' + rnd.nextInt(4)).toChar).mkString)
      val text = Seq.fill(120)(words(rnd.nextInt(words.size))).mkString(" ")
      val docs = Seq((0L, text)).toDF("doc_id", "text")
      val got = BpeOps.trainWordpiece(docs, 8)
      assert(got == referenceWordpiece(Seq(text), 8), s"seed=$seed")
      // and the merge list drops into the shared tokenizer apply path
      val toks = BpeOps.tokenize(docs, got)
      assert(toks.count() > 0)
    }
  }

  test("trainWordpieceChained == trainWordpiece; chain children accepted " +
      "within a round") {
    // adversarial corpora: heavy pair interaction and shrinking part
    // counts, the regime where an unsound likelihood batch would
    // reorder merges — the chained trainer must stay bit-identical
    val classic = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val zh = (Seq.fill(4)("你好 世界") ++ Seq.fill(3)("你好吗") ++
      Seq.fill(2)("世界 和平")).mkString(" ")
    val rand = Seq(5, 47).map { seed =>
      val rnd = new scala.util.Random(seed)
      val words = Seq.fill(30)(
        Seq.fill(1 + rnd.nextInt(5))(('a' + rnd.nextInt(4)).toChar).mkString)
      s"rand$seed" -> Seq.fill(120)(words(rnd.nextInt(words.size)))
        .mkString(" ")
    }
    for ((tag, text) <- Seq("classic" -> classic, "zh" -> zh) ++ rand) {
      val docs = Seq((0L, text)).toDF("doc_id", "text")
      val n = 16
      val seqMerges = BpeOps.trainWordpiece(docs, n)
      val chained = BpeOps.trainWordpieceChained(docs, n)
      assert(chained.merges == seqMerges, s"corpus=$tag")
      assert(chained.rounds <= seqMerges.size + 1,
        s"corpus=$tag rounds=${chained.rounds} merges=${seqMerges.size}")
    }
    // chain-structured corpus: one dominant word whose merges cascade
    // ((e,f) -> (d,ef) -> ... the regime where a batch proven from
    // round-start statistics alone gets round_reduction 1.00) — exact
    // tracking must accept the chain child in the same round
    val chainy = (Seq.fill(30)("abcdef") ++ Seq.fill(4)("xy") ++
      Seq.fill(3)("zw")).mkString(" ")
    val docs = Seq((0L, chainy)).toDF("doc_id", "text")
    val n = 10
    val seqMerges = BpeOps.trainWordpiece(docs, n)
    val chained = BpeOps.trainWordpieceChained(docs, n)
    assert(chained.merges == seqMerges)
    assert(chained.rounds < seqMerges.size,
      s"expected chain-following to win rounds: ${chained.rounds} for " +
        s"${seqMerges.size} merges (${seqMerges.mkString(" ")})")
    // and the exclusive-pair regime: distinct exclusive bigram words
    // with separated counts, the head of a production vocabulary as the
    // likelihood key sees it — the first five merges are symbol-disjoint
    // and must batch
    val excl = (Seq.fill(10)("ab") ++ Seq.fill(9)("cd") ++
      Seq.fill(8)("ef") ++ Seq.fill(7)("gh") ++ Seq.fill(6)("ij"))
      .mkString(" ")
    val docsE = Seq((0L, excl)).toDF("doc_id", "text")
    val seqE = BpeOps.trainWordpiece(docsE, 10)
    val chain = BpeOps.trainWordpieceChained(docsE, 10)
    assert(chain.merges == seqE)
    assert(chain.rounds < seqE.size,
      s"expected a round-trip win, got rounds=${chain.rounds} for " +
        s"${seqE.size} merges")
  }

  test("trainWordpieceChained: randomized differential on 2/3-letter " +
      "alphabets (self-pairs, reverse pairs, collisions)") {
    // tiny alphabets maximize the accept-then-end edge paths: (a,a)
    // self-merges, both (a,b) and (b,a) present (reverse-count != 0
    // blocks exact continuation), and concat collisions with existing
    // symbols — every path must still reproduce sequential bit-for-bit
    for ((seed, alpha) <- Seq((11, 2), (23, 2), (37, 3), (59, 3))) {
      val rnd = new scala.util.Random(seed)
      val words = Seq.fill(20)(
        Seq.fill(1 + rnd.nextInt(6))(('a' + rnd.nextInt(alpha)).toChar).mkString)
      val text = Seq.fill(150)(words(rnd.nextInt(words.size))).mkString(" ")
      val docs = Seq((0L, text)).toDF("doc_id", "text")
      val n = 12
      val seqMerges = BpeOps.trainWordpiece(docs, n)
      val chained = BpeOps.trainWordpieceChained(docs, n)
      assert(chained.merges == seqMerges, s"seed=$seed alpha=$alpha")
    }
  }

  test("trainWordpieceApprox: topK=1 is exactly trainWordpiece; " +
      "disjoint acceptance batches") {
    val classic = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val zh = (Seq.fill(4)("你好 世界") ++ Seq.fill(3)("你好吗") ++
      Seq.fill(2)("世界 和平")).mkString(" ")
    for ((tag, text) <- Seq("classic" -> classic, "zh" -> zh)) {
      val docs = Seq((0L, text)).toDF("doc_id", "text")
      val n = 12
      val exact = BpeOps.trainWordpiece(docs, n)
      val k1 = BpeOps.trainWordpieceApprox(docs, n, topK = 1)
      assert(k1.merges == exact, s"corpus=$tag topK=1 must be exact")
      // approx: rounds collapse toward n/topK; set-level agreement is
      // measured (the exhibit quantifies it at scale), not asserted —
      // the likelihood key genuinely reorders under parallel acceptance
      val apx = BpeOps.trainWordpieceApprox(docs, n, topK = 8)
      assert(apx.rounds < n, s"corpus=$tag no batching: ${apx.rounds}")
      // zh exhausts its dictionary before n merges — the sequential
      // trainer's early-stop count is the contract, not n itself
      assert(apx.merges.size == exact.size)
    }
  }

  test("wordpieceTokenize: greedy longest-match diverges from merge replay " +
      "on an OOV boundary") {
    // vocab from merges [(b,c), (a,b)] is {a, b, c, </w>, bc, ab}:
    // ordered-merge REPLAY on "abc" applies (b,c) first -> a·bc·</w>;
    // greedy longest-match-first reads ab (longest prefix) -> ab·c·</w>
    val docs = Seq((0L, "abc")).toDF("doc_id", "text")
    val merges = Seq(("b", "c"), ("a", "b"))
    def toks(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.orderBy("doc_id", "pos").collect().map(_.getString(2)).toSeq
    assert(toks(BpeOps.tokenize(docs, merges)) == Seq("a", "bc", "</w>"))
    assert(toks(BpeOps.wordpieceTokenize(docs, merges)) ==
      Seq("ab", "c", "</w>"))
  }

  test("wordpieceTokenize: reconstruction + greedy property + stable ids") {
    val corpus = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val train = Seq((0L, corpus.mkString(" "))).toDF("doc_id", "text")
    val merges = BpeOps.trainWordpiece(train, 8)
    // one word per doc, so each doc's token list IS the segmentation
    val docs = corpus.distinct.zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val out = BpeOps.wordpieceTokenize(docs, merges)
      .orderBy("doc_id", "pos").collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(3)))
      .groupBy(_._1)
    val vocabSet = corpus.mkString.map(_.toString).toSet ++
      merges.map { case (l, r) => l + r } + "</w>"
    val wordOf = corpus.distinct.zipWithIndex
      .map { case (w, i) => i.toLong -> w }.toMap
    // ids are binary rank over the emitted distinct tokens
    val emitted = out.values.flatten.map(_._2).toSeq.distinct.sorted
    val expectId = emitted.zipWithIndex.map { case (t, i) => t -> (i + 1L) }.toMap
    for ((docId, rows) <- out) {
      val seg = rows.map(_._2).toSeq
      val s = wordOf(docId) + "</w>"
      assert(seg.mkString == s, s"doc $docId reconstruction")
      // greedy: at each boundary no LONGER vocab piece matches
      var off = 0
      for (t <- seg) {
        val longer = vocabSet.filter(p =>
          p.length > t.length && s.startsWith(p, off))
        assert(longer.isEmpty, s"doc $docId pos $off: $longer beats $t")
        off += t.length
      }
      rows.foreach { case (_, t, id) => assert(id == expectId(t)) }
    }
  }

  test("greedySegBert: continuation prefix, longest match, UNK policies") {
    val vocab = Set("[UNK]", "a", "b", "c", "##a", "##b", "##c",
      "ab", "##bc")
    val maxCp = vocab.map(p => p.codePointCount(0, p.length)).max
    def seg(w: String) = BpeOps.greedySegBert(w, vocab, maxCp, 16, "[UNK]")
    // longest bare piece first, then ## continuations
    assert(seg("abc") == Vector("ab", "##c"))
    assert(seg("cab") == Vector("c", "##a", "##b"))
    // continuation longest-match: ##bc beats ##b
    assert(seg("abcbc") == Vector("ab", "##c", "##bc"))
    // stranded scan (no piece covers 'q') -> whole word is ONE [UNK]
    assert(seg("abq") == Vector("[UNK]"))
    assert(seg("qab") == Vector("[UNK]"))
    // max_input_chars_per_word -> [UNK], not a refusal
    assert(BpeOps.greedySegBert("abababab", vocab, maxCp, 7, "[UNK]") ==
      Vector("[UNK]"))
    // a word literally starting with ## can match a continuation piece
    // at position 0 (the reference never prefixes the first piece)
    val v2 = Set("[UNK]", "##a", "b", "##b")
    val m2 = v2.map(p => p.codePointCount(0, p.length)).max
    assert(BpeOps.greedySegBert("##ab", v2, m2, 16, "[UNK]") ==
      Vector("##a", "##b"))
  }

  test("wordpieceTokenizeBert: file-order ids, [UNK] path, divergence " +
      "from the </w> form") {
    val vocab = Seq("[UNK]", "a", "b", "c", "##a", "##b", "##c",
      "ab", "##bc")
    val docs = Seq((0L, "abc cab a1"), (1L, "abcbc " + "ab" * 9))
      .toDF("doc_id", "text")
    val out = BpeOps.wordpieceTokenizeBert(docs, vocab,
        maxWordChars = 16)
      .orderBy("doc_id", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val idOf = vocab.zipWithIndex.map { case (p, i) => p -> i.toLong }.toMap
    // doc 0: abc -> ab ##c; cab -> c ##a ##b; a1 -> [UNK] (digit
    // uncovered: the </w> form would emit the bare code point, BERT
    // collapses the word); doc 1: abcbc -> ab ##c ##bc; the 18-char
    // word exceeds maxWordChars=16 -> [UNK] (the </w> engine REFUSES
    // long words loudly; BERT's policy replaces the refusal)
    val expect = Seq(
      (0L, 1L, "ab"), (0L, 2L, "##c"), (0L, 3L, "c"), (0L, 4L, "##a"),
      (0L, 5L, "##b"), (0L, 6L, "[UNK]"),
      (1L, 1L, "ab"), (1L, 2L, "##c"), (1L, 3L, "##bc"), (1L, 4L, "[UNK]"))
    assert(out.map(t => (t._1, t._2, t._3)).toSeq == expect)
    out.foreach { case (_, _, t, id) =>
      assert(id == idOf(t), s"token $t must carry its vocab-file line id")
    }
    // the same corpus through the </w>-form engine: the long word is a
    // loud refusal, not [UNK] — the divergence is the CONTRACT
    val ex = intercept[IllegalArgumentException] {
      BpeOps.wordpieceTokenize(docs, Seq(("a", "b")))
    }
    assert(ex.getMessage.contains("WpMaxWordLen"))
  }

  test("readBertVocab: fixture vocab.txt loads in file order; damaged " +
      "files fail loudly") {
    val f = java.io.File.createTempFile("graft-bert-vocab", ".txt")
    f.deleteOnExit()
    val vocab = Seq("[UNK]", "a", "b", "##a", "##b", "ab", "##ab")
    java.nio.file.Files.write(f.toPath,
      (vocab.mkString("\n") + "\n").getBytes("UTF-8"))
    val loaded = BpeOps.readBertVocab(spark, f.getAbsolutePath)
    assert(loaded == vocab, "ids are the file's line order")
    // loaded vocabulary drives inference end-to-end
    val docs = Seq((0L, "abab ba")).toDF("doc_id", "text")
    val toks = BpeOps.wordpieceTokenizeBert(docs, loaded)
      .orderBy("pos").collect().map(r => (r.getString(2), r.getLong(3)))
    assert(toks.toSeq == Seq(("ab", 5L), ("##ab", 6L), ("b", 2L),
      ("##a", 3L)))
    // blank line -> ids would shift: refuse
    val g = java.io.File.createTempFile("graft-bert-vocab-bad", ".txt")
    g.deleteOnExit()
    java.nio.file.Files.write(g.toPath, "[UNK]\n\na\n".getBytes("UTF-8"))
    intercept[IllegalArgumentException] {
      BpeOps.readBertVocab(spark, g.getAbsolutePath)
    }
    // duplicate line -> ambiguous ids: refuse
    val h = java.io.File.createTempFile("graft-bert-vocab-dup", ".txt")
    h.deleteOnExit()
    java.nio.file.Files.write(h.toPath, "[UNK]\na\na\n".getBytes("UTF-8"))
    intercept[IllegalArgumentException] {
      BpeOps.readBertVocab(spark, h.getAbsolutePath)
    }
  }

  test("bertVocabFromMerges + writeBertVocab: train in-engine, serve in " +
      "the BERT convention") {
    // trained </w> merges -> prefix-form vocab: [UNK] id 0, alphabet
    // bare + ##, concatenations (end mark stripped) in merge order
    val merges = Seq(("l", "o"), ("lo", "w"), ("e", "r"),
      ("low", "</w>"), ("er", "</w>"))
    val vocab = BpeOps.bertVocabFromMerges(merges, Seq("l", "o", "w",
      "e", "r"))
    assert(vocab.head == "[UNK]")
    assert(vocab.containsSlice(Seq("lo", "##lo", "low", "##low", "er",
      "##er")))
    // stripSuffix-only: ("low","</w>") and ("lo","w") both yield low —
    // distinct keeps ONE id per piece
    assert(vocab.distinct == vocab)
    // round-trip through the production vocab.txt artifact
    val f = java.io.File.createTempFile("graft-bert-roundtrip", ".txt")
    f.deleteOnExit()
    BpeOps.writeBertVocab(spark, vocab, f.getAbsolutePath)
    assert(BpeOps.readBertVocab(spark, f.getAbsolutePath) == vocab,
      "write -> read must be identity (ids are line order)")
    // the converted vocabulary drives greedy inference end to end:
    // 'lower' segments lo·w·er-ish under longest-match — 'low' matches
    // bare, then continuation pieces
    val docs = Seq((0L, "low lower")).toDF("doc_id", "text")
    val toks = BpeOps.wordpieceTokenizeBert(docs, vocab)
      .orderBy("pos").collect().map(_.getString(2)).toSeq
    assert(toks == Seq("low", "low", "##er"), s"got $toks")
    // writer refuses what the reader would refuse
    intercept[IllegalArgumentException](
      BpeOps.writeBertVocab(spark, Seq("a", "a"), f.getAbsolutePath))
    intercept[IllegalArgumentException](
      BpeOps.writeBertVocab(spark, Seq("a", "b\nc"), f.getAbsolutePath))
  }

  test("bertBasicClean: control chars, CJK padding, punctuation split, " +
      "lowercase — the BasicTokenizer contract") {
    import org.apache.spark.sql.functions.col
    def clean(s: String, lc: Boolean = true): Seq[String] =
      Seq(Tuple1(s)).toDF("t")
        .select(BpeOps.bertBasicClean(col("t"), lc).as("c"))
        .collect()(0).getString(0).split(" ").filter(_.nonEmpty).toSeq
    // case + punctuation: every ASCII punct char its own token
    assert(clean("Hello, World! (v2.0)") ==
      Seq("hello", ",", "world", "!", "(", "v2", ".", "0", ")"))
    // cased mode keeps case, still splits punctuation
    assert(clean("Hello, World!", lc = false) ==
      Seq("Hello", ",", "World", "!"))
    // control chars (incl. the chr(31) oracle separator and tabs)
    // become spaces BEFORE any downstream contract sees them
    assert(clean("a\u001fb\tc\u0000d") == Seq("a", "b", "c", "d"))
    // CJK ideographs: one token per character, latin run untouched
    assert(clean("abc你好def") == Seq("abc", "你", "好", "def"))
    // hyphens/underscores are ASCII punct in BERT's ranges
    assert(clean("state-of-the-art_x") ==
      Seq("state", "-", "of", "-", "the", "-", "art", "_", "x"))
    // uncased mode = BERT do_lower_case: lowercase AND accent folding,
    // precomposed (translate) and decomposed (combining-mark deletion)
    assert(clean("Café Über naïve ñoño") ==
      Seq("cafe", "uber", "naive", "nono"))
    assert(clean("Café") == Seq("cafe"))
    // cased mode performs neither — accents survive verbatim
    assert(clean("Caf\u00e9", lc = false) == Seq("Caf\u00e9"))
    // Unicode punctuation blocks (round 14): split like BERT's P*
    assert(clean("a\u2014b c\u2026 \u300cfast\u300d \uff01ok") ==
      Seq("a", "\u2014", "b", "c", "\u2026", "\u300c", "fast",
        "\u300d", "\uff01", "ok"))
    // Zs whitespace (en quad, narrow nbsp, ideographic space) -> space
    assert(clean("x\u2000y e\u202ff g\u3000h") ==
      Seq("x", "y", "e", "f", "g", "h"))
    // format controls are DELETED (not spaced): zwsp/bidi/word-joiner
    // glue their neighbors into one word
    assert(clean("zw\u200bsp p\u202eq w\u2060ord") ==
      Seq("zwsp", "pq", "word"))
    // negative controls: same-block NON-punctuation passes through —
    // fraction slash (Sm), fullwidth digit (Nd), postal mark (So),
    // fullwidth dollar (Sc) stay inside their word
    assert(clean("a\u2044b \uff15x c\u3012d \uff04money") ==
      Seq("a\u2044b", "\uff15x", "c\u3012d", "\uff04money"))
    // Zl/Zp line separators pass through (BERT spaces only Zs)
    assert(clean("m\u2028n", lc = false) == Seq("m\u2028n"))
  }

  test("bertBasicClean Unicode ranges agree with the JDK category " +
      "tables per codepoint (the BERT _is_punctuation contract)") {
    def in(rs: Seq[(Int, Int)], cp: Int) =
      rs.exists { case (a, b) => cp >= a && cp <= b }
    import java.lang.Character._
    val punctTypes = Set(CONNECTOR_PUNCTUATION, DASH_PUNCTUATION,
      START_PUNCTUATION, END_PUNCTUATION, INITIAL_QUOTE_PUNCTUATION,
      FINAL_QUOTE_PUNCTUATION, OTHER_PUNCTUATION).map(_.toInt)
    // the three blocks the ranges cover (the general-punctuation block
    // checked in full, including its Cf/Cn tail)
    val block = (0x2000 to 0x206f) ++ (0x3000 to 0x303f) ++
      (0xff01 to 0xff65)
    for (cp <- block) {
      val ty = getType(cp)
      val isP = punctTypes.contains(ty)
      assert(in(graft.ops.BpeOps.BertUniPunct, cp) == isP,
        f"punct class mismatch at U+$cp%04X (jdk type $ty)")
      assert(in(graft.ops.BpeOps.BertUniSpace, cp) ==
        (ty == SPACE_SEPARATOR.toInt),
        f"space class mismatch at U+$cp%04X")
      if (cp >= 0x2000 && cp <= 0x206f)
        assert(in(graft.ops.BpeOps.BertUniDelete, cp) ==
          (ty == FORMAT.toInt || ty == UNASSIGNED.toInt ||
            ty == CONTROL.toInt),
          f"delete class mismatch at U+$cp%04X")
    }
    // the separate singleton: BOM/zwnbsp is Cf and deleted
    assert(in(graft.ops.BpeOps.BertUniDelete, 0xfeff) &&
      getType(0xfeff) == FORMAT.toInt)
  }


  test("bertEncode: [CLS]/truncate/[SEP]/[PAD] fixed-length contract") {
    val vocab = Seq("[PAD]", "[CLS]", "[SEP]", "a", "b")
    // doc 0: 3 tokens (pads), doc 1: 8 tokens (truncates at budget 5)
    val tok = (Seq((0L, 1L, "a", 3L), (0L, 2L, "b", 4L), (0L, 3L, "a", 3L)) ++
        (1 to 8).map(p => (1L, p.toLong, "b", 4L)))
      .toDF("doc_id", "pos", "token", "token_id")
    val out = BpeOps.bertEncode(tok, vocab, seqLen = 7)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getString(5), r.getString(6), r.getString(7)))
    // doc 0: cls(1) a(3) b(4) a(3) sep(2) pad(0) pad(0) — exactly 7 ids
    assert(out(0) == ((0L, 3L, 3L, 2L, false, "1 3 4 3 2 0 0",
      "0 0 0 0 0 0 0", "1 1 1 1 1 0 0")))
    // doc 1: cls + first 5 + sep, no pad, truncated
    assert(out(1) == ((1L, 8L, 5L, 0L, true, "1 4 4 4 4 4 2",
      "0 0 0 0 0 0 0", "1 1 1 1 1 1 1")))
    out.foreach { case (_, _, _, _, _, ids, types, mask) =>
      assert(ids.split(" ").length == 7, "every row is exactly seqLen ids")
      assert(types.split(" ").forall(_ == "0"),
        "single-sequence token_type_ids are all zeros")
      assert(types.split(" ").length == 7, "types are exactly seqLen flags")
      assert(mask.split(" ").length == 7, "mask is exactly seqLen flags")
    }
    // specials must be IN the tokenizer's vocabulary — ids cannot drift
    intercept[IllegalArgumentException](
      BpeOps.bertEncode(tok, Seq("[PAD]", "[CLS]", "a"), 7))
    intercept[IllegalArgumentException](BpeOps.bertEncode(tok, vocab, 2))
    // token-less documents: absent without `docs` (the tok-only
    // contract), emitted as [CLS][SEP]+pads with it — row count
    // matches the corpus
    val docs = Seq((0L, "x"), (1L, "x"), (2L, "")).toDF("doc_id", "text")
    assert(BpeOps.bertEncode(tok, vocab, 7).count() == 2L)
    val withEmpty = BpeOps.bertEncode(tok, vocab, 7, docs = Some(docs))
      .orderBy("doc_id").collect()
    assert(withEmpty.length == 3)
    val empty = withEmpty(2)
    assert((empty.getLong(0), empty.getLong(1), empty.getLong(2),
      empty.getLong(3), empty.getBoolean(4)) == ((2L, 0L, 0L, 5L, false)))
    assert(empty.getString(5) == "1 2 0 0 0 0 0",
      "token-less doc encodes as [CLS] [SEP] + pads")
    assert(empty.getString(7) == "1 1 0 0 0 0 0")
  }

  test("bertEncodeMlm: masked ids and labels stay slot-aligned") {
    val vocab = Seq("[PAD]", "[CLS]", "[SEP]", "[MASK]", "a", "b")
    // hand-built masked relation (the mlmMask output contract): doc 0
    // has one masked and one kept-selected slot, doc 1 truncates with
    // a masked slot beyond the budget (it must NOT count or appear)
    val masked = (Seq(
        (0L, 1L, "a", 4L, "mask", 3L, 4L),
        (0L, 2L, "b", 5L, "none", 5L, -100L),
        (0L, 3L, "a", 4L, "keep", 4L, 4L)) ++
      (1 to 8).map(p => (1L, p.toLong, "b", 5L,
        if (p == 7) "mask" else "none",
        if (p == 7) 3L else 5L, if (p == 7) 5L else -100L)))
      .toDF("doc_id", "pos", "token", "token_id", "mlm_action",
        "masked_id", "label")
    val out = BpeOps.bertEncodeMlm(masked, vocab, seqLen = 7)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5), r.getString(6), r.getString(7),
        r.getString(8), r.getString(9)))
    // doc 0: cls(1) [MASK](3) b(5) a(4) sep(2) pad pad; labels -100
    // everywhere except the two selected slots
    assert(out(0) == ((0L, 3L, 3L, 2L, 2L, false, "1 3 5 4 2 0 0",
      "-100 4 -100 4 -100 -100 -100", "0 0 0 0 0 0 0", "1 1 1 1 1 0 0")))
    // doc 1: truncated at budget 5 — the masked slot at pos 7 fell off,
    // so n_masked is 0 and labels are all -100
    assert(out(1) == ((1L, 8L, 5L, 0L, 0L, true, "1 5 5 5 5 5 2",
      "-100 -100 -100 -100 -100 -100 -100", "0 0 0 0 0 0 0",
      "1 1 1 1 1 1 1")))
    out.foreach { case (_, _, _, _, _, _, ids, labs, types, mask) =>
      assert(ids.split(" ").length == 7)
      assert(labs.split(" ").length == 7,
        "labels align slot for slot with input_ids")
      assert(types.split(" ").length == 7 && mask.split(" ").length == 7)
    }
    // token-less doc: all-pads input with all--100 labels
    val docs = Seq((0L, "x"), (1L, "x"), (2L, "")).toDF("doc_id", "text")
    val empty = BpeOps.bertEncodeMlm(masked, vocab, 7, docs = Some(docs))
      .orderBy("doc_id").collect()(2)
    assert(empty.getString(6) == "1 2 0 0 0 0 0")
    assert(empty.getString(7) == "-100 -100 -100 -100 -100 -100 -100")
    assert(empty.getLong(3) == 0L, "token-less doc has n_masked 0")
  }

  test("sftEncode: completion-only loss, right truncation, pads") {
    val vocab = Seq("[PAD]", "[CLS]", "[SEP]", "a", "b")
    // doc 0: 3 ids (prompt), doc 1: 2 ids (completion), doc 2: 9 ids
    val tok = (Seq((0L, 1L, "a", 3L), (0L, 2L, "b", 4L), (0L, 3L, "a", 3L),
        (1L, 1L, "b", 4L), (1L, 2L, "a", 3L)) ++
      (1 to 9).map(p => (2L, p.toLong, "b", 4L)))
      .toDF("doc_id", "pos", "token", "token_id")
    val pairs = Seq((0L, 1L), (2L, 1L), (0L, 2L)).toDF("doc_a", "doc_b")
    val out = BpeOps.sftEncode(tok, pairs, vocab, seqLen = 8)
      .orderBy("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4), r.getLong(5),
        r.getBoolean(6), r.getString(7), r.getString(8), r.getString(9)))
    // (0,1): 3+2 ids, 3 pads; loss only on the completion slots
    assert(out(0) == ((0L, 1L, 3L, 2L, false, "3 4 3 4 3 0 0 0",
      "-100 -100 -100 4 3 -100 -100 -100", "1 1 1 1 1 0 0 0")))
    // (0,2): completion truncates at 8-3=5 kept
    assert(out(1) == ((0L, 2L, 3L, 5L, true, "3 4 3 4 4 4 4 4",
      "-100 -100 -100 4 4 4 4 4", "1 1 1 1 1 1 1 1")))
    // (2,1): the 9-id prompt eats the whole budget — k_b 0, labels
    // all -100 (the filter-downstream contract), no seam artifacts
    assert(out(2) == ((2L, 1L, 8L, 0L, true, "4 4 4 4 4 4 4 4",
      "-100 -100 -100 -100 -100 -100 -100 -100", "1 1 1 1 1 1 1 1")))
    out.foreach { case (_, _, _, _, _, ids, labs, mask) =>
      assert(ids.split(" ").length == 8 && labs.split(" ").length == 8 &&
        mask.split(" ").length == 8)
    }
  }

  test("detokenize: decode inverts the tokenizers") {
    val docs = Seq((0L, "low lower lowest"), (1L, "wide wider"))
      .toDF("doc_id", "text")
    // end-mark convention: exact round-trip (every word carries </w>)
    val merges = BpeOps.train(docs, 8)
    val rt = BpeOps.detokenize(BpeOps.tokenize(docs, merges))
      .orderBy("doc_id").collect().map(_.getString(1))
    assert(rt.toSeq == Seq("low lower lowest", "wide wider"))
    // BERT ## convention: continuations glue back, [UNK] decodes
    // literally (lowest -> lo ##w + missing ##est -> [UNK]; wider ->
    // missing ##r -> [UNK])
    val vocab = Seq("[UNK]", "lo", "##w", "##er", "wide")
    val rt2 = BpeOps.detokenizeBert(
        BpeOps.wordpieceTokenizeBert(docs, vocab))
      .orderBy("doc_id").collect().map(_.getString(1))
    assert(rt2.toSeq == Seq("low lower [UNK]", "wide [UNK]"))
  }

  test("bertEncodePair: closed-form truncate_seq_pair + type ids") {
    // iterative reference: BERT's truncate_seq_pair (pop the longer
    // side, ties pop B) — the closed form must match its fixed point
    // on the full small grid
    def ref(la: Int, lb: Int, budget: Int): (Int, Int) = {
      var (a, b) = (la, lb)
      while (a + b > budget) { if (a > b) a -= 1 else b -= 1 }
      (a, b)
    }
    for (budget <- Seq(6, 9); la <- 0 to 14; lb <- 0 to 14) {
      val ka = math.min(la, math.max(budget - lb, (budget + 1) / 2))
      val kb = math.min(lb, math.max(budget - la, budget / 2))
      assert((ka, kb) == ref(la, lb, budget),
        s"budget=$budget la=$la lb=$lb")
    }
    // end to end: doc 0 = [3,4] (kept whole), doc 1 = [4,4,4,4,4]
    // (trimmed to 4); seqLen 9 -> budget 6, no padding
    val vocab = Seq("[PAD]", "[CLS]", "[SEP]", "a", "b")
    val tok = (Seq((0L, 1L, "a", 3L), (0L, 2L, "b", 4L)) ++
        (1 to 5).map(p => (1L, p.toLong, "b", 4L)))
      .toDF("doc_id", "pos", "token", "token_id")
    val pairs = Seq((0L, 1L)).toDF("doc_a", "doc_b")
    val r = BpeOps.bertEncodePair(tok, pairs, vocab, seqLen = 9)
      .collect()(0)
    assert((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)) ==
      ((2L, 5L, 2L, 4L)))
    assert(r.getBoolean(6), "B was trimmed -> truncated")
    assert(r.getString(7) == "1 3 4 2 4 4 4 4 2")
    assert(r.getString(8) == "0 0 0 0 1 1 1 1 1")
    assert(r.getString(9) == "1 1 1 1 1 1 1 1 1")
    assert(r.getString(7).split(" ").length == 9)
    // padded case: seqLen 12 -> budget 9, both whole, 2 pads, type 0,
    // mask 0 over pads
    val r2 = BpeOps.bertEncodePair(tok, pairs, vocab, seqLen = 12)
      .collect()(0)
    assert(!r2.getBoolean(6))
    assert(r2.getString(7) == "1 3 4 2 4 4 4 4 4 2 0 0")
    assert(r2.getString(8) == "0 0 0 0 1 1 1 1 1 1 0 0")
    assert(r2.getString(9) == "1 1 1 1 1 1 1 1 1 1 0 0")
  }

  test("trainWordpieceApprox: accepted concatenations are collision-free " +
      "(gate (c) on the approx tier)") {
    for (seed <- Seq(7, 19, 43)) {
      val rnd = new scala.util.Random(seed)
      val words = Seq.fill(60)(
        (0 until (1 + rnd.nextInt(5))).map(_ => "abc" (rnd.nextInt(3)))
          .mkString)
      val docs = Seq((0L, words.mkString(" "))).toDF("doc_id", "text")
      val res = BpeOps.trainWordpieceApprox(docs, 16, topK = 8)
      val concats = res.merges.map { case (l, r) => l + r }
      assert(concats.distinct == concats,
        s"seed=$seed duplicate concatenation in ${res.merges}")
    }
  }
}
