package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops._

/** Curation-pipeline operators: packing, mixture weights, PII, repetition,
  * hashed-n-gram classifier, semantic dedup. */
class PipelineOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get
  import spark.implicits._

  test("WordShingles.all keeps multiplicity; distinct form dedups") {
    val df = Seq(("a b a b")).toDF("text")
    val all = df.select(graft.functions.WordShingles.all(col("text"), 2))
      .collect()(0).getAs[scala.collection.Seq[String]](0).toSeq
    val dis = df.select(graft.functions.WordShingles(col("text"), 2))
      .collect()(0).getAs[scala.collection.Seq[String]](0).toSeq
    assert(all == Seq("a b", "b a", "a b"))
    assert(dis == Seq("a b", "b a"))
  }

  test("packSequences cuts shards at the token budget") {
    val docs = Seq(
      ("en", "s", 0L, "t t t t"), ("en", "s", 1L, "t t t t"),
      ("en", "s", 2L, "t t t t"), ("en", "s", 3L, "t t t t"),
      ("de", "s", 9L, "t t t t t t t t t t t t")) // 12 tokens, own shard
      .toDF("lang", "source", "doc_id", "text")
    val got = PipelineOps.packSequences(docs, budget = 10L, idBuckets = 1)
      .orderBy("lang", "seq_id")
      .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    // en: starts 0,4,8,12 -> seqs 0,0,0,1; de: start 0 -> seq 0
    assert(got.toSeq == Seq(("de", 0L, 1L, 12L),
      ("en", 0L, 3L, 12L), ("en", 1L, 1L, 4L)))
  }

  test("piiStats counts injected patterns and redacts them") {
    val docs = Seq((0L, "hello world"), (1L, "plain text only"))
      .toDF("doc_id", "text")
    val got = PipelineOps.piiStats(docs).orderBy("doc_id").collect()
    // doc 0 is divisible by 3, 5, and 7: all three injections fire
    val aug0 = "hello world contact0@example.com from 10.0.0.0 ref 000000000"
    val red0 = aug0.replaceAll(PipelineOps.emailRe, "<PII>")
      .replaceAll(PipelineOps.ipv4Re, "<PII>")
      .replaceAll(PipelineOps.idRunRe, "<PII>")
    assert(got(0).getLong(1) == 1L && got(0).getLong(2) == 1L &&
      got(0).getLong(3) == 1L)
    assert(got(0).getLong(4) == red0.length.toLong)
    // doc 1: nothing injected, nothing matched
    assert(got(1).getLong(1) == 0L && got(1).getLong(2) == 0L &&
      got(1).getLong(3) == 0L)
    assert(got(1).getLong(4) == "plain text only".length.toLong)
  }

  test("repetitionStats: duplicate and top bigram fractions") {
    val docs = Seq((0L, "a b a b c")).toDF("doc_id", "text")
    // bigrams: "a b", "b a", "a b", "b c" -> 4 total, 3 distinct, top 2
    val r = PipelineOps.repetitionStats(docs).collect()(0)
    assert(r.getDouble(1) == 0.25) // dup_bigram_frac = 1 - 3/4
    assert(r.getDouble(2) == 0.5) // top_bigram_frac = 2/4
    assert(r.getDouble(3) == 0.5) // dup chars 6 of 12
  }

  test("classifierScore is deterministic and bounded in (-1, 1)") {
    val docs = Seq((0L, "x"), (1L, "some longer document text here"))
      .toDF("doc_id", "text")
    val got = PipelineOps.classifierScore(docs).orderBy("doc_id").collect()
    // single token "x": replicate the formula exactly
    val h = graft.functions.PolyHash.hash("x", 31L)
    val w = (h * 2654435761L) % 2001L - 1000L
    val x = w.toDouble / 1000.0
    val expected = BigDecimal(x / (1.0 + math.abs(x)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(0).getDouble(1) == expected)
    assert(got.forall(r => math.abs(r.getDouble(1)) < 1.0))
  }

  test("semanticDedup: identical vectors share a cell, min id kept") {
    val v = Array(1.0f, 2.0f, 3.0f, 4.0f)
    val far = Array(-4.0f, 3.0f, -2.0f, 1.0f)
    val emb = Seq((0L, v.toSeq), (1L, v.toSeq), (2L, far.toSeq))
      .toDF("vec_id", "embedding")
    val got = SimilarityOps.semanticDedup(emb, threshold = 0.9, dim = 4,
      nCentroids = 4).orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3)))
    assert(got(0) == ((0L, 1L, true))) // keeper of the dup pair
    assert(got(1) == ((1L, 1L, false))) // dropped: neighbor 0 < 1
    assert(got(2) == ((2L, 0L, true))) // no near neighbors
  }

  test("packSequences conserves tokens and documents") {
    val docs = (0L until 60L).map { i =>
      (if (i % 2 == 0) "en" else "de", s"src${i % 3}", i,
        Seq.fill((i % 7 + 1).toInt)("tok").mkString(" "))
    }.toDF("lang", "source", "doc_id", "text")
    // default path = auto-appended id_bucket (the enforced contract)
    val packed = PipelineOps.packSequences(docs, budget = 10L)
    assert(packed.columns.contains("id_bucket"),
      "the default shard key must include the enforced hash bucket")
    val totalTokens = (0L until 60L).map(_ % 7 + 1).sum
    assert(packed.agg(sum("n_tokens")).head.getLong(0) == totalTokens)
    assert(packed.agg(sum("n_docs")).head.getLong(0) == 60L)
    // no sequence starts beyond the shard's token count
    assert(packed.filter(col("n_docs") < 1L).count() == 0L)
    // bucketing is token/doc-conserving: same totals as the opt-out form
    val unbucketed = PipelineOps.packSequences(docs, budget = 10L,
      idBuckets = 1)
    assert(!unbucketed.columns.contains("id_bucket"))
    assert(unbucketed.agg(sum("n_tokens")).head.getLong(0) == totalTokens)
    assert(unbucketed.agg(sum("n_docs")).head.getLong(0) == 60L)
  }

  test("curationPipeline: keep = gopher && non-dup && score floor") {
    val good = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val docs = Seq(
      (5L, "en", "s", good), (9L, "en", "s", good), // exact dups
      (7L, "en", "s", "tiny doc")) // fails gopher (too short)
      .toDF("doc_id", "lang", "source", "text")
    val rows = PipelineOps.curationPipeline(docs).orderBy("doc_id").collect()
    val byId = rows.map(r => r.getLong(0) ->
      (r.getBoolean(2), r.getBoolean(3), r.getDouble(4), r.getBoolean(5))).toMap
    assert(!byId(5L)._2 && byId(9L)._2) // min id elected, 9 flagged dup
    assert(!byId(9L)._4) // dup never kept
    assert(!byId(7L)._1 && !byId(7L)._4) // gopher fail never kept
    rows.foreach { r =>
      assert(r.getBoolean(5) == (r.getBoolean(2) && !r.getBoolean(3) &&
        r.getDouble(4) > PipelineOps.scoreFloor))
    }
  }

  test("packSequences: finer shard key splits a hot shard, packs independently") {
    // one hot (lang, source) shard — the 100 TB failure shape: a single
    // reducer would sort all of it. A caller-supplied bucket component
    // splits it; each sub-shard packs independently.
    val docs = (0L until 40L).map(i => ("en", "web", i % 4, i, "t t t t t"))
      .toDF("lang", "source", "bucket", "doc_id", "text")
    val fine = PipelineOps.packSequences(docs, budget = 20L,
      shardCols = Seq("lang", "source", "bucket"), idBuckets = 1)
    assert(fine.columns.toSeq ==
      Seq("lang", "source", "bucket", "seq_id", "n_docs", "n_tokens"))
    // conservation across the finer sharding
    assert(fine.agg(sum("n_tokens")).head.getLong(0) == 200L)
    assert(fine.agg(sum("n_docs")).head.getLong(0) == 40L)
    // each bucket holds 10 docs × 5 tok = 50 tok -> seqs 0,1 (20+20) and 2 (10)
    val perBucket = fine.groupBy("bucket").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perBucket == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
    // explicit opt-out: the coarse path is ONE shard (one reducer) —
    // demo/oracle scale only
    val coarse = PipelineOps.packSequences(docs, budget = 20L,
      idBuckets = 1)
    assert(coarse.agg(sum("n_tokens")).head.getLong(0) == 200L)
    assert(coarse.select("seq_id").distinct().count() == 10L) // 200/20
    // the ENFORCED default: the hot shard splits across id_bucket cells
    // and no window cell holds the whole domain
    val enforced = PipelineOps.packSequences(docs, budget = 20L,
      idBuckets = 8)
    assert(enforced.agg(sum("n_tokens")).head.getLong(0) == 200L)
    assert(enforced.agg(sum("n_docs")).head.getLong(0) == 40L)
    val maxCell = enforced.groupBy("lang", "source", "id_bucket")
      .agg(sum("n_docs").as("cell")).agg(max("cell")).head.getLong(0)
    assert(maxCell < 40L, "no bucket cell may hold the whole hot domain")
  }

  test("packTokenIds: concat-and-chop real ids with separator boundaries") {
    val docs = Seq(("en", "s", 0L, ""), ("en", "s", 1L, ""),
      ("en", "s", 2L, "")).toDF("lang", "source", "doc_id", "text")
    // doc 0: ids 10,11,12; doc 1: token-less (contributes only its
    // separator slot); doc 2: ids 20..25
    val tok = (Seq((0L, 1L, 10L), (0L, 2L, 11L), (0L, 3L, 12L)) ++
        (1 to 6).map(p => (2L, p.toLong, 19L + p)))
      .toDF("doc_id", "pos", "token_id")
    val got = PipelineOps.packTokenIds(docs, tok, budget = 5L, sepId = 99L,
        idBuckets = 1).orderBy("seq_id").collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5),
        r.getString(6)))
    // slot stream: 10 11 12 99 | 99 20 21 22 23 | 24 25 99
    assert(got.toSeq == Seq(
      (0L, 2L, 5L, "10 11 12 99 99", "0:0-3 1:4-4"),
      (1L, 1L, 5L, "20 21 22 23 24", "2:0-4"),
      (2L, 1L, 2L, "25 99", "2:0-1")))
    // enforced default appends id_bucket; slot totals are
    // bucket-invariant and interior rows stay exactly budget-sized
    val bucketed = PipelineOps.packTokenIds(docs, tok, budget = 5L,
      sepId = 99L, idBuckets = 4)
    assert(bucketed.columns.contains("id_bucket"))
    assert(bucketed.agg(sum("n_ids")).head.getLong(0) == 12L)
    val lastPerShard = bucketed.groupBy("lang", "source", "id_bucket")
      .agg(max("seq_id").as("last"))
    val interior = bucketed.join(lastPerShard,
      Seq("lang", "source", "id_bucket"))
      .filter(col("seq_id") < col("last"))
    assert(interior.filter(col("n_ids") =!= 5L).count() == 0L,
      "every non-final sequence is exactly budget ids")
    // every row's input_ids length equals its n_ids accounting
    val counted = bucketed.select(col("n_ids"),
      expr("size(split(input_ids, ' '))").cast("long").as("n_str"))
    assert(counted.filter(col("n_ids") =!= col("n_str")).count() == 0L)
    // causal-LM labels: the shard stream shifted by one slot — row and
    // doc boundaries crossed, -100 only at the shard's final slot
    val lab = PipelineOps.packTokenIds(docs, tok, budget = 5L, sepId = 99L,
        idBuckets = 1, withLabels = true).orderBy("seq_id").collect()
      .map(r => (r.getString(5), r.getString(6)))
    // stream: 10 11 12 99 99 20 21 22 23 24 25 99
    assert(lab.toSeq == Seq(
      ("10 11 12 99 99", "11 12 99 99 20"),
      ("20 21 22 23 24", "21 22 23 24 25"),
      ("25 99", "99 -100")))
  }

  test("packTokenIds with labels: shuffled joins (threshold -1) match the default") {
    val docs = (0L until 12L).map(i => ("en", if (i % 3 == 0) "a" else "b", i, ""))
      .toDF("lang", "source", "doc_id", "text")
    val tok = (for (d <- 0L until 12L; p <- 1L to d % 5) yield (d, p, 10 * d + p))
      .toDF("doc_id", "pos", "token_id")
    val (b, s) = ShuffledShapes.defaultAndShuffled(spark) {
      ShuffledShapes.rows(PipelineOps.packTokenIds(docs, tok, budget = 4L,
        sepId = 99L, idBuckets = 2, withLabels = true))
    }
    assert(b.nonEmpty && s == b, "packTokenIds shapes disagree")
  }

  test("mlmMask: deterministic seeded 15% / 80-10-10 policy") {
    // 2000 docs x 50 tokens — big enough that the branch shares are
    // tight; token ids cycle over a 50-id vocabulary
    val tok = spark.range(0, 2000).select(col("id").as("doc_id"))
      .crossJoin(spark.range(1, 51).select(col("id").as("pos")))
      .withColumn("token", lit("t"))
      .withColumn("token_id", pmod(col("doc_id") * 7 + col("pos"), lit(50)))
    val m = PipelineOps.mlmMask(tok, vocabSize = 50, maskId = 3L,
      seed = 7L).cache()
    val n = 2000L * 50L
    val byAction = m.groupBy("mlm_action").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sel = n - byAction.getOrElse("none", 0L)
    assert(sel > (n * 0.13).toLong && sel < (n * 0.17).toLong,
      s"selected $sel of $n is far from 15%")
    assert(byAction("mask") > sel * 0.75 && byAction("mask") < sel * 0.85)
    assert(byAction("random") > sel * 0.07 && byAction("random") < sel * 0.13)
    assert(byAction("keep") > sel * 0.07 && byAction("keep") < sel * 0.13)
    // labels: -100 exactly on unselected positions, original id elsewhere
    assert(m.filter(col("mlm_action") === "none" &&
      col("label") =!= -100L).count() == 0L)
    assert(m.filter(col("mlm_action") =!= "none" &&
      col("label") =!= col("token_id")).count() == 0L)
    // masked_id per branch: [MASK] / in-vocab random / unchanged
    assert(m.filter(col("mlm_action") === "mask" &&
      col("masked_id") =!= 3L).count() == 0L)
    assert(m.filter(col("mlm_action").isin("keep", "none") &&
      col("masked_id") =!= col("token_id")).count() == 0L)
    assert(m.filter(col("mlm_action") === "random" &&
      (col("masked_id") < 0L || col("masked_id") >= 50L)).count() == 0L)
    // bit-reproducible: a second invocation is row-identical; a
    // different seed selects a different set
    val again = PipelineOps.mlmMask(tok, vocabSize = 50, maskId = 3L,
      seed = 7L)
    assert(m.exceptAll(again).count() == 0L &&
      again.exceptAll(m).count() == 0L)
    val other = PipelineOps.mlmMask(tok, vocabSize = 50, maskId = 3L,
      seed = 8L)
    assert(other.exceptAll(m).count() > 0L)
    m.unpersist()
  }

  test("mlmMask: specialIds are never selected") {
    val tok = spark.range(0, 5000).select(col("id").as("doc_id"))
      .withColumn("pos", lit(1L)).withColumn("token", lit("[UNK]"))
      .withColumn("token_id", lit(4L))
    val m = PipelineOps.mlmMask(tok, vocabSize = 50, maskId = 3L,
      specialIds = Set(4L))
    assert(m.filter(col("mlm_action") =!= "none").count() == 0L)
    assert(m.filter(col("label") =!= -100L).count() == 0L)
  }

  test("mlmMaskWholeWord: all pieces of a word share the selection") {
    // 800 docs x 20 two-piece words (head piece + ## continuation)
    val heads = spark.range(0, 800).select(col("id").as("doc_id"))
      .crossJoin(spark.range(0, 20).select(col("id").as("w")))
    val tok = heads.select(col("doc_id"), (col("w") * 2 + 1).as("pos"),
        lit("dog").as("token"), (col("w") % 40 + 5L).as("token_id"))
      .unionByName(heads.select(col("doc_id"), (col("w") * 2 + 2).as("pos"),
        lit("##s").as("token"), (col("w") % 40 + 6L).as("token_id")))
    val m = PipelineOps.mlmMaskWholeWord(tok, vocabSize = 50, maskId = 3L)
      .cache()
    // word reconstruction: piece 2k+1 opens word k+1, ##-piece joins it
    assert(m.filter(col("word_idx") =!= expr("(pos + 1L) div 2L"))
      .count() == 0L)
    // selection is per WORD: within (doc, word) either both pieces are
    // selected or neither (the 80/10/10 branch may differ per piece only
    // between mask/random/keep — all selected; none pairs with none)
    val perWord = m.withColumn("sel",
        when(col("mlm_action") === "none", 0L).otherwise(1L))
      .groupBy("doc_id", "word_idx")
      .agg(countDistinct(col("sel")).as("k"), sum(col("sel")).as("s"))
    assert(perWord.filter(col("k") =!= 1L).count() == 0L,
      "a word with a selected and an unselected piece")
    val selWords = perWord.filter(col("s") > 0L).count()
    assert(selWords > 0L, "no word selected — fixture too small")
    // the 80/10/10 branch draws per PIECE (the create_pretraining_data
    // behavior): some selected words mix actions across their pieces
    val mixed = m.filter(col("mlm_action") =!= "none")
      .groupBy("doc_id", "word_idx")
      .agg(countDistinct(col("mlm_action")).as("ka"))
      .filter(col("ka") > 1L).count()
    assert(mixed > 0L, "branch appears to be drawn per word, not per piece")
    m.unpersist()
  }

  test("spanCorrupt: sentinel replacement, targets echo, stats") {
    // 400 docs x 60 positions; ids = pos so strings are checkable
    val tok = spark.range(0, 400).select(col("id").as("doc_id"))
      .crossJoin(spark.range(1, 61).select(col("id").as("pos")))
      .withColumn("token_id", col("pos"))
    val out = PipelineOps.spanCorrupt(tok, sentinelBase = 9999L).cache()
    assert(out.count() == 400L)
    val rows = out.collect()
    rows.foreach { r =>
      val (nTok, nNoise, nSpans) =
        (r.getLong(1), r.getLong(2), r.getLong(3))
      val in = r.getString(4).split(" ").map(_.toLong)
      val tg = r.getString(5).split(" ").map(_.toLong)
      assert(nTok == 60L)
      // corrupted input = uncovered tokens + one sentinel per span
      assert(in.length.toLong == nTok - nNoise + nSpans)
      // sentinels descend from base; the targets close with the final
      // sentinel base - n_spans
      val sents = in.filter(_ > 60L)
      assert(sents.toSeq == (0L until nSpans).map(9999L - _))
      assert(tg.last == 9999L - nSpans)
      // targets echo exactly the covered tokens plus n_spans+1 sentinels
      assert(tg.length.toLong == nNoise + nSpans + 1)
      // splice check: replacing sentinels in the input by their target
      // spans reconstructs the original stream
      val spans = scala.collection.mutable.Map[Long,
        scala.collection.mutable.ArrayBuffer[Long]]()
      var cur = -1L
      tg.dropRight(1).foreach { v =>
        if (v > 60L) { cur = v; spans(cur) =
          scala.collection.mutable.ArrayBuffer[Long]() }
        else spans(cur) += v
      }
      val rebuilt = in.flatMap(v =>
        if (v > 60L) spans(v).toSeq else Seq(v))
      assert(rebuilt.toSeq == (1L to 60L),
        s"doc ${r.getLong(0)} splice mismatch")
    }
    // the corpus-level noise share is near the configured density:
    // 5% starts x mean len 3 = ~15% of tokens
    val tot = rows.map(_.getLong(2)).sum.toDouble / (400 * 60)
    assert(tot > 0.10 && tot < 0.20, s"noise share $tot out of band")
    // deterministic
    val again = PipelineOps.spanCorrupt(tok, sentinelBase = 9999L)
    assert(out.exceptAll(again).count() == 0L)
    out.unpersist()
  }

  test("permutationSuccessor: a cyclic permutation, bucket-invariant") {
    val docs = spark.range(0, 500).select(col("id").as("doc_id"))
    val got = PipelineOps.permutationSuccessor(docs, seed = 11L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 500)
    // every doc appears exactly once as a partner and never self-pairs
    assert(got.map(_._2).distinct.length == 500)
    assert(got.forall { case (d, p) => d != p })
    // matches the brute-force successor in shuffle-key order
    val keyed = docs.select(col("doc_id"),
        PipelineOps.epochShuffleKey(col("doc_id"), 11L).as("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._2)
    val expect = keyed.indices.map { i =>
      keyed(i)._1 -> keyed((i + 1) % keyed.length)._1
    }.toMap
    got.foreach { case (d, p) => assert(p == expect(d)) }
    // the bucketed stitching is invisible: any bucket count agrees
    val b1 = PipelineOps.permutationSuccessor(docs, seed = 11L,
        buckets = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    got.foreach { case (d, p) => assert(b1(d) == p) }
  }

  test("permutationNegatives: k distinct balanced negatives per doc") {
    val docs = spark.range(0, 300).select(col("id").as("doc_id"))
    val got = PipelineOps.permutationNegatives(docs, k = 4).cache()
    assert(got.count() == 1200L)
    // per doc: 4 pairwise-distinct negatives, never self
    val perDoc = got.groupBy("doc_id")
      .agg(countDistinct(col("neg_id")).as("d"),
        sum(when(col("neg_id") === col("doc_id"), 1L).otherwise(0L))
          .as("self"))
    assert(perDoc.filter(col("d") =!= 4L || col("self") =!= 0L)
      .count() == 0L)
    // balanced: every doc serves as a negative exactly k times
    val asNeg = got.groupBy("neg_id").agg(count(lit(1)).as("c"))
    assert(asNeg.filter(col("c") =!= 4L).count() == 0L)
    // hop j equals j applications of the successor map
    val succ = PipelineOps.permutationSuccessor(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    got.filter(col("hop") === 3L).collect().foreach { r =>
      assert(succ(succ(succ(r.getLong(0)))) == r.getLong(2))
    }
    got.unpersist()
  }

  test("nspPairs: seeded 50/50 keep-or-swap with permutation negatives") {
    val docs = spark.range(0, 2000).select(col("id").as("doc_id"))
    val positives = spark.range(0, 1999).select(col("id").as("doc_a"),
      (col("id") + 1L).as("doc_b"))
    val got = PipelineOps.nspPairs(positives, docs).cache()
    assert(got.count() == 1999L)
    val pos = got.filter(col("is_next") === 1L)
    val neg = got.filter(col("is_next") === 0L)
    // the split hovers around half (deterministic, loosely banded)
    assert(pos.count() > 800L && pos.count() < 1200L)
    // label-1 rows keep the true follower
    assert(pos.filter(col("doc_b") =!= col("doc_a") + 1L).count() == 0L)
    // label-0 rows carry the permutation partner
    val partners = PipelineOps.permutationSuccessor(docs)
      .withColumnRenamed("doc_id", "doc_a")
    assert(neg.join(partners, Seq("doc_a"))
      .filter(col("doc_b") =!= col("partner_id")).count() == 0L)
    // deterministic across invocations
    val again = PipelineOps.nspPairs(positives, docs)
    assert(got.exceptAll(again).count() == 0L)
    got.unpersist()
  }

  test("classifierScoreTrained: broadcast weight join, OOV counts as zero") {
    val wTable = PipelineOps.demoTrainedWeights(spark)
    val wThe = PipelineOps.demoTrainedVocab.toMap.apply("the")
    val docs = Seq((0L, "the the zzzunknown"), (1L, "zzzunknown")).toDF("doc_id", "text")
    val got = PipelineOps.classifierScoreTrained(docs, wTable)
      .orderBy("doc_id").collect()
    // doc 0: s = 2*w(the) + 0, n = 3
    val x0 = (2.0 * wThe) / (1000.0 * 3.0)
    val exp0 = BigDecimal(x0 / (1.0 + math.abs(x0)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(0).getDouble(1) == exp0)
    // all-OOV doc scores exactly 0
    assert(got(1).getDouble(1) == 0.0)
  }

  test("curationPipeline: fingerprint-colliding distinct texts are NOT dups") {
    // "Aa" and "BB" collide under the base-31 PolyHash (65*31+97 == 66*31+66
    // == 2112), and polynomial hashing is linear, so equal-length context
    // around them preserves the collision — these two DISTINCT texts share
    // a fingerprint. The election must still keep both (the 64-bit text
    // hash separates them); pre-fix they'd be falsely flagged exact dups.
    val tA = "alpha bravo Aa charlie delta echo foxtrot golf hotel india"
    val tB = "alpha bravo BB charlie delta echo foxtrot golf hotel india"
    assert(tA != tB &&
      graft.functions.PolyHash.hash(tA, 31L) == graft.functions.PolyHash.hash(tB, 31L))
    val docs = Seq((1L, "en", "s", tA), (2L, "en", "s", tB))
      .toDF("doc_id", "lang", "source", "text")
    val rows = PipelineOps.curationPipeline(docs).orderBy("doc_id").collect()
    assert(rows.length == 2)
    rows.foreach(r => assert(!r.getBoolean(3),
      s"doc ${r.getLong(0)} falsely flagged is_exact_dup on fp collision"))
  }

  test("domainMixWeights: weight = target * total / actual") {
    val docs = (0L until 8L).map(i => (i, if (i < 4) "en" else "de", "s", "t"))
      .toDF("doc_id", "lang", "source", "text")
    val got = PipelineOps.domainMixWeights(docs).orderBy("lang").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // en target 0.40625 over 4/8 actual -> 0.8125; de 0.21875 over 0.5 -> 0.4375
    assert(got("en") == ((4L, 0.8125)))
    assert(got("de") == ((4L, 0.4375)))
  }

  test("resampleByWeight: floor copies + hash fraction, exact on integers") {
    import org.apache.spark.sql.functions.{col, count, lit}
    val docs = (0L until 100L).map(i => (i, "en", "s", "t"))
      .toDF("doc_id", "lang", "source", "text")
    // w = 2.5 -> every doc gets 2 copies, ~half get a third
    val w = Seq(("en", 2500L)).toDF("lang", "w_milli")
    val out = PipelineOps.resampleByWeight(docs, w)
    val perDoc = out.groupBy("doc_id").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perDoc.size == 100 && perDoc.values.forall(c => c == 2L || c == 3L))
    val n3 = perDoc.values.count(_ == 3L)
    assert(n3 > 25 && n3 < 75, s"hash-fraction copies off: $n3/100")
    // deterministic: second run identical
    val again = PipelineOps.resampleByWeight(docs, w)
      .groupBy("doc_id").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == perDoc)
    // w < 1 downsamples: ~30% survive with one copy
    val wd = Seq(("en", 300L)).toDF("lang", "w_milli")
    val kept = PipelineOps.resampleByWeight(docs, wd).count()
    assert(kept > 10 && kept < 60, s"downsample kept $kept/100")
  }

  test("hashSplit: exhaustive, deterministic, roughly 80/10/10") {
    import org.apache.spark.sql.functions.col
    val docs = (0L until 1000L).map(i => (i, "en", "s", "t"))
      .toDF("doc_id", "lang", "source", "text")
    val got = docs.select(col("doc_id"),
        PipelineOps.hashSplit(col("doc_id")).as("split"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 1000)
    val byName = got.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(byName.keySet == Set("train", "val", "test"))
    assert(byName("train") > 700 && byName("val") < 200 && byName("test") < 200)
    // stability under corpus growth: the first 100 docs keep their split
    val sub = docs.filter(col("doc_id") < 100).select(col("doc_id"),
        PipelineOps.hashSplit(col("doc_id")).as("split"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sub == got.filter(_._1 < 100))
  }

  test("domainCap: at most cap docs per shard, deterministic selection") {
    val docs = (0L until 30L).map(i => (i, if (i < 25) "en" else "de", "s", "t"))
      .toDF("doc_id", "lang", "source", "text")
    val kept = PipelineOps.domainCap(docs, cap = 10)
    val byShard = kept.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byShard == Map("en" -> 10L, "de" -> 5L)) // under-cap shard intact
    // selection is a deterministic function of doc_id: two runs agree
    val ids1 = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = PipelineOps.domainCap(docs, cap = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2 && ids1.size == 15)
  }

  test("chunkSpans: gapless cover, window/stride arithmetic, short docs") {
    val docs = Seq(
      (0L, Seq.fill(224)("w").mkString(" ")), // 224 tok = exactly 2 chunks
      (1L, Seq.fill(225)("w").mkString(" ")), // 225 -> 3rd chunk of 33
      (2L, "a b c")) // short doc -> 1 chunk of 3
      .toDF("doc_id", "text")
    val got = PipelineOps.chunkSpans(docs, window = 128, stride = 96)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    assert(got((0L, 0L)) == ((0L, 128L)) && got((0L, 1L)) == ((96L, 128L)))
    assert(!got.contains((0L, 2L)))
    assert(got((1L, 2L)) == ((192L, 33L)))
    assert(got((2L, 0L)) == ((0L, 3L)) && !got.contains((2L, 1L)))
    // every token position < n_tok is covered by some chunk
    val cover0 = got.collect { case ((0L, _), (s, l)) => (s, s + l) }
    assert(cover0.exists(c => c._1 <= 223 && 223 < c._2))
  }

  test("weightedSample: A-ES keys, weight-proportional, deterministic") {
    // one group; weights: doc 7 has overwhelming mass, doc 5 none
    val docs = (0L until 20L).map(i =>
      (i, "g", if (i == 7L) 1e9 else if (i == 5L) 0.0 else 1.0))
      .toDF("doc_id", "lang", "n_chars")
    val got = PipelineOps.weightedSample(docs, Seq("lang"), k = 3,
      weightCol = "n_chars").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got.size == 3)
    assert(got.contains(7L)) // ln(u)/1e9 ~ 0- dominates every unit weight
    assert(!got.contains(5L)) // zero weight = no sampling mass
    // exact agreement with a direct reimplementation of the key formula
    val p = 1000000007L
    def key(id: Long, w: Double): Double = {
      val u = (((id % p) * 2654435761L % p) + 1).toDouble / (p + 1).toDouble
      math.rint(math.log(u) / w * 1e6) / 1e6
    }
    val expect = (0L until 20L).filter(i => i != 5L)
      .map(i => i -> key(i, if (i == 7L) 1e9 else 1.0))
      .sortBy { case (id, k0) => (-k0, id) }.take(3).map(_._1).toSet
    assert(got == expect)
    // deterministic across runs
    val again = PipelineOps.weightedSample(docs, Seq("lang"), k = 3,
      weightCol = "n_chars").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == got)
  }

  test("tokenBudgetMix fills each group's token target in seeded hash order") {
    val docs = (0L until 30L).map { i =>
      (i, if (i % 2 == 0) "g1" else "g2",
        Seq.fill((i % 5 + 1).toInt)("w").mkString(" "))
    }.toDF("doc_id", "lang", "text")
    val got = PipelineOps.tokenBudgetMix(docs, Map("g1" -> 10L), seed = 42L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.forall(_._2 == "g1")) // untargeted group contributes nothing
    // driver-side reference: same portable hash, same fill-until rule
    val p = BigInt(PipelineOps.ShufflePrime)
    def key(id: Long) = (((BigInt(id) + 42) mod p) * PipelineOps.ShuffleMult mod p).toLong
    val ordered = (0L until 30L).filter(_ % 2 == 0)
      .map(i => (i, i % 5 + 1)).sortBy { case (id, _) => (key(id), id) }
    val expected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var before = 0L
    ordered.foreach { case (id, nt) =>
      if (before < 10L) { expected += ((id, nt)); before += nt }
    }
    assert(got.map(r => (r._1, r._3)).toSet == expected.toSet)
    // the crossing doc is included: kept tokens reach the target
    assert(expected.map(_._2).sum >= 10L)
  }

  test("tokenBudgetMix: bucketed prefix sum equals global cumsum, no whole-domain window") {
    // one giant domain: the hot-shard shape the bucketing exists for
    val docs = (0L until 400L).map(i => (i, "big", "w w w"))
      .toDF("doc_id", "lang", "text")
    val mix = PipelineOps.tokenBudgetMix(docs, Map("big" -> 600L), seed = 1L,
      buckets = 8)
    // plan: any window ordering by the row key must ALSO partition by the
    // bucket — a corpus-wide per-domain sort task must not exist
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val wins = mix.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty)
    wins.foreach { w =>
      if (w.orderSpec.exists(_.child.toString.contains("__k")))
        assert(w.partitionSpec.length == 2,
          s"row-level cumsum window must be (group, bucket)-partitioned: $w")
    }
    assert(wins.exists(_.partitionSpec.length == 2))
    // bucketed two-phase result == driver-side global hash-order fill-until
    val p = BigInt(PipelineOps.ShufflePrime)
    def key(id: Long) = (((BigInt(id) + 1) mod p) * PipelineOps.ShuffleMult mod p).toLong
    val ordered = (0L until 400L).sortBy(i => (key(i), i))
    var before = 0L
    val expected = ordered.flatMap { id =>
      if (before < 600L) { before += 3; Some(id) } else None
    }.toSet
    val got = mix.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expected)
    // the giant domain genuinely spans several buckets in this fixture
    val width = PipelineOps.ShufflePrime / 8 + 1
    val nb = (0L until 400L).map(i => key(i) / width).distinct.size
    assert(nb > 1, s"fixture should span buckets, got $nb")
  }

  test("weightedSample edge parity: negative ids use pmod, NaN weights excluded") {
    // expected set computed by running weightedSampleSql's emitted SQL on
    // this exact fixture in DuckDB: the SQL twin must agree beyond the
    // non-negative-id, finite-weight happy path the sf fixtures cover
    val docs = Seq(
      (-5L, "a", 2.0), (-3L, "a", 2.0), (1L, "a", 2.0),
      (2L, "a", Double.NaN), (3L, "b", 1.0), (4L, "b", 0.5))
      .toDF("doc_id", "lang", "w")
    val got = PipelineOps.weightedSample(docs, Seq("lang"), k = 2,
      weightCol = "w").select("lang", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("b", 3L), ("b", 4L), ("a", -5L), ("a", 1L)))
  }

  test("curriculumBins: equal-mass bins from percentile cuts, no sort") {
    // scores 0..99: quartile cuts at 24.75/49.5/74.25 -> bins of 25 each
    val docs = (0L until 100L).map(i => (i, i.toDouble)).toDF("doc_id", "q")
    val binned = PipelineOps.curriculumBins(docs, col("q"), nBins = 4)
    val sizes = binned.groupBy("bin").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes == Map(0L -> 25L, 1L -> 25L, 2L -> 25L, 3L -> 25L))
    // bin is monotone in score
    val byDoc = binned.select("doc_id", "bin").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byDoc(0L) == 0L && byDoc(99L) == 3L && byDoc(50L) == 2L)
    // no global-sort window: plan must not contain a Window operator
    val plan = binned.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"unexpected window in:\n$plan")
    // the bounded-state scale path (approx_percentile) bins identically
    // on this distribution
    val approx = PipelineOps.curriculumBins(docs, col("q"), nBins = 4,
      exact = false).groupBy("bin").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(approx.values.sum == 100L && approx.keySet == Set(0L, 1L, 2L, 3L))
  }

  test("temperatureMixWeights flattens toward uniform as alpha drops") {
    // 90/10 corpus: alpha=1 → natural weights (all 1.0); alpha=0.5 →
    // the tail domain upweighted, head downweighted; weights stay a
    // valid resampling (Σ n_i·w_i/total = 1)
    val docs = ((0 until 90).map(i => (i.toLong, "en")) ++
      (90 until 100).map(i => (i.toLong, "zh"))).toDF("doc_id", "lang")
    def w(alpha: Double): Map[String, Double] =
      PipelineOps.temperatureMixWeights(docs, alpha)
        .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val natural = w(1.0)
    assert(math.abs(natural("en") - 1.0) < 1e-6)
    assert(math.abs(natural("zh") - 1.0) < 1e-6)
    val flat = w(0.5)
    assert(flat("zh") > 1.5 && flat("en") < 1.0)
    // mass conservation: 90·w_en + 10·w_zh == 100 (to rounding)
    assert(math.abs(90 * flat("en") + 10 * flat("zh") - 100.0) < 1e-3)
  }

  test("training shards: deterministic across input partitionings; pruned reads; manifest validates") {
    val dir = java.nio.file.Files.createTempDirectory("graft-shards").toString
    val docs = spark.range(1000L).toDF("doc_id")
      .withColumn("text", concat(lit("doc "), col("doc_id")))
    PipelineOps.writeTrainingShards(docs.repartition(7), dir, nShards = 8,
      seed = 7L)
    val m1 = spark.read.parquet(s"$dir/_manifest")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDecimal(2).toBigInteger)).sortBy(_._1).toSeq
    // re-export from a DIFFERENT input partitioning into a second dir:
    // shard membership, counts, and fingerprints must be identical
    val dir2 = java.nio.file.Files.createTempDirectory("graft-shards2").toString
    PipelineOps.writeTrainingShards(docs.repartition(3), dir2, nShards = 8,
      seed = 7L)
    val m2 = spark.read.parquet(s"$dir2/_manifest")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDecimal(2).toBigInteger)).sortBy(_._1).toSeq
    assert(m1 == m2, "manifest differs across input partitionings")
    // all shards present, sizes hash-balanced, union is the corpus
    assert(m1.map(_._1) == (0L until 8L).toSeq)
    assert(m1.map(_._2).sum == 1000L)
    assert(m1.map(_._2).max < 2 * 1000 / 8, s"skewed shards: $m1")
    // a single-shard read is directory-pruned and disjoint
    val s0 = PipelineOps.readTrainingShard(spark, dir, Some(0))
    assert(s0.count() == m1.head._2)
    val ids = PipelineOps.readTrainingShard(spark, dir)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids == (0L until 1000L).toSeq)
    // within-shard rows come back in epoch order (the written sort)
    val keys = s0.withColumn("k",
        PipelineOps.epochShuffleKey(col("doc_id"), 7L))
      .select("k").as[Long].collect().toSeq
    assert(keys == keys.sorted, "shard not in epoch-key order")
    PipelineOps.validateTrainingShards(spark, dir)
    // a tampered manifest fails loudly
    val bad = spark.read.parquet(s"$dir/_manifest")
      .withColumn("n_rows", col("n_rows") + 1)
    bad.write.mode("overwrite").parquet(s"$dir/_manifest_tmp")
    spark.read.parquet(s"$dir/_manifest_tmp").write.mode("overwrite")
      .parquet(s"$dir/_manifest")
    val e = intercept[IllegalArgumentException] {
      PipelineOps.validateTrainingShards(spark, dir)
    }
    assert(e.getMessage.contains("manifest mismatch"))
  }

  test("snapshotDiff classifies added/removed/changed/unchanged + null text") {
    val old = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, null: String),
      (5L, null: String)).toDF("doc_id", "text")
    val nw = Seq((2L, "b"), (3L, "C!"), (4L, null: String), (5L, "now"),
      (6L, "new")).toDF("doc_id", "text")
    val got = PipelineOps.snapshotDiff(old, nw)
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "removed", 2L -> "unchanged", 3L -> "changed",
      4L -> "unchanged", // null == null, both hash as empty
      5L -> "changed",   // null -> text
      6L -> "added"))
  }

  test("leakage-safe splits: near-dup pairs never straddle a split") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text")
    val keep = DedupOps.jaccardDedupKeep(docs, tau = 0.9)
    val split = keep.select($"doc_id",
        PipelineOps.hashSplit($"keep_id").as("split"))
      .as[(Long, String)].collect().toMap
    val pairs = DedupOps.jaccardJoin(docs, tau = 0.9)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty, "fixture has no near-dup pairs to test")
    for ((a, b) <- pairs)
      assert(split(a) == split(b), s"pair ($a,$b) straddles splits")
    // and the naive doc_id split DOES straddle some pair on this corpus
    // (otherwise this operator tests nothing)
    val naive = docs.select($"doc_id",
        PipelineOps.hashSplit($"doc_id").as("split"))
      .as[(Long, String)].collect().toMap
    assert(pairs.exists { case (a, b) => naive(a) != naive(b) },
      "fixture too easy: naive split also leak-free")
  }

  test("eventTransitions: adjacency counts, row-stochastic, tie order") {
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    val ev = Seq(
      (1L, ts(10), 1L, "a"), (2L, ts(20), 1L, "b"), (3L, ts(30), 1L, "a"),
      (4L, ts(10), 2L, "a"), (5L, ts(20), 2L, "b"),
      // user 3: two simultaneous events — event_id breaks the tie
      (6L, ts(10), 3L, "x"), (7L, ts(10), 3L, "y"), (8L, ts(20), 3L, "z"),
      (9L, ts(5), 4L, "solo")) // single event: no transition
      .toDF("event_id", "ts", "user_id", "event_type")
    val got = FunnelOps.eventTransitions(ev)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got == Map(
      ("a", "b") -> ((2L, 1.0)),       // both a->b users
      ("b", "a") -> ((1L, 1.0)),       // only user 1 continues past b
      ("x", "y") -> ((1L, 1.0)), ("y", "z") -> ((1L, 1.0))), s"got $got")
    // row-stochastic: per from_type the probabilities sum to 1
    val rows = got.toSeq.groupBy(_._1._1)
      .map { case (_, xs) => xs.map(_._2._2).sum }
    assert(rows.forall(s => math.abs(s - 1.0) < 1e-9))
  }

  test("distributionDrift: zero on identical, positive PSI on shifts") {
    val old = (Seq.fill(40)("a") ++ Seq.fill(40)("b") ++ Seq.fill(20)("c"))
      .toDF("k")
    // identical snapshots: p == q exactly -> every term exactly 0
    val same = ProfileOps.distributionDrift(old, old, "k")
      .as[(String, Long, Long, Double, Double, Double, Double)].collect()
    assert(same.forall { case (_, _, _, p, q, kl, psi) =>
      p == q && kl == 0.0 && psi == 0.0 })
    // c disappears, d appears, a doubles
    val nw = (Seq.fill(80)("a") ++ Seq.fill(40)("b") ++ Seq.fill(20)("d"))
      .toDF("k")
    val got = ProfileOps.distributionDrift(old, nw, "k")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(5), r.getDouble(6)))).toMap
    assert(got.keySet == Set("a", "b", "c", "d"))
    assert(got("c")._1 == 20L && got("c")._2 == 0L)
    assert(got("d")._1 == 0L && got("d")._2 == 20L)
    // PSI terms are nonnegative by construction ((p-q) and ln(p/q)
    // share sign); disappear/appear/shift keys are strictly positive
    assert(got.values.forall(_._4 >= 0.0))
    for (k <- Seq("a", "c", "d")) assert(got(k)._4 > 0.0, s"psi($k)")
    // KL(p||q) total over the union support is nonnegative
    assert(got.values.map(_._3).sum >= 0.0)
    // hand-check one term: key c, K=4 union keys -> p = (20+1)/(100+4),
    // q = (0+1)/(140+4)
    val p = 21.0 / 104.0; val q = 1.0 / 144.0
    assert(math.abs(got("c")._3 -
      BigDecimal(p * math.log(p / q)).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble) < 2e-6)
  }

  test("cooccurPairs: hand-checked window pairs, exact integer weights") {
    val docs = Seq((0L, "a b a c")).toDF("doc_id", "text")
    val got = TextOps.cooccurPairs(docs, window = 2, minPairs = 1L)
      .as[(String, String, Long, Long)].collect().toSet
    // d=1: (a,b) (b,a)->(a,b) (a,c); d=2: (a,a) (b,c)
    assert(got == Set(
      ("a", "b", 2L, 24L), ("a", "c", 1L, 12L),
      ("a", "a", 1L, 6L), ("b", "c", 1L, 6L)), s"got $got")
    // short docs emit nothing at distances past their length
    val tiny = Seq((0L, "x")).toDF("doc_id", "text")
    assert(TextOps.cooccurPairs(tiny, window = 4, minPairs = 1L).count() == 0L)
    // w12 identity: for window 1 every pair weight is exactly 12
    val w1 = TextOps.cooccurPairs(docs, window = 1, minPairs = 1L)
      .as[(String, String, Long, Long)].collect()
    assert(w1.forall { case (_, _, n, w) => w == 12L * n })
  }

  test("positionalPmi: hand-checked values, perfect-collocation zero") {
    // "a b a b": window 1 -> 3 (a,b) pair occurrences; marginals 3 and 3,
    // N = 3 -> pmi = ln(3*3/(3*3)) = 0 exactly (a and b ONLY occur
    // together: no association signal beyond their frequency)
    val d1 = Seq((0L, "a b a b")).toDF("doc_id", "text")
    val g1 = TextOps.positionalPmi(d1, window = 1, minPairs = 1L)
      .as[(String, String, Long, Double)].collect().toSeq
    assert(g1 == Seq(("a", "b", 3L, 0.0)), s"got $g1")
    // add an unrelated pair: (a,b) now carries positive PMI because the
    // corpus total N grew while its marginals did not
    val d2 = Seq((0L, "a b a b"), (1L, "x y")).toDF("doc_id", "text")
    val g2 = TextOps.positionalPmi(d2, window = 1, minPairs = 1L)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3))
      .toMap
    val want = BigDecimal(math.log(4.0 * 3 / (3 * 3))).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(g2(("a", "b")) - want) < 2e-6, s"got ${g2(("a", "b"))}")
    assert(g2(("x", "y")) > 0.0)
  }

  // ---- Z-order layout ----

  test("mortonKey2 == driver-side interleave; de-interleave recovers") {
    val rnd = new scala.util.Random(4)
    val pts = Seq((0L, 0L), (65535L, 65535L), (0L, 65535L), (65535L, 0L),
      (1L, 2L)) ++ Seq.fill(200)((rnd.nextInt(65536).toLong,
      rnd.nextInt(65536).toLong))
    val got = pts.toDF("a", "b")
      .select(col("a"), col("b"),
        LayoutOps.mortonKey2(col("a"), col("b")).as("z"))
      .as[(Long, Long, Long)].collect()
    for ((a, b, z) <- got) {
      assert(z == LayoutOps.mortonKey2Local(a, b), s"($a,$b)")
      // de-interleave: even bits -> a, odd bits -> b
      var (ra, rb) = (0L, 0L)
      for (i <- 0 until 16) {
        ra |= ((z >> (2 * i)) & 1L) << i
        rb |= ((z >> (2 * i + 1)) & 1L) << i
      }
      assert(ra == a && rb == b, s"roundtrip ($a,$b) -> $z -> ($ra,$rb)")
    }
  }

  test("writeZOrdered: disjoint per-file key ranges; box query prunes files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    // 64x64 grid, one row per cell — uniform occupancy of the Z-space
    val rows = for (a <- 0L until 64L; b <- 0L until 64L) yield (a, b)
    val df = rows.toDF("a", "b").repartition(8)
    LayoutOps.writeZOrdered(df,
      LayoutOps.mortonKey2(col("a"), col("b")), dir, numFiles = 16)
    val ranges = LayoutOps.fileZRanges(spark, dir)
    assert(ranges.size == 16)
    val sorted = ranges.sortBy(_._2)
    for (Seq((_, _, hi), (_, lo, _)) <- sorted.sliding(2))
      assert(hi < lo, "file key ranges overlap")
    // aligned quadrant a in [16,31], b in [48,63]: morton range is
    // contiguous, so exact file pruning applies
    val zLo = LayoutOps.mortonKey2Local(16L, 48L)
    val zHi = LayoutOps.mortonKey2Local(31L, 63L)
    val hit = sorted.filter { case (_, lo, hi) => hi >= zLo && lo <= zHi }
    assert(hit.size < sorted.size / 2,
      s"box touched ${hit.size}/${sorted.size} files - no pruning")
    // correctness: the pruned file set contains every box row
    val inBox = spark.read.parquet(hit.map(_._1): _*)
      .filter(col("a").between(16, 31) && col("b").between(48, 63)).count()
    assert(inBox == 16L * 16L)
  }

  test("scd2: runs collapse, gaps split, is_current marks the open tail") {
    import graft.ops.PipelineOps
    // key 1: stable a..a            -> one current interval [0,3]
    // key 2: a,a,b,b                -> [0,1] closed + [2,3] current
    // key 3: a, GAP at 1, a, a      -> [0,0] closed + [2,3] current (no
    //   continuity lie across the deletion)
    // key 4: last seen at snap 1    -> [0,1] closed, nothing current
    val rows = Seq(
      (1L, "a", 0L), (1L, "a", 1L), (1L, "a", 2L), (1L, "a", 3L),
      (2L, "a", 0L), (2L, "a", 1L), (2L, "b", 2L), (2L, "b", 3L),
      (3L, "a", 0L), (3L, "a", 2L), (3L, "a", 3L),
      (4L, "a", 0L), (4L, "a", 1L)).toDF("k", "v", "snap")
    val out = PipelineOps.scd2(rows, "k", "v", "snap", maxSnap = 3L)
      .orderBy("k", "valid_from").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSeq
    assert(out == Seq(
      (1L, "a", 0L, 3L, true),
      (2L, "a", 0L, 1L, false), (2L, "b", 2L, 3L, true),
      (3L, "a", 0L, 0L, false), (3L, "a", 2L, 3L, true),
      (4L, "a", 0L, 1L, false)))
    // invariant: intervals per key never overlap and cover exactly the
    // snapshots the key appeared in
    val covered = out.flatMap { case (k, _, f, t, _) => (f to t).map(k -> _) }
    assert(covered.distinct.size == covered.size)
    assert(covered.toSet == rows.collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toSet)
  }

  test("maintainAgg: delta maintenance lands on the full recompute") {
    import org.apache.spark.sql.functions.{col, length}
    // old: key moves, measure edits, deletes, inserts, an emptied key
    val oldSnap = Seq(
      (1L, "a", "xxxx"), (2L, "a", "yy"), (3L, "b", "zzz"),
      (4L, "c", "qq"), (5L, "b", "w")).toDF("doc_id", "source", "text")
    val newSnap = Seq(
      (1L, "b", "xxxx"),  // key move a -> b
      (2L, "a", "yyyyyy"), // in-place measure edit
      (3L, "b", "zzz"),    // untouched
      (6L, "d", "new"),    // insert into a NEW key
      (5L, "b", "w")).toDF("doc_id", "source", "text") // 4L deleted, c emptied
    val base = PipelineOps.snapshotAgg(oldSnap, "source", length(col("text")))
    val changes = PipelineOps.cdcChanges(
      oldSnap, newSnap, "doc_id", "source", length(col("text")))
    // only the 4 affecting rows survive the feed filter
    assert(changes.count() == 4L)
    val got = PipelineOps.maintainAgg(base, changes)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    val want = PipelineOps.snapshotAgg(newSnap, "source", length(col("text")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    assert(got.sameElements(want), s"${got.toSeq} vs ${want.toSeq}")
    assert(!got.exists(_._1 == "c"), "emptied key must leave the view")

    // a SUPERSET feed (no-op rows included) cancels to the same view
    val o = oldSnap.select(col("doc_id").as("id"), col("source").as("old_key"),
      length(col("text")).cast("long").as("old_m"),
      org.apache.spark.sql.functions.lit(true).as("old_present"))
    val n = newSnap.select(col("doc_id").as("id"), col("source").as("new_key"),
      length(col("text")).cast("long").as("new_m"),
      org.apache.spark.sql.functions.lit(true).as("new_present"))
    val superset = o.join(n, Seq("id"), "full_outer")
      .na.fill(false, Seq("old_present", "new_present"))
    val got2 = PipelineOps.maintainAgg(base, superset)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    assert(got2.sameElements(want))

    // a feed that disagrees with the base (double-retract) fails loudly
    val bogus = changes.unionByName(changes)
    intercept[Exception](PipelineOps.maintainAgg(
      base.filter(col("key") === "c"), bogus).collect())
  }
}
