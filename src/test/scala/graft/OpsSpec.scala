package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops._

/** LLM-pipeline operators: dedup / similarity / text / multimodal. */
class OpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get
  import spark.implicits._

  private def docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"), // near-dup of 0
    (2L, "completely different content about spark engines"),
    (3L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
    (4L, "word")).toDF("doc_id", "text")

  test("exactDedup groups identical texts, keeps min id") {
    val groups = DedupOps.exactDupGroups(docs).collect()
    assert(groups.length == 1)
    assert(groups(0).getAs[Long]("keep_id") == 0L)
    assert(groups(0).getAs[scala.collection.Seq[Long]]("ids").toSeq == Seq(0L, 3L))
  }

  test("exactDupGroups: capped ids, null-text group survives") {
    val withNulls = Seq((0L, "same"), (1L, "same"), (2L, null),
      (3L, null), (4L, "uniq")).toDF("doc_id", "text")
    val got = DedupOps.exactDupGroups(withNulls, maxIds = 1)
      .collect().map(r => Option(r.getString(0)) ->
        (r.getLong(1), r.getLong(2), r.getAs[scala.collection.Seq[Long]](3).toSeq))
      .toMap
    // n_copies counts ALL copies; the exhibited id list is capped at 1
    assert(got(Some("same")) == ((0L, 2L, Seq(0L))))
    // the null-text duplicate group must not vanish in the id join
    assert(got(None) == ((2L, 2L, Seq(2L))))
    assert(!got.contains(Some("uniq")))
  }

  test("shingles: distinct k-word shingles, short docs yield none") {
    val sh = DedupOps.shingles(docs, 3).collect().map(r => (r.getLong(0), r.getString(1)))
    assert(!sh.exists(_._1 == 4L))
    assert(sh.count(_._1 == 0L) == 7) // 9 tokens -> 7 shingles, all distinct
  }

  test("jaccard near-dup stats finds planted near-dup and exact dup") {
    val stats = DedupOps.jaccardNearDupStats(docs, DfCap.Uncapped, k = 3, threshold = 0.3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(stats(0L)._1 >= 2) // near-dup 1 and exact dup 3
    assert(stats(3L)._2 == 1.0) // exact dup -> jaccard 1.0
    assert(stats(2L)._1 == 0)
    assert(stats(4L) == ((0L, 0.0))) // shingle-less doc still present
  }

  test("jaccard DfCap.Capped drops hot-shingle candidates (lower-bound form)") {
    // maxDf = 1 drops every shingle shared by 2+ docs from candidate
    // generation — the drop-only cap turns all stats into zero matches
    // while per-doc rows remain (zero-filled, never empty)
    val stats = DedupOps.jaccardNearDupStats(docs, DfCap.Capped(1), k = 3,
        threshold = 0.1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(stats.size == docs.count())
    assert(stats.values.forall(_ == ((0L, 0.0))))
    intercept[IllegalArgumentException](DfCap.Capped(0))
  }

  test("connected components: chains and isolated pairs get min labels") {
    // 1-2-3-4 chain, 10-11 pair, 20-21-22 triangle
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("doc_a", "doc_b")
    val got = DedupOps.connectedComponents(pairs, maxIter = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("star contraction: 10^4-node chain converges in O(log n) rounds") {
    val chain = spark.range(0, 9999).select(col("id").as("doc_a"),
      (col("id") + 1L).as("doc_b"))
    val (labels, rounds) = DedupOps.connectedComponentsImpl(chain, maxIter = 25)
    assert(rounds <= 20, s"expected <= 20 alternating rounds, took $rounds")
    val agg = labels.agg(countDistinct(col("component")), count(lit(1)),
      max(col("component"))).collect()(0)
    assert(agg.getLong(0) == 1L && agg.getLong(1) == 10000L && agg.getLong(2) == 0L)
  }

  test("connected components throw instead of returning unconverged labels") {
    val chain = spark.range(0, 999).select(col("id").as("doc_a"),
      (col("id") + 1L).as("doc_b"))
    intercept[IllegalStateException](
      DedupOps.connectedComponents(chain, maxIter = 2).collect())
  }

  test("contamination: overlapping docs flagged, clean docs zero") {
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog today"),
      (101L, "completely unrelated text about query engines")).toDF("doc_id", "text")
    val evalSet = Seq((0L, "the quick brown fox jumps over a fence")).toDF("doc_id", "text")
    val stats = DedupOps.contaminationStats(corpus, evalSet, k = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(stats(100L)._1 >= 1 && stats(100L)._2 == 1) // shares "the quick brown fox jumps"
    assert(stats(101L) == ((0L, 0L)))
  }

  test("minhash LSH: exact dup always collides; verified pairs pass threshold") {
    val pairs = DedupOps.minhashDedupPairs(docs, k = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists(p => p._1 == 0L && p._2 == 3L && p._3 == 1.0))
    assert(pairs.forall(_._3 >= 0.5))
  }

  test("passageDedup removes non-first repeated n-gram coverage, keeps the rest") {
    val corpus = Seq(
      (0L, "a b c d e x y"), // owns the first occurrence of "a b c d e"
      (1L, "p q a b c d e r"), // repeats it mid-doc -> tokens 2..6 removed
      (2L, "short"), // below n: untouched
      (3L, "m n o m n o m n o")) // within-doc loop compresses to one period
      .toDF("doc_id", "text")
    val got = DedupOps.passageDedup(corpus, n = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(0L) == (("a b c d e x y", 7L, 0L))) // first occurrences stay
    assert(got(1L) == (("p q r", 3L, 5L)))
    assert(got(2L) == (("short", 1L, 0L)))
    // "m n o"/"n o m"/"o m n" dups cover positions 3..8; the first period
    // (tokens 0..2) survives
    assert(got(3L) == (("m n o", 3L, 6L)))
  }

  test("decontaminateRewrite removes eval-covered passages, keeps the rest") {
    val corpus = Seq(
      (10L, "a b c d e f g"), // "c d e" and "d e f" hit eval -> tokens 2..5 out
      (11L, "no overlap here at all")).toDF("doc_id", "text")
    val evalSet = Seq((0L, "x c d e f y")).toDF("doc_id", "text")
    val got = DedupOps.decontaminateRewrite(corpus, evalSet, k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(10L) == (("a b g", 3L, 4L)))
    assert(got(11L) == (("no overlap here at all", 5L, 0L)))
  }

  test("rewrite ops keep the one-row-per-doc shape on NULL text") {
    // split(NULL) is a NULL array; without the coalesce, size() = -1 leaks
    // into n_kept and the contract shape breaks
    val corpus = Seq((0L, "a b c d"), (1L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val evalSet = Seq((0L, "x y z")).toDF("doc_id", "text")
    for (df <- Seq(DedupOps.passageDedup(corpus, n = 3),
        DedupOps.decontaminateRewrite(corpus, evalSet, k = 3))) {
      val got = df.collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
      assert(got(1L) == (("", 0L, 0L)))
      assert(got(0L) == (("a b c d", 4L, 0L)))
    }
  }

  test("keepBest elects the highest-quality cluster member, not the min id") {
    // doc 11 = doc 10's text plus 2 extra words: jaccard 8/10 = 0.8
    // (same cluster at threshold 0.5, and high enough that the seeded
    // 16x4 LSH bands deterministically collide) and a HIGHER quality
    // score (length saturation), so the election picks 11 over min id 10
    val base = "the quick brown fox jumps over the lazy dog again"
    val corpus = Seq(
      (10L, base),
      (11L, base + " helpfully appended"),
      (12L, "unrelated solitary document body")).toDF("doc_id", "text")
    val got = DedupOps.minhashDedupKeepBest(corpus, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got(10L) == ((11L, false)))
    assert(got(11L) == ((11L, true)))
    assert(got(12L) == ((12L, true))) // singleton keeps itself
    // min-id election on the same corpus keeps 10 — the two policies differ
    val minId = DedupOps.minhashDedupKeep(corpus, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(minId(11L) == 10L)
    // equal scores (exact dup texts) tie to the lower id
    val tied = Seq((20L, base), (21L, base)).toDF("doc_id", "text")
    val t = DedupOps.minhashDedupKeepBest(tied, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(t == Map(20L -> 20L, 21L -> 20L))
    // NULL scores (null text) must not drop rows: one row per corpus doc
    // always, null-score docs elect by min id and rank below real scores
    val withNull = Seq((30L, null.asInstanceOf[String]), (31L, base))
      .toDF("doc_id", "text")
    val nres = DedupOps.minhashDedupKeepBest(withNull, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(nres == Map(30L -> ((30L, true)), 31L -> ((31L, true))))
  }

  test("epochShuffle: seeded bijective key, new seed = new permutation") {
    val ids = (0L until 1000L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val k1 = PipelineOps.epochShuffle(ids, seed = 1L)
      .select("doc_id", "shuffle_key").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    // bijection on ids < p: no collisions, keys in [0, p)
    assert(k1.map(_._2).distinct.length == 1000)
    assert(k1.forall { case (_, k) => k >= 0 && k < PipelineOps.ShufflePrime })
    // deterministic across evaluations
    val again = PipelineOps.epochShuffle(ids, seed = 1L)
      .select("doc_id", "shuffle_key").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(k1.toMap == again.toMap)
    // a different seed is a different permutation (order actually changes)
    val k2 = PipelineOps.epochShuffle(ids, seed = 2L)
      .select("doc_id", "shuffle_key").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val order1 = k1.sortBy(_._2).map(_._1).toSeq
    val order2 = k2.toSeq.sortBy(_._2).map(_._1)
    assert(order1 != order2)
    // not the identity order either
    assert(order1 != (0L until 1000L).toSeq)
  }

  test("epochShuffle: no key collisions across ids straddling 1e9+7") {
    // under the old 1e9+7 modulus, id and id + (1e9+7) collided; the
    // 2^61-1 modulus keeps the bijection through the 100 TB id regime
    val q = 1000000007L
    val ids = (0L until 500L).flatMap(i =>
      Seq(i * 7919L, i * 7919L + q, i * 7919L + 2 * q, Long.MaxValue / 2 + i))
    val df = ids.map(i => (i, "")).toDF("doc_id", "text")
    val keys = PipelineOps.epochShuffle(df, seed = 9L)
      .select("shuffle_key").collect().map(_.getLong(0))
    assert(keys.distinct.length == ids.distinct.length)
    assert(keys.forall(k => k >= 0 && k < PipelineOps.ShufflePrime))
    // bit-exact vs a BigInt reimplementation of the published formula
    val p = BigInt(PipelineOps.ShufflePrime)
    val expect = ids.map(i =>
      (((BigInt(i) + 9) mod p) * PipelineOps.ShuffleMult mod p).toLong)
    val got = PipelineOps.epochShuffle(df, seed = 9L)
      .orderBy("doc_id").select("doc_id", "shuffle_key").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ids.zip(expect).forall { case (i, e) => got(i) == e })
  }

  test("simhash: identical texts share fingerprint; near-dup within small hamming") {
    val fp = DedupOps.simhash64(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(0L) == fp(3L))
    val ham01 = java.lang.Long.bitCount(fp(0L) ^ fp(1L))
    val ham02 = java.lang.Long.bitCount(fp(0L) ^ fp(2L))
    assert(ham01 < ham02, s"near-dup hamming $ham01 should be < unrelated $ham02")
  }

  test("simhash Manku blocking: exact recall at hamming 3, buckets shrink exponentially") {
    val rnd = new java.util.Random(7)
    val base = Array.fill(3000)(rnd.nextLong())
    // plant a near-dup differing in 3 bits that land in three DIFFERENT
    // blocks under both schemes (bits 2, 20, 40) — the worst case for the
    // pigeonhole: exactly one table still matches
    val planted = base(0) ^ (1L << 2) ^ (1L << 20) ^ (1L << 40)
    val fpDf = (base :+ planted).zipWithIndex
      .map { case (f, i) => (i.toLong, f) }.toSeq.toDF("doc_id", "simhash")
    val p6 = DedupOps.simhashNearDupPairsFromFp(fpDf, maxHamming = 3, nBlocks = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val p4 = DedupOps.simhashNearDupPairsFromFp(fpDf, maxHamming = 3, nBlocks = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p6.contains((0L, 3000L))) // the planted pair is found
    assert(p6 == p4) // verified output is independent of the blocking scheme
    // candidate volume = sum of C(bucket, 2) over every (table, key) bucket:
    // the quantity the self-join actually generates
    def volume(nBlocks: Int): Long =
      DedupOps.simhashBlockKeys(fpDf, 3, nBlocks)
        .groupBy("b", "sig").count()
        .agg(sum(expr("count * (count - 1) div 2"))).collect()(0).getLong(0)
    val v4 = volume(4) // ~4 * C(3001,2) / 2^16 ~ 270 on uniform fingerprints
    val v6 = volume(6) // ~20 * C(3001,2) / 2^32 ~ 0 beyond the planted pair
    assert(v6 <= v4 / 10, s"expected exponential shrink, got v4=$v4 v6=$v6")
    assert(v6 <= 20, s"uniform corpus should have ~no 32-bit key collisions, got v6=$v6")
    // blocking parameter sanity: the guarantee needs maxHamming < nBlocks
    intercept[IllegalArgumentException](
      DedupOps.simhashBlockKeys(fpDf, maxHamming = 4, nBlocks = 4))
  }

  test("cosine: unit/orthogonal vectors; matches hand computation") {
    val df = Seq((Array(1f, 0f), Array(1f, 0f), Array(0f, 1f)))
      .toDF("a", "b", "c")
    val r = df.select(
      SimilarityOps.cosine(col("a"), col("b")).as("ab"),
      SimilarityOps.cosine(col("a"), col("c")).as("ac")).collect()(0)
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 0.0)
  }

  test("brute-force top-k is correct on a crafted corpus") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f)), (1L, Array(0.9f, 0.1f, 0f)),
      (2L, Array(0f, 1f, 0f)), (3L, Array(-1f, 0f, 0f))).toDF("vec_id", "embedding")
    val top = SimilarityOps.bruteForceTopK(vecs.filter($"vec_id" === 0L), vecs, 2)
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(top.toSeq == Seq((1L, 1), (2L, 2)))
  }

  test("hardNegatives: nearest other-label only; self and same-label excluded") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f), 1),
      (1L, Array(0.99f, 0.05f, 0f), 1),  // same label: must not appear
      (2L, Array(0.9f, 0.2f, 0f), 2),    // closest other-label
      (3L, Array(0.5f, 0.5f, 0f), 2),
      (4L, Array(-1f, 0f, 0f), 3)).toDF("vec_id", "embedding", "label")
    val got = SimilarityOps.hardNegatives(vecs.filter($"vec_id" === 0L), vecs, 2)
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(got.toSeq == Seq((2L, 1), (3L, 2)), s"got ${got.toSeq}")
    // differential on real embeddings: hard negatives == brute ranking
    // restricted to other-label, re-ranked
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter($"vec_id" < 5)
    val hn = SimilarityOps.hardNegatives(q, emb, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val labels = emb.select("vec_id", "label").as[(Long, Int)].collect().toMap
    val naive = SimilarityOps.bruteForceTopK(q, emb, 10000).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
      .filter { case (qid, nid, _) => labels(qid) != labels(nid) }
      .groupBy(_._1).toSeq.flatMap { case (qid, xs) =>
        xs.sortBy(_._3).take(3).zipWithIndex
          .map { case ((_, nid, _), i) => (qid, nid, i + 1) }.toSeq }
      .toSet
    assert(hn == naive, s"diff ${hn.diff(naive)} / ${naive.diff(hn)}")
  }

  test("hardNegativesLsh recall vs brute hard negatives") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter($"vec_id" < 20)
    val brute = SimilarityOps.hardNegatives(q, emb, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the random-embedding regime needs wider bands (see the LSH ANN
    // recall test above): 16 bands x 4 bits
    val lsh = SimilarityOps.hardNegativesLsh(q, emb, dim = 64, k = 5,
        bands = 16, rowsPerBand = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.5, s"hard-negative LSH recall $recall")
    // label contract: every returned pair is other-label
    val labels = emb.select("vec_id", "label").as[(Long, Int)].collect().toMap
    assert(lsh.forall { case (a, b) => labels(a) != labels(b) })
  }

  test("LSH ANN recall vs brute force on real embeddings") {
    // random synthetic embeddings have weak top-k structure (cos ~0.3-0.5);
    // 16 bands x 4 bits targets that regime. The 8x8 default targets the
    // near-dup regime (cos >= 0.9) where band-collision prob is ~0.94.
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter($"vec_id" < 20)
    val brute = SimilarityOps.bruteForceTopK(q, emb, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = SimilarityOps.annTopK(q, emb, dim = 64, k = 5,
      bands = 16, rowsPerBand = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ann).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall $recall")
  }

  test("PQ: duplicate vector minimizes ADC; codes bounded; L2 recall") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    // a planted exact duplicate shares all m codes, so its ADC equals the
    // query's own table minima summed — the global minimum by construction
    val dup = emb.filter($"vec_id" === 3L)
      .select(lit(9999L).as("vec_id"), col("embedding"))
    val corpus = emb.select("vec_id", "embedding").unionByName(dup)
    val enc = SimilarityOps.pqEncode(corpus, 64)
    val codes = enc.collect().map(r =>
      r.getLong(0) -> r.getAs[scala.collection.Seq[Int]](1).toSeq).toMap
    assert(codes.values.forall(cs => cs.size == 8 &&
      cs.forall(c => c >= 0 && c < 16)))
    assert(codes(9999L) == codes(3L)) // identical vector, identical codes
    val top = SimilarityOps.pqTopK(emb.filter($"vec_id" === 3L), enc, 64, 3)
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(top.head == ((9999L, 1)), s"got ${top.toSeq}")
    // recall vs exact top-5 (chance ~0.01): seeded random books are the
    // floor; per-subspace Lloyd training must lift it — the production
    // path pqTrainBooks exists for
    val q = emb.filter($"vec_id" < 20)
    val exact = SimilarityOps.bruteForceTopK(q, emb, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallWith(books: Option[Array[Array[Array[Long]]]]): Double = {
      val pq = SimilarityOps.pqTopK(q,
        SimilarityOps.pqEncode(emb, 64, books = books), 64, 5, books = books)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact & pq).size.toDouble / exact.size
    }
    val untrained = recallWith(None)
    assert(untrained >= 0.03, s"untrained recall $untrained") // >> chance
    val trained = recallWith(
      Some(SimilarityOps.pqTrainBooks(emb, 64, iters = 3)))
    assert(trained > untrained,
      s"training must lift recall: $untrained -> $trained")
  }

  test("IVF+PQ: cell pruning preserves ADC scores; duplicate still #1") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dup = emb.filter($"vec_id" === 3L)
      .select(lit(9999L).as("vec_id"), col("embedding"))
    val corpus = emb.select("vec_id", "embedding").unionByName(dup)
    // identical vector -> identical cell AND identical codes -> rank 1
    // survives the probe pruning
    val top = SimilarityOps.ivfPqTopK(emb.filter($"vec_id" === 3L), corpus,
      64, 3).collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(top.head == ((9999L, 1)), s"got ${top.toSeq}")
    // pruning must not change a surviving pair's ADC: every IVF+PQ hit
    // carries the same score the full-scan ADC assigns it
    val q = emb.filter($"vec_id" < 10)
    val full = SimilarityOps.pqTopK(q, SimilarityOps.pqEncode(emb, 64),
      64, 500).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val pruned = SimilarityOps.ivfPqTopK(q, emb, 64, 5).collect()
    assert(pruned.nonEmpty)
    pruned.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(full(key) == r.getLong(2), s"adc drift at $key")
    }
  }

  test("persisted PQ index round-trips and searches identically") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter($"vec_id" < 10)
    val dir = java.nio.file.Files.createTempDirectory("graft-pq").toString
    SimilarityOps.writePqIndex(SimilarityOps.buildPqIndex(emb, 64), dir)
    val idx = SimilarityOps.readPqIndex(spark, dir)
    val viaIndex = SimilarityOps.pqTopKIndexed(q, idx, 5)
      .collect().map(r => (r.getLong(0), r.getInt(3)) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    val fresh = SimilarityOps.ivfPqTopK(q, emb, 64, 5)
      .collect().map(r => (r.getLong(0), r.getInt(3)) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    assert(viaIndex == fresh)
  }

  test("appendToPqIndex: incremental batch == full rebuild; old never re-read") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter($"vec_id" < 10)
    val half1 = emb.filter($"vec_id" % 2 === 0)
    val half2 = emb.filter($"vec_id" % 2 =!= 0)
    // index over half the corpus, then append the other half
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-inc").toString
    SimilarityOps.writePqIndex(SimilarityOps.buildPqIndex(half1, 64), dir)
    SimilarityOps.appendToPqIndex(spark, dir, half2)
    val viaAppended = SimilarityOps.pqTopKIndexed(q,
        SimilarityOps.readPqIndex(spark, dir), 5)
      .collect().map(r => (r.getLong(0), r.getInt(3)) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    // reference: one-shot index over the full corpus (same seeded books)
    val dirFull = java.nio.file.Files.createTempDirectory("graft-pq-fullref").toString
    SimilarityOps.writePqIndex(SimilarityOps.buildPqIndex(emb, 64), dirFull)
    val viaFull = SimilarityOps.pqTopKIndexed(q,
        SimilarityOps.readPqIndex(spark, dirFull), 5)
      .collect().map(r => (r.getLong(0), r.getInt(3)) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    assert(viaAppended == viaFull,
      "appended index diverges from a full rebuild")
    // append encodes ONLY the new batch: row counts add up exactly
    val n = spark.read.parquet(s"$dir/data").count()
    assert(n == emb.count(), s"appended index has $n rows")
  }

  test("LSH near-dup stats match driver-side brute force with planted dups") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    // plant a near-copy of every vector: tiny bump on dim 0 -> sim ~0.9999,
    // squarely in the regime nearDupStatsLsh is built for (miss ~1e-11)
    val planted = emb.select((col("vec_id") + 10000L).as("vec_id"),
      transform(col("embedding"),
        (v, i) => when(i === 0, v + lit(0.001f)).otherwise(v)).as("embedding"))
    val corpus = emb.select("vec_id", "embedding").unionByName(planted)
    val got = SimilarityOps.nearDupStatsLsh(corpus, 0.9, dim = 64)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // driver-side ground truth: qualifying-pair stats from exact cosine
    // with the same sequential double sums and 6-dp rounding
    val vecs = corpus.collect()
      .map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[Float]](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val ids = vecs.keys.toSeq
    val expected = ids.map { id =>
      val sims = for {
        other <- ids if other != id
        s = BigDecimal(cos(vecs(id), vecs(other)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        if !s.isNaN && s >= 0.9
      } yield s
      id -> (sims.size.toLong, if (sims.isEmpty) 0.0 else sims.max)
    }.toMap
    assert(expected.values.count(_._1 > 0) == ids.size,
      "planting failed: every vector should have a qualifying neighbor")
    assert(got == expected)
  }

  test("IVF ANN recall vs brute force with wide probe") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter($"vec_id" < 20)
    val brute = SimilarityOps.bruteForceTopK(q, emb, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = SimilarityOps.ivfTopK(q, emb, dim = 64, k = 5,
      nCentroids = 16, nprobe = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.3, s"recall $recall") // random embeddings: weak
    // structure; probing half the cells must beat random subset baseline
  }

  test("knn graph brute: every node ranked, crafted neighbors exact") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f)), (1L, Array(0.9f, 0.1f, 0f)),
      (2L, Array(0f, 1f, 0f)), (3L, Array(-1f, 0f, 0f))).toDF("vec_id", "embedding")
    val g = SimilarityOps.knnGraphBrute(vecs, 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // mutual nearest pair (0,1); 2's best is 1 (0.1 component); 3's best
    // is 2 (orthogonal beats antipodal)
    assert(g == Map(0L -> 1L, 1L -> 0L, 2L -> 1L, 3L -> 2L))
  }

  test("knn graph: candidate pairs unique, recall vs brute, all nodes kept") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val g = SimilarityOps.knnGraph(emb, dim = 64, k = 3,
      nCentroids = 16, nprobe = 8)
    val rows = g.collect()
    // dst lives in exactly one cell => (src, dst) duplicate-free without
    // any dedup operator in the plan
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length == pairs.distinct.length, "duplicate candidate pair")
    // every source present (nprobe cells always contain >= k+1 vectors
    // at this corpus/cell ratio)
    assert(rows.map(_.getLong(0)).distinct.length == emb.count())
    val brute = SimilarityOps.knnGraphBrute(emb, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = pairs.toSet
    val recall = (brute & got).size.toDouble / brute.size
    assert(recall >= 0.3, s"recall $recall") // same regime as IVF ANN above
  }

  test("profile: bounded scans for all columns; values exact; schema match") {
    import spark.implicits._
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
    val prof = ProfileOps.profile(li)
    // THE scale property: C columns profiled in exactly TWO scans
    // (hash-friendly Expand branch + sort-based extrema branch — one
    // combined agg drags the expanded relation through SortAggregate,
    // the measured 5.5x cliff)
    val plan = prof.queryExecution.executedPlan.toString
    val nScans = "Scan parquet".r.findAllIn(plan).size
    assert(nScans == 2, s"exact profile must be two scans, plan has $nScans")
    // and no SortAggregate may sit above the Expand
    def hasExpand(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      p.collectWithSubqueries {
        case e: org.apache.spark.sql.execution.ExpandExec => e }.nonEmpty
    val badSortAggs = prof.queryExecution.executedPlan.collectWithSubqueries {
      case s: org.apache.spark.sql.execution.aggregate.SortAggregateExec
        if hasExpand(s) => s
    }
    assert(badSortAggs.isEmpty,
      s"SortAggregate over the Expand branch: $badSortAggs")
    val rows = prof.collect().map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == li.schema.fields.map(_.name).toSet)
    val n = li.count()
    val ok = rows("l_orderkey")
    assert(ok.getLong(1) == n && ok.getLong(2) == 0L)
    assert(ok.getLong(3) == li.select("l_orderkey").distinct().count())
    assert(ok.getDouble(4) == li.agg(min($"l_orderkey")).collect()(0).getLong(0).toDouble)
    // string & timestamp slots populated only where applicable
    assert(rows("l_returnflag").isNullAt(4) && !rows("l_returnflag").isNullAt(7))
    assert(rows("l_shipdate").isNullAt(7) && !rows("l_shipdate").isNullAt(9))
    // the engine schema the static oracle schema must keep matching
    // (NTZ and LTZ timestamps are the same profiling kind)
    def kind(dt: org.apache.spark.sql.types.DataType): String = dt match {
      case org.apache.spark.sql.types.TimestampNTZType => "timestamp"
      case other => other.simpleString
    }
    assert(graft.ExtensionQueries.lineitemSchemaForTest.fields.map(f =>
      (f.name, kind(f.dataType))).toSeq ==
      li.schema.fields.map(f => (f.name, kind(f.dataType))).toSeq,
      "static oracle schema drifted from the parquet schema")
    // approx mode: no Expand in the plan, ndv within HLL tolerance
    val approx = ProfileOps.profile(li, approxDistinct = true)
    assert(!approx.queryExecution.executedPlan.toString.contains("Expand"),
      "approx profile must not expand rows")
    // ...and the whole approx profile (portable HLL sketches + all exact
    // stats) is ONE scan — the 100 TB default's defining property
    val nApproxScans = "Scan parquet".r
      .findAllIn(approx.queryExecution.executedPlan.toString).size
    assert(nApproxScans == 1,
      s"approx profile must be one scan, plan has $nApproxScans")
    // ...and with no Expand there are no distinct grouping keys, so the
    // string-extrema SortAggregates degrade to sortless folds: no
    // SortExec anywhere in the scale-mode plan
    val approxSorts = approx.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.SortExec => s
    }
    assert(approxSorts.isEmpty, s"approx profile must not sort: $approxSorts")
    val apOk = approx.collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    val exact = ok.getLong(3).toDouble
    assert(math.abs(apOk("l_orderkey") - exact) / exact < 0.1)
  }

  test("jaccardJoin: prefix filter lossless vs unpruned join; boundary pair kept") {
    import spark.implicits._
    // boundary construction AT SHINGLE GRANULARITY: A = t1..t21
    // (19 3-shingles), B = t1..t20 + u (19 shingles, 18 shared) =>
    // J = 18/(19+19-18) = 0.9 exactly — must survive at tau = 0.9
    val aToks = (1 to 21).map(i => s"w$i")
    val planted = Seq(
      (9001L, aToks.mkString(" ")),
      (9002L, (aToks.take(20) :+ "u9").mkString(" "))).toDF("doc_id", "text")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text").unionByName(planted)
    val tau = 0.9
    val got = DedupOps.jaccardJoin(docs, tau).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((9001L, 9002L)), "exact-boundary J=0.9 pair dropped")
    // unpruned reference join computed directly in Spark, same shingles
    val tok = DedupOps.shingles(docs, 3)
      .withColumnRenamed("shingle", "tok")
    val sz = tok.groupBy("doc_id").agg(count(lit(1)).as("size"))
    val brute = tok.select($"doc_id".as("doc_a"), $"tok")
      .join(tok.select($"doc_id".as("doc_b"), $"tok"), Seq("tok"))
      .filter($"doc_a" < $"doc_b")
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
      .join(sz.select($"doc_id".as("doc_a"), $"size".as("sa")), Seq("doc_a"))
      .join(sz.select($"doc_id".as("doc_b"), $"size".as("sb")), Seq("doc_b"))
      .filter($"inter".cast("double") / ($"sa" + $"sb" - $"inter") >= tau)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute,
      s"prefix filter changed the result: missing=${brute -- got} extra=${got -- brute}")
  }

  test("cosineJoin: prefix filter lossless vs unpruned join; boundary pair kept") {
    import spark.implicits._
    // boundary AT SHINGLE GRANULARITY: A = w1..w22 (20 3-shingles),
    // B = w1..w20 + u1 u2 (20 shingles, 18 shared) =>
    // cos = 18/sqrt(20*20) = 0.9 exactly — must survive at tau = 0.9
    val aToks = (1 to 22).map(i => s"w$i")
    val planted = Seq(
      (9101L, aToks.mkString(" ")),
      (9102L, (aToks.take(20) ++ Seq("u1", "u2")).mkString(" ")))
      .toDF("doc_id", "text")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text").unionByName(planted)
    val tau = 0.9
    val res = DedupOps.cosineJoin(docs, tau).collect()
    val got = res.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((9101L, 9102L)), "exact-boundary cos=0.9 pair dropped")
    assert(res.find(r => r.getLong(0) == 9101L && r.getLong(1) == 9102L)
      .get.getAs[Double]("cosine") == 0.9)
    // unpruned reference join computed directly in Spark, same shingles
    val tok = DedupOps.shingles(docs, 3)
      .withColumnRenamed("shingle", "tok")
    val sz = tok.groupBy("doc_id").agg(count(lit(1)).as("size"))
    val bruteSet = tok.select($"doc_id".as("doc_a"), $"tok")
      .join(tok.select($"doc_id".as("doc_b"), $"tok"), Seq("tok"))
      .filter($"doc_a" < $"doc_b")
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
      .join(sz.select($"doc_id".as("doc_a"), $"size".as("sa")), Seq("doc_a"))
      .join(sz.select($"doc_id".as("doc_b"), $"size".as("sb")), Seq("doc_b"))
      .filter($"inter".cast("double") /
        sqrt($"sa".cast("double") * $"sb".cast("double")) >= tau)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == bruteSet,
      s"prefix filter changed the result: missing=${bruteSet -- got} extra=${got -- bruteSet}")
  }

  test("cosineJoin admits the size-imbalanced pair Jaccard rejects") {
    import spark.implicits._
    // A = 12 shingles all inside B's 25: o=12, cos = 12/sqrt(12*25)
    // = 0.6928; J = 12/25 = 0.48 — at tau 0.6 cosine keeps, jaccard drops
    val bToks = (1 to 27).map(i => s"v$i") // 25 shingles
    val docs = Seq(
      (1L, bToks.take(14).mkString(" ")), // 12 shingles, prefix of B
      (2L, bToks.mkString(" "))).toDF("doc_id", "text")
    val cosGot = DedupOps.cosineJoin(docs, 0.6).collect()
    assert(cosGot.length == 1 && cosGot(0).getLong(0) == 1L)
    assert(DedupOps.jaccardJoin(docs, 0.6).collect().isEmpty)
  }

  test("containmentJoin: shuffled joins (threshold -1) match the default shapes") {
    import spark.implicits._
    val aToks = (1 to 40).map(i => s"q$i")
    val filler = (1 to 60).map(d => (d.toLong,
      (0 until 20).map(i => s"w${(d * 7 + i * i) % 53}").mkString(" ")))
    val docs = (filler ++ Seq((9201L, aToks.mkString(" ")),
      (9202L, aToks.take(12).mkString(" ")))).toDF("doc_id", "text")
    val (b, s) = ShuffledShapes.defaultAndShuffled(spark) {
      ShuffledShapes.rows(DedupOps.containmentJoin(docs, 0.8))
    }
    assert(b.exists(_.startsWith("[9202,9201,")), "planted quote pair missing")
    assert(s == b, "containmentJoin shapes disagree")
  }

  test("containmentJoin: asymmetric quote pair, boundary kept, lossless vs unpruned") {
    import spark.implicits._
    // B = verbatim 10-word quote from A (100 distinct words): all 8 of
    // B's 3-shingles are in A => containment(B->A) = 1.0; (A->B) = 8/98 —
    // only one direction qualifies at tau = 0.8. C = the same quote's
    // first 10 words plus 2 fresh words: 8 of C's 10 shingles are in A
    // => containment(C->A) = 0.8 exactly — boundary kept.
    val aToks = (1 to 100).map(i => s"c$i")
    val planted = Seq(
      (9101L, aToks.mkString(" ")),
      (9102L, aToks.take(10).mkString(" ")),
      (9103L, (aToks.take(10) ++ Seq("zz1", "zz2")).mkString(" ")))
      .toDF("doc_id", "text")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text").unionByName(planted)
    val tau = 0.8
    val got = DedupOps.containmentJoin(docs, tau).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((9102L, 9101L)), "verbatim quote pair dropped")
    assert(!got.contains((9101L, 9102L)), "reverse direction must not qualify")
    assert(got.contains((9103L, 9101L)), "exact-boundary C=0.8 pair dropped")
    // unpruned ordered-pair reference join over the SAME shingle relation
    val tok = DedupOps.shingles(docs, 3)
    val sz = tok.groupBy("doc_id").agg(count(lit(1)).as("size"))
    val brute = tok.select($"doc_id".as("doc_a"), $"shingle")
      .join(tok.select($"doc_id".as("doc_b"), $"shingle"), Seq("shingle"))
      .filter($"doc_a" =!= $"doc_b")
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
      .join(sz.select($"doc_id".as("doc_a"), $"size".as("sa")), Seq("doc_a"))
      .filter($"inter".cast("double") / $"sa" >= tau)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute,
      s"prefix filter changed the result: missing=${brute -- got} extra=${got -- brute}")
  }

  test("labelOutliers: planted far vector flagged, tight cluster clean") {
    import spark.implicits._
    // label 1: nine identical vectors plus one far outlier (flag needs
    // dist_out > 16*dist_in once the centroid drag is accounted for);
    // label 2: a tight pair — nothing flagged (dist == mean for both,
    // and mean > 4*mean requires dist > 0)
    val inliers = (1L to 9L).map(i => (i, Array(1f, 0f), 1))
    val rows = (inliers ++ Seq(
      (10L, Array(40f, 40f), 1),
      (11L, Array(0f, 1f), 2), (12L, Array(0f, 1f), 2)))
      .toDF("vec_id", "embedding", "label")
    val got = SimilarityOps.labelOutliers(rows).collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    val expected = ((1L to 9L).map(_ -> false) ++
      Seq(10L -> true, 11L -> false, 12L -> false)).toMap
    assert(got == expected, s"got $got")
    // dist is exact integer: identical vectors share one dist value
    val dists = SimilarityOps.labelOutliers(rows).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(dists(1L) == dists(2L) && dists(11L) == dists(12L) &&
      dists(11L) == 0L)
  }

  test("tfidfTopK: crafted corpus scores and ranks") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a b"), (2L, "a c"), (3L, "c c c d")).toDF("doc_id", "text")
    val rows = TextOps.tfidfTopK(docs, k = 2).collect()
      .map(r => ((r.getLong(0), r.getInt(5)), (r.getString(1), r.getDouble(4))))
      .toMap
    val ln3 = math.log(3.0); val ln15 = math.log(1.5)
    // doc 1: b (1·ln3 ≈ 1.098612) beats a (2·ln1.5 ≈ 0.810930)
    assert(rows((1L, 1)) == ("b", BigDecimal(ln3).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble))
    assert(rows((1L, 2))._1 == "a")
    assert(rows((1L, 2))._2 == BigDecimal(2 * ln15).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble)
    // doc 2: ties at ln1.5 for a and c break alphabetically
    assert(rows((2L, 1))._1 == "a" && rows((2L, 2))._1 == "c")
    // doc 3: d unique (ln3) vs c tf=3 (3·ln1.5 ≈ 1.216) — c wins
    assert(rows((3L, 1))._1 == "c" && rows((3L, 2))._1 == "d")
  }

  test("standardizeDims: z-scores exact on a crafted corpus; constant dim -> 0") {
    import spark.implicits._
    // dim 0 values {1, 3}: mean 2, std 1 => z = ±1; dim 1 constant => 0
    val vecs = Seq((1L, Array(1f, 5f)), (2L, Array(3f, 5f)))
      .toDF("vec_id", "embedding")
    val z = SimilarityOps.standardizeDims(vecs).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(z == Map((1L, 0) -> -1.0, (2L, 0) -> 1.0,
      (1L, 1) -> 0.0, (2L, 1) -> 0.0), s"got $z")
  }

  test("domainTfidfTopK: shared terms score 0, exclusive terms rank first") {
    import spark.implicits._
    val docs = Seq(
      ("web", "the cat"), ("web", "the dog"),
      ("code", "the function"), ("code", "the function"))
      .toDF("source", "text")
    val got = TextOps.domainTfidfTopK(docs, "source", k = 1).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    // "the" is in both domains: ln(2/2) = 0; exclusives carry ln 2
    assert(got("web")._1 == "cat") // tf 1 each, alphabetical tie-break
    assert(got("code") == ("function", 2L))
  }

  test("SQ8: planted duplicate at dist 0 ranks first; codes bounded; L2 recall") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    // plant an exact duplicate of vec 3 under a fresh id: every level
    // matches, integer dist is exactly 0, and 0 is un-tieable except by
    // another exact duplicate — so it MUST rank 1 for query 3
    val dupOf = emb.filter($"vec_id" === 3L)
      .select(lit(900001L).as("vec_id"), $"embedding", $"label")
    val corpus = emb.unionByName(dupOf)
    val top = SimilarityOps.sqTopK(emb.filter($"vec_id" === 3L), corpus,
      dim = 64, k = 3).collect()
    assert(top.head.getLong(1) == 900001L && top.head.getLong(2) == 0L,
      s"dup should rank 1 at dist 0, got ${top.head}")
    // codes stay in [0, 255] across the whole corpus
    val r = SimilarityOps.sqRanges(corpus, 64)
    val codeStats = SimilarityOps.sqEncode(corpus, r)
      .select(explode($"codes").as("c"))
      .agg(min($"c"), max($"c")).collect()(0)
    assert(codeStats.getLong(0) >= 0L && codeStats.getLong(1) <= 255L)
    // 8-bit full-dimensional quantization tracks exact L2 closely:
    // compare against exact double L2 top-5 over the same corpus
    val q = emb.filter($"vec_id" < 20)
    val l2 = aggregate(zip_with($"qe", $"ce",
        (x, y) => (x.cast("double") - y.cast("double")) *
          (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, v) => acc + v)
    val exactScored = broadcast(q.select($"vec_id".as("query_id"), $"embedding".as("qe")))
      .join(emb.select($"vec_id".as("neighbor_id"), $"embedding".as("ce")),
        $"query_id" =!= $"neighbor_id")
      .withColumn("d", l2)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy($"d".asc, $"neighbor_id".asc)
    val exact = exactScored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 5).select("query_id", "neighbor_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val sq = SimilarityOps.sqTopK(q, emb, dim = 64, k = 5).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val recall = (exact & sq).size.toDouble / exact.size
    // sf0.001 has ~50 random vectors: exact-L2 top-5 lists are full of
    // near-ties, so a few rank flips at the quantization grid are
    // expected (measured 0.81); chance recall here would be ~0.1
    assert(recall >= 0.75, s"SQ8-vs-exact-L2 recall $recall")
  }

  test("text ops: tokens, langid precedence, fingerprint determinism") {
    val df = Seq("the cat is on the mat", "der hund ist und das").toDF("text")
    val r = df.select(TextOps.tokenCount($"text"), TextOps.langId($"text"),
      TextOps.fingerprint($"text")).collect()
    assert(r(0).getLong(0) == 6 && r(0).getString(1) == "en")
    assert(r(1).getString(1) == "de")
    assert(r(0).getLong(2) == r.head.getLong(2)) // stable across evals
  }

  test("SQL surface: graft_regular_bin and graft_cosine usable from spark.sql") {
    GraftExtensions.register(spark)
    Seq((0.05, 0.95)).toDF("x", "y").createOrReplaceTempView("gx")
    val r = spark.sql(
      """SELECT graft_regular_bin(x, 10, 0.0, 1.0) AS bx,
        |graft_regular_bin(y, 10, 0.0, 1.0) AS by FROM gx""".stripMargin).collect()(0)
    assert(r.getLong(0) == 1L && r.getLong(1) == 10L)
    Seq((Array(1f, 0f), Array(1f, 0f))).toDF("a", "b").createOrReplaceTempView("gv")
    val c = spark.sql("SELECT graft_cosine(a, b) FROM gv").collect()(0).getDouble(0)
    assert(c == 1.0)
    // SQL function tree must agree with Axis.binCol on boundary probes
    val ax = graft.hist.Regular(10, 0.0, 1.0)
    val probes = ax.edges.toSeq ++ Seq(Double.NaN, -5.0, 5.0, 0.999999999)
    probes.toDF("x").createOrReplaceTempView("gp")
    val viaSql = spark.sql("SELECT graft_regular_bin(x, 10, 0.0, 1.0) FROM gp")
      .collect().map(_.getLong(0)).toSeq
    val viaCol = probes.toDF("x")
      .select(ax.binCol(org.apache.spark.sql.functions.col("x")))
      .collect().map(_.getLong(0)).toSeq
    assert(viaSql == viaCol)
    // graft_morton agrees bitwise with the DataFrame interleave
    val rnd = new scala.util.Random(21)
    val pts = Seq((0L, 0L), (65535L, 65535L)) ++
      Seq.fill(50)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    pts.toDF("a", "b").createOrReplaceTempView("gm")
    val viaMSql = spark.sql("SELECT graft_morton(a, b) FROM gm")
      .collect().map(_.getLong(0)).toSeq
    val viaMCol = pts.toDF("a", "b")
      .select(graft.ops.LayoutOps.mortonKey2(col("a"), col("b")))
      .collect().map(_.getLong(0)).toSeq
    assert(viaMSql == viaMCol)
    // graft_nfc composes decomposed marks; graft_polyhash matches the
    // Column path (default and explicit multiplier)
    Seq(("exposé", "abc")).toDF("s", "t").createOrReplaceTempView("gn")
    val n = spark.sql("SELECT graft_nfc(s), graft_polyhash(t), " +
      "graft_polyhash(t, 131) FROM gn").collect()(0)
    assert(n.getString(0) == "exposé")
    val viaPh = Seq("abc").toDF("t")
      .select(graft.functions.PolyHash(col("t")),
        graft.functions.PolyHash(col("t"), 131L)).collect()(0)
    assert(n.getLong(1) == viaPh.getLong(0))
    assert(n.getLong(2) == viaPh.getLong(1))
  }

  test("multimodal stub pipeline: features deterministic, schema typed") {
    implicit val s: SparkSession = spark
    val media = MultimodalOps.asMedia(docs, "doc_id", "text", "text/plain")
    val feats = MultimodalOps.extractFeatures(media).collect()
      .map(f => f.id -> f).toMap
    assert(feats(0L).checksum == feats(3L).checksum) // same bytes, same features
    assert(feats(0L).byteLen == "the quick brown fox jumps over the lazy dog".length)
    assert(feats(4L).brightness > 0 && feats(4L).brightness < 1)
  }

  test("multimodal resize + frame sampling: deterministic stub stages") {
    implicit val s: SparkSession = spark
    val media = MultimodalOps.asMedia(docs, "doc_id", "text", "text/plain")
    val small = MultimodalOps.resize(media, 4, 2).collect().map(m => m.id -> m).toMap
    assert(small(0L).width == 4 && small(0L).height == 2)
    assert(small(0L).payload.length <= 8 && small(0L).payload.nonEmpty)
    // deterministic: same input, same resized bytes
    val again = MultimodalOps.resize(media, 4, 2).collect().map(m => m.id -> m).toMap
    assert(small(0L).payload.toSeq == again(0L).payload.toSeq)
    // doc 0 text is 43 bytes -> 4 frames of 10, every 2nd -> idx 0 and 2
    val frames = MultimodalOps.frameSample(media, frameSize = 10, everyN = 2)
      .collect().filter(_.id == 0L).sortBy(_.frameIdx)
    assert(frames.map(_.frameIdx).toSeq == Seq(0, 2))
    assert(frames.forall(_.payload.length == 10))
    assert(new String(frames(0).payload) == "the quick ")
  }

  test("saltedJoin == plain join on skewed keys") {
    // hot key 7 (1000 rows), cold keys 0-9 (1 row each)
    val left = (spark.range(1000).select(lit(7L).as("k"), col("id").as("lv")))
      .unionByName((0L until 10L).map(i => (i, -i)).toDF("k", "lv"))
    val right = Seq((7L, "hot"), (3L, "cold"), (99L, "nomatch")).toDF("k", "rv")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    val plain = canon(left.join(right, Seq("k")))
    val salted = canon(JoinOps.saltedJoin(left, right, "k", salts = 8))
    // 1000 hot rows + cold (3,-3) + the (7,-7) row from the cold block
    assert(salted == plain && plain.size == 1002)
  }

  test("bloom filter: no false negatives; FP rate sane at design load") {
    import graft.functions.BloomFilter
    val numBits = 1 << 14
    val words = new Array[Long](BloomFilter.numWords(numBits))
    val rng = new scala.util.Random(1)
    val inserted = Array.fill(1024)(rng.nextLong())
    inserted.foreach(BloomFilter.set(words, numBits, 5, _))
    assert(inserted.forall(BloomFilter.mightContain(words, numBits, 5, _)))
    // 16 bits/key, k=5 -> theoretical FP ~5e-4; allow generous slack
    val probes = Array.fill(20000)(rng.nextLong())
      .filterNot(inserted.contains)
    val fps = probes.count(BloomFilter.mightContain(words, numBits, 5, _))
    assert(fps.toDouble / probes.length < 0.01, s"FP rate too high: $fps/20000")
  }

  test("incremental dedup: exact result, bloom positives verified") {
    val old = docs
    val newBatch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"), // dup of 0/3
      (101L, "word"), // dup of 4
      (102L, "a genuinely new document about nothing")).toDF("doc_id", "text")
    val got = DedupOps.incrementalDedup(newBatch, old, numBits = 1 << 10)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got == Map(100L -> true, 101L -> true, 102L -> false))
  }

  test("normalized dedup: case/punctuation/spacing variants collapse") {
    val d = Seq(
      (0L, "Hello, World!"),
      (1L, "hello  world"),
      (2L, "HELLO WORLD."),
      (3L, "different text")).toDF("doc_id", "text")
    val got = DedupOps.normalizedDedup(d)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 3L, 3L -> 1L))
  }

  test("count-min sketch: estimate >= exact, exact when no collision") {
    val d = Seq((0L, "a a a b c"), (1L, "a b x y z")).toDF("doc_id", "text")
    val got = SketchOps.cmsTokenCounts(d, Seq("a", "b", "missing"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // tiny vocab in a 1024-wide sketch: no collisions, estimates exact
    assert(got("a") == ((4L, 4L)))
    assert(got("b") == ((2L, 2L)))
    assert(got("missing")._1 == 0L)
    assert(got("missing")._2 >= 0L) // bound only: could alias a real bucket
  }

  test("KMV sketch: exact under k, sane estimate over k, partition-stable") {
    val small = (0 until 10).map(i => s"v$i").toDF("v")
    val r1 = SketchOps.kmvDistinct(small, col("v"), k = 16).collect()(0)
    assert(r1.getLong(0) == 10L && r1.getDouble(1) == 10.0)
    val big = (0 until 5000).map(i => s"value-$i").toDF("v")
    val r2 = SketchOps.kmvDistinct(big.repartition(8), col("v"), k = 64).collect()(0)
    assert(r2.getLong(0) == 5000L)
    // 1/sqrt(64) = 12.5% relative error; allow a wide deterministic band
    assert(math.abs(r2.getDouble(1) - 5000.0) / 5000.0 < 0.5,
      s"estimate ${r2.getDouble(1)} too far from 5000")
    // sketch is a function of the SET: partitioning must not matter
    val r3 = SketchOps.kmvDistinct(big.coalesce(1), col("v"), k = 64).collect()(0)
    assert(r2.getDouble(1) == r3.getDouble(1))
  }

  test("CMS merge law: sketch(A) + sketch(B) == sketch(A ++ B); IO round-trip") {
    val a = Seq((0L, "x y x"), (1L, "y z")).toDF("doc_id", "text")
    val b = Seq((2L, "x q")).toDF("doc_id", "text")
    def cells(d: org.apache.spark.sql.DataFrame) = SketchOps.cmsSketch(
      d.select(explode(split(col("text"), " ")).as("tok")), 4, 64, 7L)
    def toMap(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val merged = SketchOps.mergeCms(
      SketchOps.CmsSketch(4, 64, 7L, cells(a)),
      SketchOps.CmsSketch(4, 64, 7L, cells(b)))
    assert(toMap(merged.cells) == toMap(cells(a.unionByName(b))))
    // family mismatch refuses loudly
    intercept[IllegalArgumentException](SketchOps.mergeCms(
      SketchOps.CmsSketch(4, 64, 7L, cells(a)),
      SketchOps.CmsSketch(4, 128, 7L, cells(b))))
    // round-trip through parquet preserves cells + family
    val dir = java.nio.file.Files.createTempDirectory("graft-cmsio").toString
    SketchOps.writeCms(merged, dir)
    val back = SketchOps.readCms(spark, dir)
    assert(back.depth == 4 && back.width == 64 && back.seed == 7L)
    assert(toMap(back.cells) == toMap(merged.cells))
    // KMV out-of-band union law
    assert(SketchOps.kmvUnion(Seq(1L, 5L, 9L), Seq(2L, 5L), 4) == Seq(1L, 2L, 5L, 9L))
  }

  test("CmsAgg buffer grid == relational cmsSketch cells (layout contract)") {
    // double space plants an empty token: both paths must count it
    val d = Seq((0L, "x y x  q"), (1L, "y z zz")).toDF("doc_id", "text")
    val (as, bs) = SketchOps.cmsCoefficients(4, 7L)
    val viaAgg = d.select(col("text").as("t"))
      .agg(graft.functions.CmsAgg(col("t"), 4, 64, as.toSeq, bs.toSeq).as("g"))
      .select(posexplode(col("g")).as(Seq("pos", "cnt")))
      .filter(col("cnt") > 0)
      .collect()
      .map(r => (r.getInt(0) / 64, (r.getInt(0) % 64).toLong) -> r.getLong(1)).toMap
    val viaRel = SketchOps.cmsSketch(
        d.select(explode(split(col("text"), " ")).as("tok")), 4, 64, 7L)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(viaAgg == viaRel)
  }

  test("kmeans: step means match hand computation; Lloyd reduces distortion") {
    // two obvious clusters on a 2-d grid, centroids seeded off-center
    val emb = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(0.0f, 0.25f)),
      (2L, Array(10.0f, 10.0f)), (3L, Array(10.0f, 9.75f)))
      .toDF("vec_id", "embedding")
    val init: Array[Array[Long]] = Array(Array(0L, 0L), Array(1280L, 1280L))
    val step = SimilarityOps.kmeansStep(emb, init)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    // cell 0 holds vecs 0,1 -> mean y = 0.125; cell 1 holds 2,3 -> mean y = 9.875
    assert(step((0L, 0)) == ((2L, 0.0)) && step((0L, 1)) == ((2L, 0.125)))
    assert(step((1L, 0)) == ((2L, 10.0)) && step((1L, 1)) == ((2L, 9.875)))
    val trained = SimilarityOps.kmeansLloyd(emb, init, iters = 2)
    // quantized means: 0.125*256 = 32, 9.875*256 = 2528
    assert(trained(0).toSeq == Seq(0L, 32L))
    assert(trained(1).toSeq == Seq(2560L, 2528L))
  }

  test("Spread: narrow inputs widen, well-split inputs pass through unshuffled") {
    val par = spark.sparkContext.defaultParallelism
    // single-partition input (the one-file-parquet shape): gets the shuffle
    val narrow = spark.range(0, 100, 1, 1).toDF("doc_id")
    assert(Spread(narrow).rdd.getNumPartitions == par)
    // input already at/above cluster width: IDENTITY — same object, so by
    // construction no Exchange of raw rows is added
    val wide = spark.range(0, 100, 1, par * 2).toDF("doc_id")
    assert(Spread(wide) eq wide)
    // end-to-end through a fan-out consumer: the shingle plan over a
    // well-split input must contain no round-robin repartition Exchange
    val wideDocs = spark.range(0, 50, 1, par * 2)
      .select(col("id").as("doc_id"),
        concat(lit("alpha bravo charlie delta echo tok"), col("id")).as("text"))
    val plan = DedupOps.shingles(wideDocs, 2).queryExecution.executedPlan.toString
    assert(!plan.contains("RoundRobinPartitioning"),
      s"unexpected raw-row repartition in plan:\n$plan")
    // and the narrow shape still gets one
    val narrowDocs = spark.range(0, 50, 1, 1)
      .select(col("id").as("doc_id"), lit("alpha bravo charlie").as("text"))
    val nplan = DedupOps.shingles(narrowDocs, 2).queryExecution.executedPlan.toString
    assert(nplan.contains("RoundRobinPartitioning"), s"expected spread in:\n$nplan")
  }

  test("minhashDedupKeep: clusters collapse to min id, singletons survive") {
    val keep = DedupOps.minhashDedupKeep(docs, k = 3, threshold = 0.3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(keep.size == 5) // one row per corpus doc, shingle-less included
    assert(keep(0L) == ((0L, true))) // cluster {0,1,3} representative
    assert(keep(1L) == ((0L, false)))
    assert(keep(3L) == ((0L, false)))
    assert(keep(2L) == ((2L, true))) // no near-dups: kept, self-labeled
    assert(keep(4L) == ((4L, true)))
  }

  test("bigramPerplexity: repeated bigrams score lower than rare ones") {
    val corpus = Seq(
      (0L, "a b a b a b"), // bigrams from the most common pairs
      (1L, "a b a b a b"),
      (2L, "x y z w q r"), // every bigram unique in the corpus
      (3L, "a")).toDF("doc_id", "text") // < 2 tokens: no bigrams
    val out = LmOps.bigramPerplexity(corpus)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) Double.NaN else r.getDouble(2))).toMap
    assert(out(0L)._1 == 5L) // 6 tokens -> 5 bigram occurrences
    assert(out(3L)._1 == 0L && out(3L)._2.isNaN) // no bigrams -> NULL ppl
    // common-bigram doc must be far more probable than the all-rare doc
    assert(out(0L)._2 < out(2L)._2)
    assert(out(0L)._2 == out(1L)._2) // identical docs, identical score
  }

  test("ngramPerplexity generalizes: trigram scores, bigram delegation") {
    val corpus = Seq(
      (0L, "a b c a b c a b c"),
      (1L, "a b c a b c a b c"),
      (2L, "p q r s t u v w x")).toDF("doc_id", "text")
    val tri = LmOps.ngramPerplexity(corpus, 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(tri(0L)._1 == 7L) // 9 tokens -> 7 trigram occurrences
    assert(tri(0L)._2 == tri(1L)._2) // identical docs agree
    assert(tri(0L)._2 < tri(2L)._2) // repeated trigrams beat all-unique
    // delegation: bigramPerplexity == ngramPerplexity(n = 2)
    val b1 = LmOps.bigramPerplexity(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val b2 = LmOps.ngramPerplexity(corpus, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(b1 == b2)
  }

  test("goodTuring: hand count-of-counts, gap NULL, unseen mass row") {
    // tokens: a x4, b x2, c x2, d e f singletons -> N=11, N1=3,
    // N2=2, N4=1; N3=0 (gap)
    val docs = Seq((1L, "a a b c d"), (2L, "a a b c e f")).toDF("doc_id", "text")
    val rows = LmOps.goodTuring(docs, maxR = 10L, n = 1).orderBy("r").collect()
    val byR = rows.map(r => r.getLong(0) -> r).toMap
    // unseen row: p0 = N1/N = 3/11
    assert(byR(0L).isNullAt(1))
    assert(byR(0L).getDouble(2) ==
      BigDecimal(3.0 / 11.0).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
    // r=1: r* = 2*N2/N1 = 4/3; r=2: r* = 3*N3/N2 -> NULL (gap)
    assert(byR(1L).getLong(1) == 3L)
    assert(byR(1L).getDouble(2) ==
      BigDecimal(4.0 / 3.0).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
    assert(byR(2L).getLong(1) == 2L && byR(2L).isNullAt(2))
    // r=4 present with N5 = 0 -> NULL; no r=3 row at all
    assert(byR(4L).getLong(1) == 1L && byR(4L).isNullAt(2))
    assert(!byR.contains(3L))
    // the GT identity: sum over observed r of r*·N_r + ... conserves N:
    // here Σ (r+1)·N_{r+1} over r≥0 = N − 4·N_4 gaps aside; check the
    // direct mass identity instead: Σ r·N_r = N
    assert(rows.filter(_.getLong(0) > 0)
      .map(r => r.getLong(0) * r.getLong(1)).sum == 11L)
    // trigram mode: "a a b"/"a b c" twice, three singleton trigrams;
    // docs shorter than n contribute nothing (no descending-sequence trap)
    val tri = LmOps.goodTuring(
      docs.unionByName(Seq((3L, "x y")).toDF("doc_id", "text")),
      maxR = 10L, n = 3).orderBy("r").collect()
    val triByR = tri.map(r => r.getLong(0) -> r).toMap
    assert(triByR(1L).getLong(1) == 3L && triByR(2L).getLong(1) == 2L)
    assert(tri.filter(_.getLong(0) > 0)
      .map(r => r.getLong(0) * r.getLong(1)).sum == 7L)
  }

  test("knBigramPerplexity == driver-side Kneser-Ney recompute") {
    val docs = Seq(
      (0L, "the cat sat on the mat"),
      (1L, "the dog sat on the rug"),
      (2L, "a cat and a dog and a rat"),
      (3L, "the cat sat on the mat"),
      (4L, "solo"))
    val d = 0.75
    // reference: positional bigram stats over the whole corpus
    val allBg = docs.flatMap { case (id, t) =>
      val ts = t.split(" ", -1); ts.zip(ts.drop(1)).map(p => (id, p)) }
    val c2 = allBg.groupBy(_._2).map { case (b, xs) => (b, xs.size.toLong) }
    val c1 = c2.groupBy(_._1._1).map { case (v, m) => (v, m.values.sum) }
    val n1v = c2.groupBy(_._1._1).map { case (v, m) => (v, m.size.toLong) }
    val n1w = c2.groupBy(_._1._2).map { case (w, m) => (w, m.size.toLong) }
    val n1all = c2.size.toDouble
    def prob(b: (String, String)): Double =
      math.max(c2(b) - d, 0.0) / c1(b._1) +
        ((d * n1v(b._1)) / c1(b._1)) * (n1w(b._2) / n1all)
    val want = docs.map { case (id, t) =>
      val bs = { val ts = t.split(" ", -1); ts.zip(ts.drop(1)).toSeq }
      if (bs.isEmpty) (id, 0L, Double.NaN)
      else {
        val nll = bs.map(b => -math.log(prob(b))).sum / bs.size
        (id, bs.size.toLong,
          BigDecimal(math.exp(nll)).setScale(6,
            BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    }.map { case (a, b, c) => a -> ((b, c)) }.toMap
    val got = LmOps.knBigramPerplexity(docs.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) Double.NaN else r.getDouble(2))))
      .toMap
    for ((id, (n, p)) <- want) {
      assert(got(id)._1 == n, s"doc $id n_ngrams")
      if (p.isNaN) assert(got(id)._2.isNaN, s"doc $id expected NULL ppl")
      else assert(math.abs(got(id)._2 - p) < 2e-6,
        s"doc $id: got ${got(id)._2} want $p")
    }
    // KN sanity: every conditional distribution sums to 1 over the
    // corpus vocabulary restricted to seen continuations + backoff mass
    val vocabAfter = c2.keys.map(_._2).toSet
    for (v <- c1.keys) {
      val mass = vocabAfter.toSeq.map { w =>
        val disc = c2.get((v, w)).map(c => math.max(c - d, 0.0) / c1(v))
          .getOrElse(0.0)
        disc + ((d * n1v(v)) / c1(v)) * (n1w(w) / n1all)
      }.sum
      assert(math.abs(mass - 1.0) < 1e-9, s"context '$v' mass $mass != 1")
    }
  }

  test("embeddingCovariance matches direct computation; PCA finds the axis") {
    // 2-D points stretched along (1, 1): cov = [[s, s], [s, s]] shape
    val vecs = Seq(
      (0L, Array(1.0f, 1.0f)), (1L, Array(2.0f, 2.1f)),
      (2L, Array(3.0f, 2.9f)), (3L, Array(4.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    val cov = SimilarityOps.embeddingCovariance(vecs)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(3)).toMap
    assert(cov.keySet == Set((0, 0), (0, 1), (1, 1))) // upper triangle only
    // direct: xs mean 2.5, var = ((1.5)^2+(0.5)^2)*2/4 = 1.25
    assert(math.abs(cov((0, 0)) - 1.25) < 1e-6)
    assert(math.abs(cov((0, 1)) - 1.225) < 1e-6)
    // dominant eigenvector of a near-rank-1 covariance: ~(1,1)/sqrt(2)
    val v = SimilarityOps.principalComponent(vecs, iters = 100)
    assert(math.abs(v(0) - v(1)) < 0.05 && v(0) > 0.6)
    // projection = dot with the component, one value per vector
    val proj = SimilarityOps.pcaProject(vecs, v)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(proj.size == 4 && proj(3L) > proj(0L)) // order along the axis
  }

  test("tokenEntropy: uniform tokens maximal, repeated tokens zero") {
    val corpus = Seq(
      (0L, "a b c d"), // 4 distinct -> ln 4
      (1L, "a a a a"), // one token repeated -> 0
      (2L, "a a b b"), // two x2 -> ln 2
      (3L, "x")).toDF("doc_id", "text") // single token -> 0
    val got = TextOps.tokenEntropy(corpus)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got(0L)._1 == 4L)
    assert(math.abs(got(0L)._2 - math.log(4)) < 1e-6)
    assert(got(1L)._2 == 0.0)
    assert(math.abs(got(2L)._2 - math.log(2)) < 1e-6)
    assert(got(3L) == ((1L, 0.0)))
  }

  test("IVF index: write/read round-trip, indexed search == fresh search") {
    val vecs = (0L until 40L).map(i =>
      (i, Array.tabulate(8)(d => ((i * 7 + d * 3) % 13).toFloat - 6f)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfidx").toString
    val idx = SimilarityOps.buildIvfIndex(vecs, dim = 8, nCentroids = 4)
    SimilarityOps.writeIvfIndex(idx, dir)
    val back = SimilarityOps.readIvfIndex(spark, dir)
    assert(back.centroids.toSeq.map(_.toSeq) ==
      idx.centroids.toSeq.map(_.toSeq))
    val q = vecs.filter(col("vec_id") < 3)
    val fresh = SimilarityOps.ivfTopK(q, vecs, dim = 8, k = 3, nCentroids = 4)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
    val indexed = SimilarityOps.ivfTopKIndexed(q, back, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
    assert(indexed == fresh)
  }

  test("MinHash signature persistence: incremental candidates == full, new-side only") {
    val oldDocs = docs.filter(col("doc_id") < 4)
    val newDocs = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // dup of 0
      (11L, "entirely novel text with no neighbors at all zz")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("mhsigs").toString
    val sigs = DedupOps.minhashSignatures(oldDocs, k = 3)
    DedupOps.writeSignatures(sigs, dir, k = 3, numHashes = 64, seed = 42L)
    val (back, k0, nh, seed) = DedupOps.readSignatures(spark, dir)
    assert((k0, nh, seed) == ((3, 64, 42L)))
    assert(back.collect().map(_.getLong(0)).sorted.toSeq ==
      sigs.collect().map(_.getLong(0)).sorted.toSeq)
    val inc = DedupOps.incrementalMinhashCandidates(newDocs, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // ground truth: full-corpus candidates restricted to pairs touching
    // the new batch
    val full = DedupOps.minhashLshCandidates(oldDocs.unionByName(newDocs), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      .filter(p => p._1 >= 10L || p._2 >= 10L)
    assert(inc == full)
    assert(inc.contains((0L, 10L))) // the planted dup is found
    assert(!inc.exists { case (a, b) => b == 11L && a != 11L }) // novel doc clean
  }

  test("funnelCounts: strict ordering per user, stage monotonic") {
    // u1 completes the funnel; u2 clicks BEFORE viewing (must not count
    // past stage view); u3 views only
    val ev = Seq(
      (1L, 10L, "view"), (1L, 20L, "click"), (1L, 30L, "purchase"),
      (2L, 50L, "click"), (2L, 60L, "view"),
      (3L, 5L, "view"),
      (2L, 70L, "click")) // click after view -> u2 reaches stage 1
      .toDF("user_id", "ts_us", "event_type")
    val got = FunnelOps.funnelCounts(ev, Seq("view", "click", "purchase"))
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(got == Map(0 -> 3L, 1 -> 2L, 2 -> 1L))
    // a user skipping a middle stage must not count for later stages
    // (null t(k-1) propagates through the conditional min)
    val skip = (ev.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getString(2))).toSeq :+
      ((4L, 100L, "view")) :+ ((4L, 110L, "purchase")))
      .toDF("user_id", "ts_us", "event_type")
    val got2 = FunnelOps.funnelCounts(skip, Seq("view", "click", "purchase"))
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(got2 == Map(0 -> 4L, 1 -> 2L, 2 -> 1L))
  }

  test("funnelConversion: rates and gap summaries off the same chain") {
    // u1: view@10 click@20 purchase@30 (gaps 10, 10)
    // u2: view@60 click@70 (gap 10), no purchase
    // u3: view@5 only; u4 clicks with no view (counts nowhere)
    val ev = Seq(
      (1L, 10L, "view"), (1L, 20L, "click"), (1L, 30L, "purchase"),
      (2L, 60L, "view"), (2L, 70L, "click"),
      (3L, 5L, "view"),
      (4L, 99L, "click"))
      .toDF("user_id", "ts_us", "event_type")
    val got = FunnelOps.funnelConversion(ev, Seq("view", "click", "purchase"))
      .orderBy("stage_idx").collect()
    // stage 0: 3 viewers, no prev/gaps
    assert(got(0).getLong(2) == 3L && got(0).isNullAt(3) &&
      got(0).getDouble(4) == 1.0 && got(0).isNullAt(5) && got(0).isNullAt(7))
    // stage 1: 2 of 3 converted; both gaps exactly 10us
    assert(got(1).getLong(2) == 2L && got(1).getDouble(3) == 0.666667 &&
      got(1).getDouble(4) == 0.666667 && got(1).getLong(5) == 10L &&
      got(1).getLong(6) == 10L && got(1).getDouble(7) == 10.0)
    // stage 2: 1 of 2; single 10us gap
    assert(got(2).getLong(2) == 1L && got(2).getDouble(3) == 0.5 &&
      got(2).getDouble(4) == 0.333333 && got(2).getLong(5) == 10L &&
      got(2).getDouble(7) == 10.0)
    // the stage-times relation feeds a histogram + quantiles without a
    // second event scan: t1-t0 gaps of reached users into a Regular axis
    val st = FunnelOps.funnelStageTimes(ev, Seq("view", "click", "purchase"))
    val spec = graft.hist.HistSpec(
      Seq(graft.hist.Regular(4, 0.0, 40.0)), graft.hist.DoubleStorage)
    val h = graft.hist.Hist.fill(spec, st,
      Seq(col("__t1") - col("__t0")))
    val q = graft.hist.HistAlgebra.quantiles(spec, h, Seq(1.0)).collect()
    assert(q.length == 1 && q(0).getDouble(1) > 0.0)
  }

  test("funnelCounts is one linear plan: S stages -> S source scans, not S^2") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fplan").toString
    Seq((1L, 10L, "view"), (1L, 20L, "click"), (1L, 30L, "purchase"))
      .toDF("user_id", "ts_us", "event_type")
      .write.mode("overwrite").parquet(dir)
    val plan = FunnelOps.funnelCounts(spark.read.parquet(dir),
        Seq("view", "click", "purchase"))
      .queryExecution.executedPlan.toString
    // the union-of-per-stage-counts shape embedded every prefix chain:
    // 6 scans for 3 stages; the column-carrying chain scans each slice once
    assert("Scan parquet".r.findAllIn(plan).length == 3, plan.take(2000))
    // conversion analytics ride the same chain: still S scans
    val convPlan = FunnelOps.funnelConversion(spark.read.parquet(dir),
        Seq("view", "click", "purchase"))
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(convPlan).length == 3,
      convPlan.take(2000))
  }

  test("retentionCohorts: cohort by first bucket, offsets bounded") {
    val ev = Seq(
      (1L, 0L), (1L, 105L), (1L, 205L), // cohort 0, offsets 0,1,2
      (2L, 110L), (2L, 115L), (2L, 310L), // cohort 1, offsets 0 (x2), 2
      (3L, 950L)) // cohort 9, offset 0; beyond maxOffset nothing
      .toDF("user_id", "ts_us")
    val got = FunnelOps.retentionCohorts(ev, bucketUs = 100L, maxOffset = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((0L, 0L) -> 1L, (0L, 1L) -> 1L, (1L, 0L) -> 1L,
      (9L, 0L) -> 1L))
  }

  test("quantizedMean skips null lanes in numerator AND denominator (avg semantics)") {
    val df = Seq(Some(1.0), None, Some(3.0)).toDF("v")
    val got = df.agg(SimilarityOps.quantizedMean(col("v")).as("m"))
      .collect()(0).getDouble(0)
    assert(got == 2.0, s"null lane must not deflate the mean: $got")
  }

  test("powerIteration recovers the dominant eigenpair of a known matrix") {
    // eigenvalues 3 (v=(1,1)/sqrt2) and 1 (v=(1,-1)/sqrt2)
    val m = Array(Array(2.0, 1.0), Array(1.0, 2.0))
    val v = SimilarityOps.powerIteration(m, 60)
    val s = 1.0 / math.sqrt(2.0)
    assert(math.abs(v(0) - s) < 1e-9 && math.abs(v(1) - s) < 1e-9)
  }

  test("json key profile: coverage, cardinality, numeric detection, bad rows") {
    import graft.ops.ProfileOps
    val df = Seq(
      """{"a": 1, "b": "x"}""",
      """{"a": 2.5, "b": "x"}""",
      """{"a": "notnum"}""",
      "not json at all", // parse failure -> contributes no keys
      null.asInstanceOf[String])
      .toDF("j")
    val rows = ProfileOps.jsonKeyProfile(df, col("j"))
      .orderBy("key").collect()
    val byKey = rows.map(r => r.getString(0) -> r).toMap
    assert(byKey.keySet == Set("a", "b"))
    assert(byKey("a").getAs[Long]("n_present") == 3)
    assert(byKey("a").getAs[Double]("coverage") == 0.6) // 3 of 5 rows
    assert(byKey("a").getAs[Long]("n_distinct") == 3)
    assert(byKey("a").getAs[Long]("n_numeric") == 2) // 1 and 2.5
    assert(byKey("b").getAs[Long]("n_present") == 2)
    assert(byKey("b").getAs[Long]("n_distinct") == 1)
    assert(byKey("b").getAs[Long]("n_numeric") == 0)
  }

  test("TopKAgg: equals the window rank under any partitioning; bounded merge") {
    import graft.functions.TopKAgg
    val rnd = new scala.util.Random(7)
    val rows = Seq.tabulate(5000) { i =>
      (s"g${i % 7}", s"item${rnd.nextInt(300)}", rnd.nextInt(1000).toLong)
    }
    // pre-aggregate scores (the aggregate consumes one row per item)
    val base = rows.toDF("g", "item", "v")
      .groupBy("g", "item").agg(sum("v").as("score"))
    for (parts <- Seq(1, 4, 13)) {
      val agg = base.repartition(parts)
        .groupBy("g").agg(TopKAgg(col("item"), col("score"), 10).as("topk"))
        .select(col("g"), posexplode(col("topk")).as(Seq("i", "e")))
        .select(col("g"), (col("i") + 1).cast("long").as("rank"),
          col("e.item").as("item"), col("e.score").as("score"))
        .orderBy("g", "rank")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
          r.getLong(3))).toSeq
      val w = org.apache.spark.sql.expressions.Window.partitionBy("g")
        .orderBy(col("score").desc, col("item").asc)
      val win = base.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 10)
        .select("g", "rank", "item", "score").orderBy("g", "rank")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
          r.getLong(3))).toSeq
      assert(agg == win, s"parts=$parts")
    }
    // k wider than the domain: returns the whole domain in rank order
    val tiny = Seq(("g", "a", 5L), ("g", "b", 9L), ("g", "c", 5L))
      .toDF("g", "item", "score")
      .groupBy("g").agg(TopKAgg(col("item"), col("score"), 10).as("t"))
      .select(posexplode(col("t"))).select("col.item").collect()
      .map(_.getString(0)).toSeq
    assert(tiny == Seq("b", "a", "c")) // score desc, item asc on the tie
    // the partial aggregate is visible in the plan (map-side bounding)
    val plan = base.groupBy("g")
      .agg(TopKAgg(col("item"), col("score"), 10))
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_topkagg") ||
      plan.toLowerCase.contains("partial") && plan.contains("TopKAgg"), plan)
  }

  test("rangePlan: deterministic equi-depth split — partition-stable, " +
      "monotone boundaries, balanced within sample error") {
    val n = 20000
    val df = (0 until n).map(i => (i.toLong, (i % 4001).toDouble)).toDF("id", "v")
    def run(parts: Int) = LayoutOps
      .rangePlan(df.repartition(parts), col("id"), col("v"), buckets = 8)
      .orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    val p1 = run(1)
    val p16 = run(16)
    assert(p1 == p16) // Spark's RangePartitioner cannot promise this
    // every row lands somewhere; boundaries strictly ordered; last open
    assert(p1.map(_._2).sum == n)
    val bounds = p1.flatMap(_._3)
    assert(bounds == bounds.sorted && bounds.distinct == bounds)
    assert(p1.last._3.isEmpty && p1.init.forall(_._3.isDefined))
    // equi-depth within bottom-k sample error (k=256, 8 buckets:
    // expected 2500/bucket; allow a generous 4-sigma-ish band)
    assert(p1.map(_._2).forall(c => c > 1000 && c < 4500), p1.toString)
  }

  test("compactionPlan: offset-bin packing per partition, fail-loud manifest") {
    val manifest = Seq(
      ("p1", 1L, 60L), ("p1", 2L, 60L), ("p1", 3L, 60L), // 0,0,1 @ target 100
      ("p1", 4L, 250L),                                  // big file -> own offset bin
      ("p2", 1L, 10L), ("p2", 2L, 10L))                  // all in bin 0
      .toDF("part", "file", "bytes")
    val plan = LayoutOps.compactionPlan(manifest, "part", "file", "bytes", 100L)
      .orderBy("part", "file").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    assert(plan.toSeq == Seq(
      ("p1", 1L, 0L), ("p1", 2L, 0L), ("p1", 3L, 1L), ("p1", 4L, 1L),
      ("p2", 1L, 0L), ("p2", 2L, 0L)))
    // bins never straddle partitions; bin ids are dense from 0 per part
    intercept[IllegalArgumentException] {
      LayoutOps.compactionPlan(manifest, "part", "file", "bytes", 0L)
    }
    intercept[IllegalArgumentException] {
      LayoutOps.compactionPlan(
        Seq(("p", 1L, -5L)).toDF("part", "file", "bytes"),
        "part", "file", "bytes", 100L)
    }
    intercept[IllegalArgumentException] {
      LayoutOps.compactionPlan(
        Seq(("p", 1L, Option.empty[Long])).toDF("part", "file", "bytes"),
        "part", "file", "bytes", 100L)
    }
  }

  test("resampleFfill: per-key grid, last-obs tie-break, forward fill") {
    // key 1: buckets 0 (two obs — later ts wins), 3 (gap 1-2 filled)
    // key 2: single observation -> single-row grid
    val ev = Seq(
      (1L, 5L, 10.0, 100L), (1L, 9L, 11.0, 101L),   // bucket 0, last = 11.0
      (1L, 9L, 12.0, 99L),                          // same ts: higher tie wins -> 11.0
      (1L, 35L, 40.0, 102L),                        // bucket 3
      (2L, 12L, 7.0, 103L))                         // bucket 1 only
      .toDF("k", "ts_us", "value", "id")
    val got = FunnelOps.resampleFfill(ev, "k", "ts_us", "value", "id", stepUs = 10L)
      .orderBy("k", "bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq(
      (1L, 0L, 11.0), (1L, 1L, 11.0), (1L, 2L, 11.0), (1L, 3L, 40.0),
      (2L, 1L, 7.0)))
    intercept[IllegalArgumentException] {
      FunnelOps.resampleFfill(ev, "k", "ts_us", "value", "id", stepUs = 0L)
    }
  }

  test("keySkew: hot keys ranked with exact ppm shares, bounded plan") {
    val rows = Seq.fill(50)("hot") ++ Seq.fill(30)("warm") ++
      (1 to 20).map(i => s"cold$i")
    val df = rows.toDF("k")
    val got = ProfileOps.keySkew(df, "k", 3).orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, "hot", 50L, 500000L), (2L, "warm", 30L, 300000L),
      (3L, "cold1", 1L, 10000L))) // count tie: key asc
    // the top-k is a bounded heap, not a full sort of the key domain
    val plan = ProfileOps.keySkew(df, "k", 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    intercept[IllegalArgumentException] { ProfileOps.keySkew(df, "k", 0) }
  }

  test("quantileNormalize: midrank maps onto the global distribution") {
    val df = Seq(
      (1L, "a", 1L), (2L, "a", 2L), (3L, "a", 3L), (4L, "a", 4L),
      (5L, "b", 10L), (6L, "b", 20L)).toDF("doc_id", "source", "score")
    val got = PipelineOps.quantileNormalize(df, "source", "score", "doc_id")
      .orderBy("tie").collect()
      .map(r => (r.getLong(0), r.getLong(3))).toMap
    // N=6; a's midranks 1/8,3/8,5/8,7/8 -> global ranks 1,3,4,6
    // b's midranks 1/4,3/4 -> global ranks 2,5
    assert(got == Map(1L -> 1L, 2L -> 3L, 3L -> 4L, 4L -> 20L,
      5L -> 2L, 6L -> 10L))
  }

  test("binnedKs: zero on identical, exact max CDF gap on a hand case") {
    val same = Seq(("a", 0L), ("a", 1L), ("b", 0L), ("b", 1L)).toDF("g", "bin")
    assert(ProfileOps.binnedKs(same, "g", col("bin"), "a", "b")
      .head().getLong(0) == 0L)
    // a: 3 in bin0, 1 in bin1; b: 1 in bin0, 3 in bin1
    // CDF gap at bin0 = |3/4 - 1/4| = 0.5 -> 500000
    val diff = (Seq.fill(3)(("a", 0L)) :+ ("a", 1L)) ++
      (("b", 0L) +: Seq.fill(3)(("b", 1L)))
    val r = ProfileOps.binnedKs(diff.toDF("g", "bin"), "g", col("bin"),
      "a", "b").head()
    assert(r.getLong(0) == 500000L && r.getLong(1) == 4L && r.getLong(2) == 4L)
  }

  test("topPaths: deterministic prefix paths, frequency-ranked") {
    val ev = Seq(
      (1L, 1L, 10L, "a"), (1L, 2L, 20L, "b"), (1L, 3L, 30L, "c"),
      (2L, 4L, 10L, "a"), (2L, 5L, 20L, "b"),
      (3L, 6L, 10L, "a"), (3L, 7L, 20L, "b"), (3L, 8L, 30L, "c"),
      (4L, 9L, 5L, "x"))
      .toDF("user_id", "event_id", "ts_us", "event_type")
    val got = FunnelOps.topPaths(ev, pathLen = 2, k = 10)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, "a>b", 3L), (2L, "x", 1L)))
    // same-ts tie resolves by event_id: an earlier id sorts first
    val tie = Seq((1L, 2L, 10L, "z"), (1L, 1L, 10L, "y"))
      .toDF("user_id", "event_id", "ts_us", "event_type")
    assert(FunnelOps.topPaths(tie, 2, 1).head().getString(1) == "y>z")
  }

  test("pcaModel: orthonormal rotation, sorted eigenvalues, decorrelated scores") {
    // deterministic anisotropic cloud: dominant (x0+x1) direction,
    // weak independent x2, constant x3
    val rnd = new scala.util.Random(7)
    val rows = (0 until 400).map { i =>
      val a = rnd.nextGaussian() * 10; val b = rnd.nextGaussian()
      (i.toLong, Array((a + b).toFloat, (a - b).toFloat,
        (rnd.nextGaussian() * 0.1).toFloat, 0.5f))
    }
    val df = rows.toDF("vec_id", "embedding")
    val (mean, evals, rot) = SimilarityOps.pcaModel(df)
    for (i <- rot.indices; j <- rot.indices) {
      val dotv = rot(i).zip(rot(j)).map { case (x, y) => x * y }.sum
      assert(math.abs(dotv - (if (i == j) 1.0 else 0.0)) < 1e-9, s"($i,$j)")
    }
    assert(evals.sliding(2).forall(p => p(0) >= p(1) - 1e-12))
    assert(math.abs(math.abs(rot(0)(0)) - math.sqrt(0.5)) < 0.05)
    assert(evals.last < 1e-6) // the constant dimension
    // projected scores: sample covariance ~ diag(eigenvalues)
    val scores = SimilarityOps.pcaProjectAll(df, mean, rot, 4).collect()
      .map(_.getSeq[Double](1).toArray)
    val n = scores.length.toDouble
    for (i <- 0 until 4; j <- i until 4) {
      val mi = scores.map(_(i)).sum / n; val mj = scores.map(_(j)).sum / n
      val cov = scores.map(s => (s(i) - mi) * (s(j) - mj)).sum / n
      if (i == j) assert(math.abs(cov - evals(i)) <
        math.max(0.05 * evals(i), 1e-3), s"var($i)")
      else assert(math.abs(cov) < 0.05 * math.sqrt(
        math.max(evals(i) * evals(j), 1e-12)) + 1e-3, s"cov($i,$j)")
    }
    // partitioning-invariant (the determinism contract)
    val (_, e2, r2) = SimilarityOps.pcaModel(df.repartition(7))
    assert(e2.zip(evals).forall { case (x, y) => math.abs(x - y) < 1e-9 })
    assert(r2.flatten[Double].zip(rot.flatten[Double]).forall {
      case (x, y) => math.abs(x - y) < 1e-9
    })
  }

  test("rankingRbo: identity ~ 1, disjoint = 0, top-weighted swaps") {
    def rk(q: Int, docs: Seq[Long]) =
      docs.zipWithIndex.map { case (d, i) => (q, d, i + 1) }
    def df(rows: Seq[(Int, Long, Int)]) =
      rows.toDF("query_id", "doc_id", "rank")
    val base = rk(1, 1L to 10L)
    val idRbo = SearchOps.rankingRbo(df(base), df(base), k = 10).head().getLong(1)
    assert(math.abs(idRbo - 1000000000L) <= 10L) // per-depth rounding only
    val disjoint = SearchOps.rankingRbo(df(base), df(rk(1, 11L to 20L)), k = 10)
      .head().getLong(1)
    assert(disjoint == 0L)
    // a swap at ranks 1-2 hurts much more than one at ranks 9-10
    val headSwap = SearchOps.rankingRbo(df(base),
      df(rk(1, Seq(2L, 1L) ++ (3L to 10L))), k = 10).head().getLong(1)
    val tailSwap = SearchOps.rankingRbo(df(base),
      df(rk(1, (1L to 8L) ++ Seq(10L, 9L))), k = 10).head().getLong(1)
    assert(headSwap < tailSwap && tailSwap < 1000000000L)
  }

  test("retrievalMetrics: hand-computed nDCG/MRR/recall on a graded case") {
    val ranking = Seq((0, 1L, 1), (0, 2L, 2), (0, 3L, 3))
      .toDF("query_id", "doc_id", "rank")
    // doc1 unjudged, doc2 rel=1, doc3 rel=2; doc9 rel=3 never retrieved
    val qrels = Seq((0, 2L, 1L), (0, 3L, 2L), (0, 9L, 3L))
      .toDF("query_id", "doc_id", "rel")
    val out = SearchOps.retrievalMetrics(ranking, qrels, k = 3).head()
    // replicate the integer-scaled DCG with the same double ops
    def g(rel: Long, rank: Int): Long =
      math.round(1e9 * (math.pow(2.0, rel.toDouble) - 1.0) /
        (math.log(rank + 1.0) / math.log(2.0)))
    val dcg = g(1, 2) + g(2, 3)
    val idcg = g(3, 1) + g(2, 2) + g(1, 3)
    val ndcgExp = BigDecimal(dcg.toDouble / idcg.toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.getAs[Double]("ndcg") == ndcgExp)
    assert(out.getAs[Double]("mrr") == 0.5)       // first relevant at rank 2
    assert(out.getAs[Double]("recall") == 0.666667) // 2 of 3 relevant found
    assert(out.getAs[Long]("n_rel") == 3L)
  }

  test("retrievalMetrics: no-relevant query NULLs, rel<=0 rows ignored") {
    val ranking = Seq((0, 1L, 1), (0, 2L, 2), (1, 1L, 1))
      .toDF("query_id", "doc_id", "rank")
    // q0 judged only with rel=0 rows (= unjudged); q1 fully relevant
    val qrels = Seq((0, 1L, 0L), (0, 2L, 0L), (1, 1L, 2L))
      .toDF("query_id", "doc_id", "rel")
    val rows = SearchOps.retrievalMetrics(ranking, qrels, k = 2)
      .orderBy("query_id").collect()
    assert(rows(0).isNullAt(rows(0).fieldIndex("ndcg")))
    assert(rows(0).getAs[Double]("mrr") == 0.0)
    assert(rows(0).isNullAt(rows(0).fieldIndex("recall")))
    assert(rows(0).getAs[Long]("n_rel") == 0L)
    assert(rows(1).getAs[Double]("ndcg") == 1.0 &&
      rows(1).getAs[Double]("mrr") == 1.0 &&
      rows(1).getAs[Double]("recall") == 1.0)
  }

  test("retrievalMetrics: perfect ranking of its own qrels scores 1 everywhere") {
    val qrels = Seq((0, 1L, 3L), (0, 2L, 2L), (0, 3L, 1L))
      .toDF("query_id", "doc_id", "rel")
    val ranking = Seq((0, 1L, 1), (0, 2L, 2), (0, 3L, 3))
      .toDF("query_id", "doc_id", "rank")
    val out = SearchOps.retrievalMetrics(ranking, qrels, k = 10).head()
    assert(out.getAs[Double]("ndcg") == 1.0 &&
      out.getAs[Double]("mrr") == 1.0 && out.getAs[Double]("recall") == 1.0)
  }

  test("termCoverageQrels: rel counts distinct matched terms only") {
    val d = Seq((0L, "x x x y"), (1L, "y"), (2L, "z"), (3L, "a b"))
      .toDF("doc_id", "text")
    val got = SearchOps.termCoverageQrels(d, Seq(0 -> Seq("x", "y"), 1 -> Seq("z")))
      .orderBy("query_id", "doc_id").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((0, 0L, 2L), (0, 1L, 1L), (1, 2L, 1L)))
  }

  test("cusumShift: reflection identity matches the max(0,·) recursion") {
    // jittery baseline then a sustained +20% shift from day 16
    val xs = Seq(100L, 103L, 97L, 101L, 99L, 102L, 98L, 100L, 101L, 99L,
      100L, 97L, 104L, 99L, 101L, 120L, 121L, 119L, 122L, 120L)
    val daily = xs.zipWithIndex
      .map { case (x, i) => (java.sql.Date.valueOf(f"2024-02-${i + 1}%02d"), x) }
      .toDF("day", "x")
    val got = ProfileOps.cusumShift(daily, refDays = 10, slackPermille = 0L,
      hPermille = 100L).orderBy("day").collect()
    assert(got.length == 10)
    // driver-side replica of the sequential recursion
    val mu0 = 1000L * xs.take(10).sum / 10L
    val h = mu0 * 100L / 1000L
    var s = 0L
    val exp = xs.drop(10).map { x =>
      s = math.max(0L, s + (1000L * x - mu0)); (s, s > h)
    }
    got.zip(exp).foreach { case (r, (cs, al)) =>
      assert(r.getAs[Long]("cusum_milli") == cs && r.getAs[Boolean]("alarm") == al)
    }
    // the sustained shift alarms; the pre-shift monitoring days do not
    assert(!got(4).getAs[Boolean]("alarm") && got(9).getAs[Boolean]("alarm"))
  }

  test("cusumShift: dips reset the statistic; single spike under h stays quiet") {
    val xs = Seq.fill(10)(100L) ++ Seq(105L, 90L, 100L, 100L, 100L)
    val daily = xs.zipWithIndex
      .map { case (x, i) => (java.sql.Date.valueOf(f"2024-03-${i + 1}%02d"), x) }
      .toDF("day", "x")
    val got = ProfileOps.cusumShift(daily, refDays = 10, slackPermille = 0L,
      hPermille = 100L).orderBy("day").collect()
    // +5 then -10: the dip floors at 0, not -5 (one-sided statistic)
    assert(got.map(_.getAs[Long]("cusum_milli")).toSeq ==
      Seq(5000L, 0L, 0L, 0L, 0L))
    assert(got.forall(!_.getAs[Boolean]("alarm")))
  }

  test("benfordAudit: exact digit extraction, expectations, exclusions") {
    // values spanning magnitudes: first digits 1,1,2,9,3,1; one zero
    // and one negative excluded
    val vals = Seq(1L, 19L, 200L, 9999L, 3L, 1000000L, 0L, -5L)
      .toDF("x")
    val got = ProfileOps.benfordAudit(vals, col("x")).orderBy("digit")
      .collect()
    val byD = got.map(r => r.getLong(0) -> r).toMap
    assert(byD(1L).getLong(1) == 3L && byD(2L).getLong(1) == 1L &&
      byD(3L).getLong(1) == 1L && byD(9L).getLong(1) == 1L)
    assert((4L to 8L).forall(d => byD(d).getLong(1) == 0L))
    assert(byD(1L).getLong(2) == 2L) // zero + negative excluded
    // expected(1) = 6 * log10(2)
    val e1 = BigDecimal(6.0 * math.log10(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(byD(1L).getDouble(3) == e1)
    // chi2 term replica for digit 9
    val p9 = math.log10(1.0 + 1.0 / 9.0)
    val t9 = BigDecimal(math.pow(1.0 - 6.0 * p9, 2.0) / (6.0 * p9))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(byD(9L).getDouble(4) == t9)
    // all-excluded input: NULL chi2 terms, zero counts, report shape kept
    val empty = ProfileOps.benfordAudit(Seq(-1L, 0L).toDF("x"), col("x"))
      .collect()
    assert(empty.length == 9 && empty.forall(_.isNullAt(4)))
  }

  test("robustTrend: replica Sen slope and Mann-Kendall on a hand series") {
    // days 0..5, x = 2*day except an outlier at day 3
    val xs = Seq(0L, 2L, 4L, 100L, 8L, 10L)
    val daily = xs.zipWithIndex.map { case (x, i) => (i.toLong, x) }
      .toDF("day", "x")
    val out = ProfileOps.robustTrend(daily).head()
    // driver-side replica
    val pts = xs.zipWithIndex.map { case (x, i) => (i.toLong, x) }
    val pairs = for {
      (di, xi) <- pts; (dj, xj) <- pts if di < dj
    } yield ((xj - xi).toDouble / (dj - di).toDouble,
      java.lang.Long.signum(xj - xi).toLong)
    val sorted = pairs.map(_._1).sorted
    val np = sorted.length
    val mids = Seq((np + 1) / 2, np / 2 + 1).distinct.map(r => sorted(r - 1))
    val sen = BigDecimal(mids.sum / mids.length)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val s = pairs.map(_._2).sum
    val n = xs.length.toLong
    val varS = (n * (n - 1) * (2 * n + 5)).toDouble / 18.0 // no ties here
    val zExp = BigDecimal((s - 1).toDouble / math.sqrt(varS))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.getAs[Long]("n_days") == n)
    assert(out.getAs[Double]("sen_slope") == sen)
    assert(out.getAs[Long]("mk_s") == s)
    assert(out.getAs[Double]("mk_z") == zExp)
    // the outlier does not drag the median slope off 2
    assert(out.getAs[Double]("sen_slope") == 2.0)
  }

  test("robustTrend: ties correct the variance; flat series is S=0, z=0") {
    val daily = Seq((0L, 5L), (1L, 5L), (2L, 5L), (3L, 5L)).toDF("day", "x")
    val out = ProfileOps.robustTrend(daily).head()
    assert(out.getAs[Long]("mk_s") == 0L)
    assert(out.getAs[Double]("mk_z") == 0.0)
    assert(out.getAs[Double]("sen_slope") == 0.0)
    // single day: NULL slope and z, S = 0
    val one = ProfileOps.robustTrend(Seq((0L, 5L)).toDF("day", "x")).head()
    assert(one.isNullAt(one.fieldIndex("sen_slope")) &&
      one.isNullAt(one.fieldIndex("mk_z")) && one.getAs[Long]("mk_s") == 0L)
  }

  test("dispersionByKey: hand Fano factors and degenerate NULLs") {
    val daily = Seq(
      // key a: counts 2,4,6 -> mean 4, var 4, dispersion 1.0
      ("a", 0L, 2L), ("a", 1L, 4L), ("a", 2L, 6L),
      // key b: constant 5 -> var 0 -> dispersion 0
      ("b", 0L, 5L), ("b", 1L, 5L),
      // key c: one day -> NULL; key d: all zeros -> NULL (zero mean)
      ("c", 0L, 7L), ("d", 0L, 0L), ("d", 1L, 0L))
      .toDF("key", "day", "x")
    val got = ProfileOps.dispersionByKey(daily).orderBy("key").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getAs[Double]("mean"),
          Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    assert(got("a") == ((3L, 4.0, Some(1.0))))
    assert(got("b") == ((2L, 5.0, Some(0.0))))
    assert(got("c")._3.isEmpty && got("d")._3.isEmpty)
  }

  test("autocorrelation: replica ACF, period spike, constant-series NULL") {
    // period-4 cycle over 16 days
    val cycle = Seq(10L, 20L, 30L, 40L)
    val xs = Seq.fill(4)(cycle).flatten
    val daily = xs.zipWithIndex.map { case (x, i) => (i.toLong, x) }
      .toDF("day", "x")
    val got = ProfileOps.autocorrelation(daily, maxLag = 8)
      .orderBy("lag").collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // driver replica with the same global-mean estimator
    def acf(k: Int): Double = {
      val n = xs.length
      val mu = xs.sum.toDouble / n
      val p = (0 until n - k).map(t => xs(t).toDouble * xs(t + k)).sum
      val a = (0 until n - k).map(xs(_).toDouble).sum
      val b = (k until n).map(xs(_).toDouble).sum
      val q = xs.map(x => x.toDouble * x).sum
      BigDecimal((p - mu * (a + b) + (n - k) * mu * mu) / (q - n * mu * mu))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    (1 to 8).foreach { k =>
      assert(got(k)._1 == (16 - k).toLong)
      assert(math.abs(got(k)._2 - acf(k)) < 2e-6, s"lag $k")
    }
    // the period lags dominate every non-multiple lag
    assert(got(4)._2 > got(1)._2 && got(4)._2 > got(2)._2 &&
      got(4)._2 > got(3)._2 && got(8)._2 > got(5)._2)
    // constant series: zero variance -> NULL acf at every lag
    val const = (0L until 10L).map(d => (d, 5L)).toDF("day", "x")
    assert(ProfileOps.autocorrelation(const, maxLag = 3).collect()
      .forall(_.isNullAt(2)))
  }

  test("cusumShiftSeasonal: weekly cycle stays quiet where flat CUSUM fires") {
    // strong weekly pattern (weekend dip), repeated identically: the
    // weekday-baseline statistic is exactly 0 every day
    val week = Seq(100L, 100L, 100L, 100L, 100L, 40L, 40L)
    val xs = Seq.fill(4)(week).flatten // 28 days: 14 ref + 14 monitor
    val daily = xs.zipWithIndex.map { case (x, i) => (i.toLong, x) }
      .toDF("day", "x")
    val seasonal = ProfileOps.cusumShiftSeasonal(daily, refDays = 14,
      hPermille = 100L).orderBy("day").collect()
    assert(seasonal.forall(_.getAs[Long]("cusum_milli") == 0L))
    assert(seasonal.forall(!_.getAs[Boolean]("alarm")))
    // the flat-baseline CUSUM on the same data accumulates the weekday
    // structure itself and fires — the false alarm class this fixes
    val flat = ProfileOps.cusumShift(daily, refDays = 14,
      hPermille = 100L).orderBy("day").collect()
    assert(flat.exists(_.getAs[Boolean]("alarm")))
    // a +25% sustained shift on top of the cycle: seasonal catches it
    val shifted = xs.take(14) ++ xs.drop(14).map(x => x + x / 4)
    val daily2 = shifted.zipWithIndex.map { case (x, i) => (i.toLong, x) }
      .toDF("day", "x")
    val caught = ProfileOps.cusumShiftSeasonal(daily2, refDays = 14,
      hPermille = 100L).orderBy("day").collect()
    assert(caught.last.getAs[Boolean]("alarm"))
  }

  test("cusumShift: fewer days than refDays yields an empty monitor") {
    val daily = Seq((java.sql.Date.valueOf("2024-04-01"), 5L),
      (java.sql.Date.valueOf("2024-04-02"), 6L)).toDF("day", "x")
    assert(ProfileOps.cusumShift(daily, refDays = 10).count() == 0L)
    intercept[IllegalArgumentException](
      ProfileOps.cusumShift(daily, refDays = 0))
  }

  test("crosstab: declared domain, absent combos are zero") {
    val df = Seq(("s1", "en"), ("s1", "en"), ("s1", "fr"), ("s2", "zh"))
      .toDF("src", "lang")
    val got = ProfileOps.crosstab(df, "src", "lang", Seq("en", "fr", "zh"))
      .orderBy("src").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(("s1", 2L, 1L, 0L), ("s2", 0L, 0L, 1L)))
    intercept[IllegalArgumentException] {
      ProfileOps.crosstab(df, "src", "lang", Seq("en", "en"))
    }
  }

  test("binnedChi2: zero on identical distributions, exact on a hand case") {
    val same = Seq(("a", 0L), ("a", 1L), ("b", 0L), ("b", 1L))
      .toDF("g", "bin")
    val r0 = ProfileOps.binnedChi2(same, "g", col("bin"), "a", "b").head()
    assert(r0.getLong(0) == 0L && r0.getLong(1) == 1L)
    // bins: (a=3,b=1) -> 1e6*4/4 = 1_000_000; (a=0,b=2) -> 1e6*4/2 = 2_000_000
    val diff = (Seq.fill(3)(("a", 0L)) ++ Seq(("b", 0L), ("b", 1L), ("b", 1L)))
      .toDF("g", "bin")
    val r1 = ProfileOps.binnedChi2(diff, "g", col("bin"), "a", "b").head()
    assert(r1.getLong(0) == 3000000L && r1.getLong(1) == 1L &&
      r1.getLong(2) == 3L && r1.getLong(3) == 3L)
  }

  test("madAnomalies: a planted spike alarms, steady load does not") {
    val steady = (0L until 30L).map(b => (b, 100L + (b % 3)))
    val spiked = steady.map { case (b, c) => (b, if (b == 20L) 1000L else c) }
    val flags = ProfileOps.madAnomalies(
      spiked.toDF("bucket", "cnt"), "bucket", "cnt", windowLen = 8)
      .filter(col("is_anomaly")).select("bucket").collect().map(_.getLong(0))
    assert(flags.toSeq == Seq(20L))
    val none = ProfileOps.madAnomalies(
      steady.toDF("bucket", "cnt"), "bucket", "cnt", windowLen = 8)
      .filter(col("is_anomaly")).count()
    assert(none == 0L)
  }

  test("cumulativeDistinct: first-seen reduction equals running distinct") {
    val ev = Seq((1L, 0L), (1L, 5L), (2L, 0L), (3L, 1L), (3L, 9L), (4L, 9L))
      .toDF("user_id", "b")
    val got = FunnelOps.cumulativeDistinct(ev, "user_id", col("b"))
      .orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // bucket 0: users 1,2 new; 1: user 3; 9: user 4 (3 already counted)
    assert(got.toSeq == Seq((0L, 2L, 2L), (1L, 1L, 3L), (9L, 1L, 4L)))
  }

  test("joinAdvisor: playbook decisions and exact containment") {
    val fact = (1L to 100L).flatMap(k => Seq.fill(if (k == 7L) 60 else 1)(k))
      .toDF("fk") // key 7 holds 60/159 rows ~ 377k ppm
    val smallDim = (1L to 50L).toDF("pk") // covers half of fact's keys
    val r1 = JoinOps.joinAdvisor(fact, smallDim, "fk", "pk",
      broadcastRowLimit = 100L).head()
    assert(r1.getAs[String]("decision") == "broadcast_right")
    assert(r1.getAs[Long]("containment_ppm") == 500000L) // 50 of 100 keys
    assert(r1.getAs[Long]("l_top_share_ppm") == 60L * 1000000L / 159L)
    // no broadcastable side + hot key -> salting recommendation
    val r2 = JoinOps.joinAdvisor(fact, smallDim, "fk", "pk",
      broadcastRowLimit = 10L).head()
    assert(r2.getAs[String]("decision") == "salt_or_aqe_skew")
    // no skew, no broadcast -> plain shuffle
    val r3 = JoinOps.joinAdvisor((1L to 100L).toDF("fk"), smallDim,
      "fk", "pk", broadcastRowLimit = 10L).head()
    assert(r3.getAs[String]("decision") == "shuffle")
  }

  test("fdHistogram: FD bin rule, constant and degenerate inputs") {
    // uniform 1..1000: IQR = 500, h = 2*500/cbrt(1000) = 100 -> 10 bins
    val got = ProfileOps.fdHistogram((1L to 1000L).toDF("v"), col("v"))
      .orderBy("bin").collect()
    assert(got.length == 10 && got.head.getLong(2) == 10L)
    // exact integer binning: ((v-1)*10) div 999 spreads 1000 values
    assert(got.map(_.getLong(1)).sum == 1000L)
    assert(got.head.getAs[Long]("q1") == 250L && got.head.getAs[Long]("q3") == 750L)
    // constant column: one bin, everything in it
    val const = ProfileOps.fdHistogram(Seq.fill(20)(5L).toDF("v"), col("v"))
      .collect()
    assert(const.length == 1 && const.head.getLong(0) == 0L &&
      const.head.getLong(1) == 20L && const.head.getLong(2) == 1L)
    intercept[IllegalArgumentException] {
      ProfileOps.fdHistogram(Seq.empty[Long].toDF("v"), col("v"))
    }
  }

  test("rollingFeatures: lag and trailing mean, exact at 6dp") {
    val grid = Seq(
      (1L, 0L, 1.5), (1L, 1L, 2.5), (1L, 2L, 4.0), (1L, 3L, 4.0),
      (2L, 0L, 9.0))
      .toDF("k", "bucket", "value")
    val got = FunnelOps.rollingFeatures(grid, "k", "bucket", "value", 3)
      .orderBy("k", "bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(3)) null else r.getDouble(3), r.getDouble(4)))
    assert(got.toSeq == Seq(
      (1L, 0L, null, 1.5),            // window [1.5]
      (1L, 1L, 1.5, 2.0),             // [1.5, 2.5]
      (1L, 2L, 2.5, 2.666667),        // [1.5, 2.5, 4.0] -> 8/3 @ 6dp
      (1L, 3L, 4.0, 3.5),             // [2.5, 4.0, 4.0]
      (2L, 0L, null, 9.0)))           // series start per key
    intercept[IllegalArgumentException] {
      FunnelOps.rollingFeatures(grid, "k", "bucket", "value", 0)
    }
  }

  test("linearFit: exact line recovered; degenerate groups yield nulls") {
    val pts = (1L to 10L).map(x => ("lin", x, 3L * x + 2L)) ++
      (1L to 5L).map(x => ("noisy", x, 2L * x + (if (x % 2 == 0) 1L else -1L))) ++
      Seq(("flatx", 4L, 1L), ("flatx", 4L, 9L)) // constant x: no slope
    val got = ProfileOps.linearFit(pts.toDF("g", "x", "y"), "g",
      col("x"), col("y")).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got("lin").getDouble(2) == 3.0 && got("lin").getDouble(3) == 2.0 &&
      got("lin").getDouble(4) == 1.0)
    assert(got("noisy").getDouble(4) > 0.8 && got("noisy").getDouble(4) < 1.0)
    assert(got("flatx").isNullAt(2) && got("flatx").isNullAt(4))
  }

  test("attributionCredit: first/last/linear by hand; cap keeps most recent") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    // conv A: imps 1@10, 2@20, 3@30 (k=3); B: 4@10, 5@20 (k=2); C: 6@10
    val pairs = Seq((100L, 1L, 10L), (100L, 2L, 20L), (100L, 3L, 30L),
      (200L, 4L, 10L), (200L, 5L, 20L), (300L, 6L, 10L))
      .toDF("conv_id", "imp_id", "imp_ts")
    def run(cap: Int) = FunnelOps.attributionCredit(pairs, "conv_id",
        "imp_id", "imp_ts", channel = pmod(col("imp_id"), lit(2L)), cap)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    val full = run(20)
    // firsts: 1(A), 4(B), 6(C); lasts: 3(A), 5(B), 6(C); channel = id%2
    // position (U-shape): A ends .4 each, middle .2; B .5 each; C 1.0
    assert(full(0L) == ((2L, 1L, 1.833333, 1.7))) // imps 2,4,6: .2+.5+1
    assert(full(1L) == ((1L, 2L, 1.166667, 1.3))) // imps 1,3,5: .4+.4+.5
    // cap=2: A keeps its 2 MOST RECENT (2@20, 3@30) — imp1 uncredited,
    // first-of-kept becomes imp2
    val capped = run(2)
    assert(capped(0L) == ((3L, 1L, 2.0, 2.0)))
    assert(capped(1L) == ((0L, 2L, 1.0, 1.0)))
    // recency tie at equal ts breaks by imp id (higher id = more recent)
    val tie = Seq((9L, 7L, 5L), (9L, 8L, 5L)).toDF("conv_id", "imp_id", "imp_ts")
    val t = FunnelOps.attributionCredit(tie, "conv_id", "imp_id", "imp_ts",
      channel = col("imp_id"), maxTouches = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(t == Map(8L -> 1L)) // only the higher id survives the cap
    assert(FunnelOps.lcmTo(20) == 232792560L)
    intercept[IllegalArgumentException](FunnelOps.attributionCredit(
      pairs, "conv_id", "imp_id", "imp_ts", col("imp_id"), 26))
  }

  test("lshBandPlan: fixed-point S-curve, defaults certified chosen") {
    import graft.ops.DedupOps
    // fixed-point power: exact truncating milli arithmetic
    assert(DedupOps.fpowMilli(500L, 1) == 500L)
    assert(DedupOps.fpowMilli(500L, 2) == 250L)
    assert(DedupOps.fpowMilli(500L, 4) == 62L) // 250->125->62 (truncated)
    assert(DedupOps.fpowMilli(1000L, 64) == 1000L)
    assert(DedupOps.fpowMilli(0L, 5) == 0L)
    intercept[IllegalArgumentException](DedupOps.fpowMilli(1001L, 2))
    // the S-curve is monotone in s for any (r, b) and pinned at the ends
    for ((r, b) <- Seq((4, 16), (8, 8), (2, 32))) {
      val curve = (0L to 1000L by 50L).map(DedupOps.lshCurveMilli(_, r, b))
      assert(curve.head == 0L && curve.last == 1000L)
      assert(curve.sliding(2).forall { case Seq(a, c) => a <= c })
    }
    // the plan table: one row per divisor of k, chosen = the engine
    // defaults (bands=16, r=4) at k=64, target 0.5
    val plan = DedupOps.lshBandPlan(spark, 64, 500).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getBoolean(6)))
    assert(plan.map(_._1).sorted.sameElements(
      Array(1L, 2L, 4L, 8L, 16L, 32L, 64L)))
    plan.foreach { case (b, r, _, _) => assert(b * r == 64L) }
    val chosen = plan.filter(_._4)
    assert(chosen.length == 1 && chosen(0)._1 == 16L && chosen(0)._2 == 4L,
      s"expected (16,4) chosen, got ${chosen.toSeq}")
    // p_tgt at (16,4) matches the hand computation: s^4=62, q=938,
    // 1000 - 938^16_fixed
    assert(chosen(0)._3 == 1000L - DedupOps.fpowMilli(938L, 16))
    intercept[IllegalArgumentException](DedupOps.lshBandPlan(spark, 0))
    intercept[IllegalArgumentException](DedupOps.lshBandPlan(spark, 64, 1001))
  }

  test("chooseBandPlan is the control path: tuned == default at 0.5, " +
      "non-default target shifts the split end-to-end") {
    import graft.ops.DedupOps
    // the tuner's choice at the configured default target IS the
    // engine default (16, 4) — the certificate now drives the control
    assert(DedupOps.chooseBandPlan(64, 500) == ((16, 4)))
    // a stricter target (higher similarity threshold) picks more rows
    // per band (fewer bands): the S-curve midpoint s* ~ (1/b)^(1/r)
    val (bHi, rHi) = DedupOps.chooseBandPlan(64, 800)
    assert(bHi < 16 && bHi * rHi == 64, s"got ($bHi, $rHi)")
    val (bLo, rLo) = DedupOps.chooseBandPlan(64, 200)
    assert(bLo > 16 && bLo * rLo == 64, s"got ($bLo, $rLo)")
    // tuned candidates at target 0.5 == the hard-defaulted path,
    // row-for-row; a non-default target runs end-to-end and (with
    // fewer bands) can only lose candidates, never invent them
    import spark.implicits._
    val docs = (0L until 40L).map { i =>
      val base = s"alpha bravo charlie delta echo foxtrot golf hotel i$i"
      (i, if (i % 4 == 0) base + " extra near dup tail words here"
          else base + s" unique$i tail$i")
    }.toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val tuned = pairs(DedupOps.minhashLshCandidatesTuned(docs, 500))
    val default = pairs(DedupOps.minhashLshCandidates(docs))
    assert(tuned == default)
    val strict = pairs(DedupOps.minhashLshCandidatesTuned(docs, 800))
    assert(strict.subsetOf(default),
      s"strict target invented candidates: ${strict -- default}")
  }

  test("minhashDedupKeepTuned: one argument drives bands AND threshold " +
      "in lockstep") {
    import graft.ops.DedupOps
    import spark.implicits._
    // three exact-duplicate clusters + distinct tails: survives any
    // threshold; plus a moderately-similar pair that a 0.8 verify must
    // reject even when its LSH bucket catches it
    val docs = (0L until 30L).map { i =>
      val cluster = i % 3
      if (i < 9) (i, s"alpha bravo charlie delta echo cluster$cluster " +
        s"golf hotel india juliet kilo lima")
      else (i, s"alpha bravo unique$i words$i tail$i more$i stuff$i")
    }.toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Boolean)] =
      df.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    // target 0.5: identical to the hard-defaulted pipeline, row-for-row
    assert(rows(DedupOps.minhashDedupKeepTuned(docs, 500)) ==
      rows(DedupOps.minhashDedupKeep(docs)))
    // target 0.8: equals spelling BOTH knobs by hand — bands from the
    // tuner's (8, 8) split, threshold 0.8
    assert(DedupOps.chooseBandPlan(64, 800) == ((8, 8)))
    assert(rows(DedupOps.minhashDedupKeepTuned(docs, 800)) ==
      rows(DedupOps.minhashDedupKeep(docs, bands = 8, threshold = 0.8)))
    // the exact-duplicate clusters still collapse at 0.8 (j = 1.0)
    val t800 = DedupOps.minhashDedupKeepTuned(docs, 800)
    assert(t800.filter(!col("is_kept")).count() >= 6L,
      "exact-duplicate clusters must still deduplicate at target 0.8")
    // KeepBest variant: same lockstep contract
    assert(rows(DedupOps.minhashDedupKeepBestTuned(docs, 800)) ==
      rows(DedupOps.minhashDedupKeepBest(docs, bands = 8,
        threshold = 0.8)))
    intercept[IllegalArgumentException](
      DedupOps.minhashDedupKeepTuned(docs, 0))
    intercept[IllegalArgumentException](
      DedupOps.minhashDedupKeepBestTuned(docs, 1001))
  }
}
