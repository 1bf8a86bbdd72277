package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops._

/** PageRank + Misra–Gries heavy hitters: the round-7 graph/text adds. */
class GraphTextSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get
  import spark.implicits._

  // ---- Misra–Gries ----

  test("MisraGriesAgg: guarantee holds under k << distinct (Zipf plant)") {
    // 2000 arrivals over ~200 distinct items, head items planted heavy
    val arrivals = (0 until 1000).map(i => s"tail${i % 197}") ++
      Seq.fill(400)("alpha") ++ Seq.fill(350)("beta") ++ Seq.fill(250)("gamma")
    val n = arrivals.size
    val k = 8
    // shuffle deterministically so heavy items interleave with the tail
    val df = new scala.util.Random(7).shuffle(arrivals).zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("id", "w")
      .repartition(4)
    val mg = df.agg(graft.functions.MisraGriesAgg(col("w"), k)).head()
      .getMap[String, Long](0)
    val exact = arrivals.groupBy(identity).map { case (w, xs) => (w, xs.size.toLong) }
    val bound = n.toDouble / (k + 1)
    // every item above the miss bound MUST be a candidate
    for ((w, c) <- exact if c > bound)
      assert(mg.contains(w), s"heavy item $w (true=$c > bound=$bound) missed")
    // estimates are conservative: true - n/(k+1) <= est <= true
    for ((w, est) <- mg) {
      val t = exact(w)
      assert(est <= t, s"$w est=$est overshoots true=$t")
      assert(est >= t - bound, s"$w est=$est below true-bound ${t - bound}")
    }
    assert(mg.size <= k)
  }

  test("heavyHitterWords == exact GROUP BY/HAVING with k << distinct") {
    val words = Seq.fill(300)("hot") ++ Seq.fill(200)("warm") ++
      (0 until 500).map(i => s"cold${i % 311}")
    val shuffled = new scala.util.Random(13).shuffle(words)
    val docs = shuffled.grouped(25).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq
      .toDF("doc_id", "text").repartition(4)
    val k = 8
    val frac = 0.15 // > 1/9; only "hot" (30%) and "warm" (20%) qualify
    val got = TextOps.heavyHitterWords(docs, k, frac)
      .orderBy("w").as[(String, Long)].collect().toSeq
    assert(got == Seq(("hot", 300L), ("warm", 200L)))
  }

  test("heavyHitterWords rejects a threshold below the miss bound") {
    val docs = Seq((0L, "a b c")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      TextOps.heavyHitterWords(docs, k = 9, minFrac = 0.05)
    }
    assert(e.getMessage.contains("miss bound"))
  }

  test("windowedHeavyHitters == exact per-window GROUP BY/HAVING") {
    // two 1-hour windows; window A plants one dominant user among 300
    // distinct (>> k = 8), window B has no qualifier at 20%
    val base = 1700000000L
    val rows =
      (0 until 300).map(i => (base + i, s"u$i")) ++        // window A tail
      Seq.fill(100)((base + 500L, "whale")) ++             // window A heavy
      (0 until 50).map(i => (base + 3600 + i, s"v${i % 40}")) // window B
    val df = new scala.util.Random(5).shuffle(rows).toDF("sec", "w")
      .select(timestamp_seconds(col("sec")).as("ts"), col("w"))
      .repartition(4)
    val got = TextOps.windowedHeavyHitters(df, col("ts"), "1 hour",
      col("w"), k = 8, minFrac = 0.2)
      .as[(Long, String, Long)].collect().toSet
    // exact: window A n=400, threshold 80 -> only whale (100); window B
    // n=50, threshold 10 -> no v-user reaches 10 (each <= 2)
    assert(got == Set((base - base % 3600, "whale", 100L)))
  }

  // ---- PageRank ----

  /** Driver-side reference power iteration (dense, exact same update). */
  private def refPageRank(edges: Seq[(Long, Long)], iters: Int,
      d: Double): Map[Long, Double] = {
    val e = edges.distinct
    val nodes = e.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    val n = nodes.size
    val out = e.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    var rank = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val dangling = nodes.filterNot(out.contains).map(rank).sum
      val contrib = e.groupBy(_._2).view.mapValues(
        _.map(p => rank(p._1) / out(p._1)).sum).toMap
      rank = nodes.map(v => v ->
        ((1.0 - d) / n + d * (contrib.getOrElse(v, 0.0) + dangling / n))).toMap
    }
    rank
  }

  test("pageRank matches a dense reference implementation incl. dangling") {
    // 1 -> 2 -> 3 (sink), 1 -> 3, 4 -> 1, 3 dangles; plus isolated-ish 5 -> 4
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 1L), (5L, 4L))
    val got = GraphOps.pageRank(edges.toDF("src", "dst"), iters = 7)
      .as[(Long, Double)].collect().toMap
    val want = refPageRank(edges, 7, 0.85)
    assert(got.keySet == want.keySet)
    for ((v, r) <- want)
      assert(math.abs(got(v) - r) < 1e-12, s"node $v: got ${got(v)} want $r")
    // total mass conserved: teleport + dangling redistribution keep sum 1
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
  }

  test("pageRank: symmetric 2-cycle is uniform at any iteration count") {
    val got = GraphOps.pageRank(Seq((1L, 2L), (2L, 1L)).toDF("src", "dst"),
      iters = 3).as[(Long, Double)].collect().toMap
    assert(math.abs(got(1L) - 0.5) < 1e-15)
    assert(math.abs(got(2L) - 0.5) < 1e-15)
  }

  test("pageRank collapses duplicate edges (simple-graph semantics)") {
    val dup = Seq((1L, 2L), (1L, 2L), (2L, 1L)).toDF("src", "dst")
    val got = GraphOps.pageRank(dup, iters = 4).as[(Long, Double)].collect().toMap
    assert(math.abs(got(1L) - 0.5) < 1e-15 && math.abs(got(2L) - 0.5) < 1e-15)
  }

  test("personalizedPageRank: seed restart, unreachable nodes exactly 0") {
    // 1 -> 2 -> 3 (sink); 4 -> 5 in a separate component, unreachable
    // from seed 1; dangling node 3 restarts into the seed
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L))
    val iters = 6
    val d = 0.85
    val got = GraphOps.personalizedPageRank(edges.toDF("src", "dst"),
      seeds = Seq(1L), iters = iters).as[(Long, Double)].collect().toMap
    // dense reference with the same update
    val nodes = Seq(1L, 2L, 3L, 4L, 5L)
    val out = Map(1L -> Seq(2L), 2L -> Seq(3L), 4L -> Seq(5L))
    val s = Map(1L -> 1.0, 2L -> 0.0, 3L -> 0.0, 4L -> 0.0, 5L -> 0.0)
    var rank = s
    for (_ <- 1 to iters) {
      val dangling = nodes.filter(v => !out.contains(v)).map(rank).sum
      val contrib = nodes.map(v => v -> out.filter(_._2.contains(v))
        .map { case (u, os) => rank(u) / os.size }.sum).toMap
      rank = nodes.map(v => v ->
        ((1.0 - d) * s(v) + d * (contrib(v) + dangling * s(v)))).toMap
    }
    for ((v, r) <- rank)
      assert(math.abs(got(v) - r) < 1e-12, s"node $v: got ${got(v)} want $r")
    assert(got(4L) == 0.0 && got(5L) == 0.0) // exactly, not approximately
  }

  test("hits: two hubs endorsing one authority reach the fixpoint") {
    // 1 -> 3, 2 -> 3: auth mass all on 3, hub mass split between 1 and 2;
    // this is the exact fixpoint, so any iteration count returns it
    val edges = Seq((1L, 3L), (2L, 3L)).toDF("src", "dst")
    for (iters <- Seq(1, 4)) {
      val got = GraphOps.hits(edges, iters).collect()
        .map(r => r.getAs[Long]("node") ->
          ((r.getAs[Double]("auth"), r.getAs[Double]("hub")))).toMap
      assert(got(3L) == ((1.0, 0.0)))
      assert(got(1L) == ((0.0, 0.5)) && got(2L) == ((0.0, 0.5)))
    }
  }

  test("hits: chain splits mass evenly; duplicate edges collapse") {
    // 1 -> 2 -> 3 (with a duplicate 1->2): auths 2 and 3 at 0.5 each,
    // hubs 1 and 2 at 0.5 each — stable from round 1 onward
    val edges = Seq((1L, 2L), (1L, 2L), (2L, 3L)).toDF("src", "dst")
    val got = GraphOps.hits(edges, iters = 3).collect()
      .map(r => r.getAs[Long]("node") ->
        ((r.getAs[Double]("auth"), r.getAs[Double]("hub")))).toMap
    assert(got(1L) == ((0.0, 0.5)))
    assert(got(2L) == ((0.5, 0.5)))
    assert(got(3L) == ((0.5, 0.0)))
    // L1 normalization: both score vectors sum to 1
    assert(math.abs(got.values.map(_._1).sum - 1.0) < 1e-12)
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-12)
  }

  test("linkPrediction: 4-cycle diagonals score exactly; edges excluded") {
    // cycle 1-2-3-4-1: non-edges (1,3) and (2,4) share 2 mediators of
    // degree 2 each; AA = 2 * round(1e9/ln 2)/1e9, Jaccard = 2/(2+2-2)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("a", "b")
    val got = GraphOps.linkPrediction(edges, minCommon = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getAs[Double]("adamic_adar"),
          r.getAs[Double]("jaccard")))).toMap
    val w = math.round(1e9 / math.log(2.0))
    val aa = BigDecimal(2.0 * w / 1e9).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.keySet == Set((1L, 3L), (2L, 4L)))
    assert(got((1L, 3L)) == ((2L, 2 * w, aa, 1.0)))
    assert(got((2L, 4L)) == ((2L, 2 * w, aa, 1.0)))
  }

  test("linkPrediction: hub cap drops super-hub mediators; deg-1 vacuous") {
    // star: center 0 wired to 1..5 (deg 5); leaves are deg 1. With
    // maxDegree = 4 the only possible mediator is capped away -> empty;
    // uncapped, all 10 leaf pairs appear via the center
    val edges = (1L to 5L).map(i => (0L, i)).toDF("a", "b")
    assert(GraphOps.linkPrediction(edges, minCommon = 1,
      maxDegree = 4).collect().isEmpty)
    assert(GraphOps.linkPrediction(edges, minCommon = 1,
      maxDegree = 1000).count() == 10L)
  }

  test("outDegrees: duplicate edges collapse, sinks absent, sum = |E|") {
    val edges = Seq((1L, 2L), (1L, 2L), (1L, 3L), (2L, 3L), (4L, 1L))
      .toDF("src", "dst")
    val got = GraphOps.outDegrees(edges).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 2L -> 1L, 4L -> 1L)) // 3 is a sink
    assert(got.values.sum == 4L) // distinct edge count
  }

  test("triangleCounts: K4 + pendant, duplicates/reversals collapse") {
    // K4 on {1,2,3,4} has C(4,3)=4 triangles, each node in exactly 3;
    // pendant node 5 attached to 1 joins none. Feed duplicates and
    // reversed copies to exercise canonicalization.
    val k4 = for {
      a <- 1L to 4L; b <- 1L to 4L if a < b
    } yield (a, b)
    val edges = (k4 ++ k4.map(_.swap) ++ Seq((1L, 5L), (5L, 1L), (1L, 1L)))
      .toDF("a", "b")
    val got = GraphOps.triangleCounts(edges).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), s"got $got")
    // every triangle contributes 3 node-increments: total = 3 * 4
    assert(got.values.sum == 12L)
  }

  test("fuzzyPairs: FastSS candidates verified; equals unpruned join") {
    // sub ("cat"/"cab"), delete ("cat"/"at"), insert ("cat"/"cart"),
    // transposition trap ("ab"/"ba" share deletion sigs but dist 2),
    // far pair ("dog"), empty string (dist 1 to "a")
    val strs = Seq("cat", "cab", "at", "cart", "ab", "ba", "dog", "a", "")
      .toDF("s")
    val got = TextOps.fuzzyPairs(strs).select("s_a", "s_b").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // reference: brute-force DP over all pairs
    val all = Seq("cat", "cab", "at", "cart", "ab", "ba", "dog", "a", "")
    def lev(x: String, y: String): Int = {
      val d = Array.tabulate(x.length + 1, y.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to x.length; j <- 1 to y.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (x(i - 1) == y(j - 1)) 0 else 1))
      d(x.length)(y.length)
    }
    val brute = (for {
      x <- all; y <- all if x < y && lev(x, y) <= 1
    } yield (x, y)).toSet
    assert(got == brute, s"missing=${brute -- got} extra=${got -- brute}")
    assert(!got.contains(("ab", "ba")), "transposition must be rejected")
  }

  test("triangleCounts: triangle-free bipartite graph is empty") {
    val edges = (for (l <- 1L to 3L; r <- 11L to 13L) yield (l, r))
      .toDF("a", "b")
    assert(GraphOps.triangleCounts(edges).count() == 0L)
  }

  test("NfcNormalize: composes decomposed marks; ASCII fast-path; nulls") {
    import org.apache.spark.sql.functions.col
    val rows = Seq(
      Some("expose\u0301 nai\u0308ve"), // decomposed -> precomposed
      Some("expos\u00e9"),               // already NFC: unchanged
      Some("plain ascii 42!"),           // quick-check fast path
      None)
    val got = rows.toDF("t")
      .select(graft.functions.NfcNormalize(col("t"))).collect()
      .map(r => if (r.isNullAt(0)) null else r.getString(0))
    assert(got(0) == "expos\u00e9 na\u00efve")
    assert(got(0).codePointCount(0, got(0).length) == 12)
    assert(got(1) == "expos\u00e9")
    assert(got(2) == "plain ascii 42!")
    assert(got(3) == null)
    // idempotence: NFC(NFC(x)) == NFC(x)
    val twice = rows.take(1).toDF("t")
      .select(graft.functions.NfcNormalize(
        graft.functions.NfcNormalize(col("t")))).collect()(0).getString(0)
    assert(twice == "expos\u00e9 na\u00efve")
  }

  test("htmlToText: script/style/comment removal, entities, malformed tags") {
    def ex(h: String): String = {
      import org.apache.spark.sql.functions.{col, lit}
      Seq(h).toDF("h").select(graft.ops.TextOps.htmlToText(col("h")))
        .collect()(0).getString(0)
    }
    // script and style content is DROPPED (not just tags), comments too;
    // case-insensitive, attributes tolerated
    assert(ex("<p>a</p><SCRIPT src='x'>var b = '<p>hidden</p>';</SCRIPT>b") ==
      "a b")
    assert(ex("<style media=\"all\">p { display: none }</style>keep") ==
      "keep")
    assert(ex("pre<!-- a <b> comment -->post") == "pre post")
    // entity decode order: &amp;lt; must yield the LITERAL "&lt;", never
    // double-decode into "<"
    assert(ex("x &amp;lt; y &amp; z") == "x &lt; y & z")
    assert(ex("It&#39;s &quot;here&quot;&nbsp;now") == "It's \"here\" now")
    // malformed nesting degrades to tag-strip, never throws
    assert(ex("<p>open <b>bold</p> stray</b> <i>tail") ==
      "open bold stray tail")
    // whitespace (newlines, runs) collapses; ends trimmed
    assert(ex("  <div>\n a\n\n  b </div>\t") == "a b")
  }

  test("pmiPairs: hand-computed PMI; duplicate tokens in a doc count once") {
    // 4 docs: (x y) (x y) (x z) (w w) — "w w" checks per-doc distinct.
    // c_x=3 c_y=2 c_z=1 c_w=1; c_xy=2 c_xz=1; n=4
    // pmi(x,y) = ln(4*2/(3*2)) = ln(4/3); pmi(x,z) = ln(4/3)
    val docs = Seq((1L, "x y"), (2L, "x y"), (3L, "x z"), (4L, "w w"))
      .toDF("doc_id", "text")
    val got = TextOps.pmiPairs(docs, minCount = 1L).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    val expPmi = BigDecimal(math.log(4.0 / 3.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.keySet == Set(("x", "y"), ("x", "z")), s"got $got")
    assert(got(("x", "y")) == ((2L, expPmi)))
    assert(got(("x", "z")) == ((1L, expPmi)))
  }

  test("textRankKeywords: hub word tops the centrality ranking") {
    // "hub" co-occurs (window 1) with six distinct spokes; spokes only
    // ever touch the hub -> hub is the centrality maximum
    val docs = Seq((1L, "alpha hub beta"), (2L, "gamma hub delta"),
      (3L, "epsilon hub zeta"), (4L, "alpha hub beta"),
      (5L, "gamma hub delta"), (6L, "epsilon hub zeta"))
      .toDF("doc_id", "text")
    val got = TextOps.textRankKeywords(docs, window = 1, minPairs = 1L,
      iters = 4, k = 10).orderBy("rank_pos").collect()
    assert(got(0).getString(1) == "hub")
    assert(got(0).getDouble(2) > got(1).getDouble(2))
    // deterministic: identical rerun, identical rank vector
    val again = TextOps.textRankKeywords(docs, window = 1, minPairs = 1L,
      iters = 4, k = 10).orderBy("rank_pos").collect()
    assert(got.map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSeq ==
      again.map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSeq)
    // rank mass sums to ~1 over the whole vocabulary (k covers it)
    val mass = got.map(_.getDouble(2)).sum
    assert(math.abs(mass - 1.0) < 1e-6, s"rank mass $mass")
  }

  test("rakeKeyphrases: hand RAKE scores on the classic shape") {
    // stopword 'of': doc "deep learning of deep models" twice ->
    // phrases: "deep learning" x2, "deep models" x2
    // freq(deep)=4 deg(deep)=8; freq(learning)=2 deg=4;
    // freq(models)=2 deg=4 -> every word scores 2.0 -> both phrases 4.0
    val docs = Seq((1L, "deep learning of deep models"),
      (2L, "deep learning of deep models")).toDF("doc_id", "text")
    val got = TextOps.rakeKeyphrases(docs, stopwords = Seq("of"), k = 5,
      minCount = 1L).orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1, "deep learning", 2L, 4000000L),
      (2, "deep models", 2L, 4000000L)))
    // longer phrase beats its frequent single word: "gradient descent
    // optimizer" (3 words) vs bare "gradient"
    val d2 = Seq((1L, "gradient descent optimizer of gradient"),
      (2L, "gradient descent optimizer of gradient")).toDF("doc_id", "text")
    val g2 = TextOps.rakeKeyphrases(d2, stopwords = Seq("of"), k = 2,
      minCount = 1L).orderBy("rank").collect()
    assert(g2(0).getString(1) == "gradient descent optimizer")
    assert(g2(1).getString(1) == "gradient")
    intercept[IllegalArgumentException](
      TextOps.rakeKeyphrases(docs, stopwords = Seq.empty))
  }

  test("JaroWinkler kernel: pinned to DuckDB/RapidFuzz on classic fixtures") {
    import org.apache.spark.unsafe.types.UTF8String
    def jw(a: String, b: String): Double = graft.functions.JaroWinkler.jw(
      UTF8String.fromString(a), UTF8String.fromString(b))
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // values probed from DuckDB's jaro_winkler_similarity
    assert(r6(jw("MARTHA", "MARHTA")) == 0.961111)
    assert(r6(jw("DWAYNE", "DUANE")) == 0.84)
    assert(r6(jw("DIXON", "DICKSONX")) == 0.813333)
    assert(r6(jw("abcd", "abce")) == 0.883333)
    // boost threshold: jaro <= 0.7 gets NO prefix bonus
    assert(r6(jw("aBCDEF", "aXYZUV")) == 0.444444)
    assert(r6(jw("abcdefgh", "abzzzzzz")) == 0.5)
    // 3-cycle transposition tail: floor-halved (t=1, not 1.5) -> the
    // DuckDB value, not the real-number-Jaro 0.983333
    assert(r6(jw("Customer#000000012", "Customer#000000120")) == 0.988889)
    // conventions: empty (either or both) is 0; window-0 swap is 0
    assert(jw("", "") == 0.0 && jw("", "a") == 0.0 && jw("ab", "ba") == 0.0)
    assert(jw("abc", "abc") == 1.0)
    // symmetry
    assert(jw("DIXON", "DICKSONX") == jw("DICKSONX", "DIXON"))
  }

  test("jaroWinklerPairs: blocked join == quadratic on variable lengths") {
    // lengths 2..14: the length-key pruning actually prunes here
    val strs = Seq("jonathan", "jonathon", "jon", "johnathan", "jo",
      "smith", "smyth", "smithe", "anderson", "andersen", "xx",
      "verylongsurname", "verylongsurnam").toDF("s")
    val got = TextOps.jaroWinklerPairs(strs, tauMilli = 900)
      .orderBy("s_a", "s_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    // driver-side quadratic replica with the same kernel
    import org.apache.spark.unsafe.types.UTF8String
    def jw(a: String, b: String): Double = graft.functions.JaroWinkler.jw(
      UTF8String.fromString(a), UTF8String.fromString(b))
    val names = strs.collect().map(_.getString(0))
    val exp = (for {
      a <- names; b <- names if a < b
      j = BigDecimal(jw(a, b))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if j >= 0.9
    } yield (a, b, j)).sortBy(t => (t._1, t._2))
    assert(got.toSeq == exp.toSeq, s"got ${got.toSeq}")
    assert(exp.nonEmpty) // the fixture produces real matches
    intercept[IllegalArgumentException](
      TextOps.jaroWinklerPairs(strs, tauMilli = 800))
  }

  test("logOddsTerms: replica z, group swap negates, exclusive word tops") {
    // group a: "x x y", "x z"; group b: "y y z", "z q q q q"
    val docs = Seq(("a", "x x y"), ("a", "x z"),
      ("b", "y y z"), ("b", "z q q q q")).toDF("grp", "text")
    // k=2 so the b side is reachable (at k >= vocab every word ranks
    // ra <= k and the documented both-sides tie rule reports side 'a')
    val out = TextOps.logOddsTerms(docs, "grp", "a", alpha0 = 10.0,
      minCount = 1L, k = 2).collect()
      .map(r => (r.getString(2), (r.getString(0), r.getInt(1),
        r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // independent replica of the Monroe statistic in driver doubles
    def z(ya: Long, yb: Long, na: Long, nb: Long, a0: Double): Double = {
      val aw = a0 * (ya + yb).toDouble / (na + nb).toDouble
      val d = math.log((ya.toDouble + aw) / (na.toDouble + a0 - ya - aw)) -
        math.log((yb.toDouble + aw) / (nb.toDouble + a0 - yb - aw))
      val v = 1.0 / (ya.toDouble + aw) + 1.0 / (yb.toDouble + aw)
      BigDecimal(d / math.sqrt(v))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    // counts: x: (3,0)  y: (1,2)  z: (1,2)  q: (0,4); n_a=5, n_b=8
    assert(out("x")._3 == 3L && out("x")._4 == 0L)
    assert(out("x")._5 == z(3, 0, 5, 8, 10.0))
    assert(out("q")._5 == z(0, 4, 5, 8, 10.0))
    // a-exclusive x is the most a-distinctive; b-heavy q the most b-
    assert(out("x")._1 == "a" && out("x")._2 == 1)
    assert(out("q")._1 == "b" && out("q")._2 == 1)
    // swapping the focal group exactly negates every z (same ln pair
    // subtracted in reverse order — bit-exact in IEEE)
    val swapped = TextOps.logOddsTerms(docs, "grp", "b", alpha0 = 10.0,
      minCount = 1L, k = 10).collect()
      .map(r => (r.getString(2), r.getDouble(5))).toMap
    out.foreach { case (w, t) => assert(swapped(w) == -t._5, s"word $w") }
  }

  test("logOddsTerms: minCount prunes and k cuts deterministically") {
    val docs = Seq(("a", "x x x rare"), ("b", "y y y")).toDF("grp", "text")
    val terms = TextOps.logOddsTerms(docs, "grp", "a", alpha0 = 5.0,
      minCount = 2L, k = 1).collect()
    val words = terms.map(_.getString(2)).toSet
    assert(!words.contains("rare"))
    assert(terms.length == 2) // one per side at k=1
    assert(terms.map(r => (r.getString(0), r.getInt(1))).toSet ==
      Set(("a", 1), ("b", 1)))
  }

  test("kCore: chain cascades to empty; clique+tail peels to the clique") {
    // path 1-2-3-4-5 at k=2: endpoints peel, then the cascade eats the
    // whole chain — multi-round fixpoint, not a single filter
    val chain = (1L to 4L).map(i => (i, i + 1)).toDF("a", "b")
    assert(GraphOps.kCore(chain, k = 2).count() == 0L)
    // K4 {1..4} plus tail 4-5-6: tail peels in 2 rounds, K4 survives
    // with in-core degree 3
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)
    val got = GraphOps.kCore((k4 ++ Seq((4L, 5L), (5L, 6L))).toDF("a", "b"),
      k = 2).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), s"got $got")
    // cycle is its own 2-core (already converged: zero peel rounds)
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("a", "b")
    assert(GraphOps.kCore(cyc, k = 2).count() == 3L)
  }

  test("labelPropagation: two cliques + bridge converge to two communities") {
    // K4 {1..4} and K4 {11..14} joined by one bridge 4-11: round 1 is
    // all count-1 ties (a node never counts its own label) resolving to
    // each node's min NEIGHBOUR; by round 3 both cliques sit on their
    // minimum and the bridge never flips a 3-vs-1 majority — stable
    val k4a = for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)
    val k4b = for { a <- 11L to 14L; b <- 11L to 14L if a < b } yield (a, b)
    val edges = (k4a ++ k4b ++ Seq((4L, 11L))).toDF("a", "b")
    val got = GraphOps.labelPropagation(edges, iters = 4)
      .as[(Long, Long)].collect().toMap
    val expected = ((1L to 4L).map(_ -> 1L) ++ (11L to 14L).map(_ -> 11L)).toMap
    assert(got == expected, s"got $got")
  }

  test("labelPropagation: synchronous rounds are deterministic on a star") {
    // star 0-{1,2,3}: round 1 sends every leaf to 0's label (0) and 0 to
    // min leaf (1); round 2 swaps them back except leaves now hold 0 —
    // the classic bipartite oscillation, which fixed synchronous rounds
    // must reproduce EXACTLY (determinism is the contract, odd vs even)
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("a", "b")
    val r1 = GraphOps.labelPropagation(star, iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1 == Map(0L -> 1L, 1L -> 0L, 2L -> 0L, 3L -> 0L), s"got $r1")
    val r2 = GraphOps.labelPropagation(star, iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(r2 == Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 1L), s"got $r2")
  }

  test("converged power iteration: fixpoint equals long fixed run; loud failure") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (4L, 1L),
      (2L, 4L)).toDF("src", "dst")
    // a 50-round fixed run is far past the power method's mixing time on
    // this graph: the converged variant must land within tol of it
    val fixed = GraphOps.pageRank(edges, iters = 50)
      .as[(Long, Double)].collect().toMap
    val conv = GraphOps.pageRankConverged(edges, tol = 1e-9, maxIters = 100)
      .as[(Long, Double)].collect().toMap
    assert(conv.keySet == fixed.keySet)
    for (k <- fixed.keySet)
      assert(math.abs(conv(k) - fixed(k)) < 1e-8, s"node $k")
    // seeded variant converges too and stays a probability vector
    val pprConv = GraphOps.personalizedPageRankConverged(edges, Seq(1L),
      tol = 1e-9).as[(Long, Double)].collect()
    assert(math.abs(pprConv.map(_._2).sum - 1.0) < 1e-9)
    // weighted variant: uniform weights == unweighted converged result
    val wConv = GraphOps.weightedPageRankConverged(
      edges.withColumn("w", lit(3L)), tol = 1e-9)
      .as[(Long, Double)].collect().toMap
    for (k <- fixed.keySet)
      assert(math.abs(wConv(k) - conv(k)) < 1e-12, s"node $k")
    // too-small iteration budget refuses loudly instead of returning an
    // unconverged vector
    val e = intercept[IllegalStateException] {
      GraphOps.pageRankConverged(edges, tol = 1e-15, maxIters = 2).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("converged label propagation: fixpoint on a clique; oscillation refuses") {
    // two disjoint triangles reach the min-label fixpoint quickly
    val tris = Seq((0L, 1L), (1L, 2L), (0L, 2L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("a", "b")
    val got = GraphOps.labelPropagationConverged(tris, maxIters = 10)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
    // ...and equals the fixed-round mode once stable
    val fixed = GraphOps.labelPropagation(tris, iters = 4)
      .as[(Long, Long)].collect().toMap
    assert(got == fixed)
    // the star oscillates (documented bipartite artifact): the converged
    // mode must refuse loudly rather than return a mid-oscillation state
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("a", "b")
    val e = intercept[IllegalStateException] {
      GraphOps.labelPropagationConverged(star, maxIters = 6)
    }
    assert(e.getMessage.contains("fixpoint"))
  }

  test("lineageBarrier: reliable-checkpoint mode is bit-identical to local mode") {
    // the availability story for cluster iteration: with
    // spark.graft.checkpointDir set, every barrier persists to a
    // reliable filesystem (executor loss recoverable) — and the RESULT
    // must not move by a single bit vs the localCheckpoint default
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (4L, 1L))
      .toDF("src", "dst")
    val local = GraphOps.pageRank(edges, iters = 4)
      .as[(Long, Double)].collect().toMap
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set(graft.ops.Checkpoints.DirConf, dir)
    try {
      val reliable = GraphOps.pageRank(edges, iters = 4)
        .as[(Long, Double)].collect().toMap
      assert(reliable == local, "reliable-checkpoint mode changed results")
      // the barrier actually wrote to the reliable dir (mode really on)
      assert(spark.sparkContext.getCheckpointDir.isDefined)
      val ckDir = new java.io.File(
        new java.net.URI(spark.sparkContext.getCheckpointDir.get))
      assert(ckDir.exists && ckDir.listFiles().nonEmpty,
        "no reliable checkpoint data written")
    } finally spark.conf.unset(graft.ops.Checkpoints.DirConf)
  }

  test("graph loops: shuffled joins (threshold -1) match the default shapes") {
    // autoBroadcastJoinThreshold=-1 turns every size-picked and
    // fitsBroadcast-hinted join into a shuffled one; the values must
    // match the default (broadcast) shapes — the two sum the same
    // multisets, only the join strategy moves
    import ShuffledShapes._
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (4L, 1L),
      (2L, 4L)).toDF("src", "dst")
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L), (6L, 4L), (6L, 7L)).toDF("a", "b")
    def r9(m: Map[Long, Double]): Map[Long, Double] =
      m.map { case (k, v) => k -> math.rint(v * 1e9) / 1e9 }
    val (prB, prS) = defaultAndShuffled(spark) {
      GraphOps.pageRank(edges, iters = 4).as[(Long, Double)].collect().toMap
    }
    assert(r9(prS) == r9(prB), "pageRank shapes disagree")
    val (hitsB, hitsS) = defaultAndShuffled(spark) {
      GraphOps.hits(edges, iters = 3).as[(Long, Double, Double)].collect()
        .map(t => t._1 -> (t._2, t._3)).toMap
    }
    assert(hitsS.keySet == hitsB.keySet)
    for (k <- hitsB.keySet) {
      assert(math.abs(hitsS(k)._1 - hitsB(k)._1) < 1e-9, s"auth node $k")
      assert(math.abs(hitsS(k)._2 - hitsB(k)._2) < 1e-9, s"hub node $k")
    }
    val (lpB, lpS) = defaultAndShuffled(spark) {
      rows(GraphOps.labelPropagation(und, iters = 3))
    }
    assert(lpS == lpB, "labelPropagation shapes disagree")
    val (kcB, kcS) = defaultAndShuffled(spark) {
      rows(GraphOps.kCore(und, k = 2))
    }
    assert(kcB.nonEmpty && kcS == kcB, "kCore shapes disagree")
    val starts = Seq(1L, 2L, 4L).toDF("node")
    val (rwB, rwS) = defaultAndShuffled(spark) {
      rows(GraphOps.randomWalks(edges, starts, walksPerStart = 2,
        steps = 3, seed = 7L))
    }
    assert(rwS == rwB, "randomWalks shapes disagree")
  }

  test("weightedPageRank: uniform weights == pageRank; heavy edge pulls rank") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val uw = edges.withColumn("w", lit(5L))
    val a = GraphOps.weightedPageRank(uw, iters = 3)
      .as[(Long, Double)].collect().toMap
    val b = GraphOps.pageRank(edges, iters = 3)
      .as[(Long, Double)].collect().toMap
    assert(a.keySet == b.keySet)
    for (k <- a.keySet) assert(math.abs(a(k) - b(k)) < 1e-12, s"node $k")
    // skewed: 1 -> 2 carries weight 9 vs 1 -> 3 weight 1: node 2 must
    // out-rank node 3 (they are symmetric under uniform weights ONLY in
    // in-flow from node 1; give 2 and 3 identical out-structure)
    val skew = Seq((1L, 2L, 9L), (1L, 3L, 1L), (2L, 1L, 1L), (3L, 1L, 1L))
      .toDF("src", "dst", "w")
    val r = GraphOps.weightedPageRank(skew, iters = 4)
      .as[(Long, Double)].collect().toMap
    assert(r(2L) > r(3L), s"heavy edge did not pull rank: $r")
    // duplicate (src, dst) rows sum their weights
    val dup = Seq((1L, 2L, 4L), (1L, 2L, 5L), (1L, 3L, 1L),
      (2L, 1L, 1L), (3L, 1L, 1L)).toDF("src", "dst", "w")
    val rd = GraphOps.weightedPageRank(dup, iters = 4)
      .as[(Long, Double)].collect().toMap
    for (k <- r.keySet) assert(math.abs(rd(k) - r(k)) < 1e-12)
    // nonpositive weights are rejected
    val e = intercept[IllegalArgumentException] {
      GraphOps.weightedPageRank(
        Seq((1L, 2L, 0L)).toDF("src", "dst", "w"), iters = 1)
    }
    assert(e.getMessage.contains("nonpositive"))
    // ...and so are NULL weights (e.g. an unparseable w nulled by the
    // cast) — previously these slipped the <= 0 filter and silently
    // dropped the edge while its endpoints still entered the node set
    val en = intercept[IllegalArgumentException] {
      GraphOps.weightedPageRank(
        Seq((1L, 2L, Some(3L)), (2L, 1L, Option.empty[Long]))
          .toDF("src", "dst", "w"), iters = 1)
    }
    assert(en.getMessage.contains("null or nonpositive"))
  }

  // ---- multi-source BFS depth ----

  test("bfsDepth: min distance, multi-source ties, truncation, cycles") {
    // 1 -> 2 -> 3 -> 4 -> 5, plus 10 -> 4 (second source reaches 4 in
    // one hop) and a back-edge 3 -> 1 (cycle must not loop)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 4L),
      (3L, 1L)).toDF("src", "dst")
    val got = GraphOps.bfsDepth(edges, Seq(1L, 10L), maxDepth = 2)
      .as[(Long, Long)].collect().toMap
    // 4 is depth 1 via seed 10, NOT depth 3 via seed 1; 5 is depth 2;
    // nothing deeper than 2 appears
    assert(got == Map(1L -> 0L, 10L -> 0L, 2L -> 1L, 4L -> 1L,
      3L -> 2L, 5L -> 2L), s"got $got")
    // maxDepth 0 = seeds only
    val d0 = GraphOps.bfsDepth(edges, Seq(1L), maxDepth = 0)
      .as[(Long, Long)].collect().toMap
    assert(d0 == Map(1L -> 0L))
    // a node reachable two ways keeps its MIN depth (not duplicated)
    val diamond = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    val dd = GraphOps.bfsDepth(diamond, Seq(1L), maxDepth = 3)
      .as[(Long, Long)].collect()
    assert(dd.length == dd.map(_._1).distinct.length, "duplicate nodes")
    assert(dd.toMap == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L))
  }

  // ---- deterministic random walks ----

  /** Driver-side reference walker with the SAME portable step mix. */
  private def naiveWalks(edges: Seq[(Long, Long)], starts: Seq[Long],
      w: Int, steps: Int, seed: Long): Seq[(Long, Long, Long)] = {
    val p = graft.functions.PolyHash.P
    val adj = edges.distinct.groupBy(_._1)
      .map { case (s, es) => (s, es.map(_._2).distinct.sorted) }
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    for (n <- starts.distinct; k <- 0 until w) {
      val walkId = n * w + k
      var cur = n
      out += ((walkId, 0L, cur))
      var t = 1
      var alive = true
      while (t <= steps && alive) {
        adj.get(cur) match {
          case Some(nbrs) =>
            val hv = ((walkId % p) * GraphOps.WalkA +
              t.toLong * GraphOps.WalkB + seed) % p
            cur = nbrs((hv % nbrs.size).toInt)
            out += ((walkId, t.toLong, cur))
          case None => alive = false
        }
        t += 1
      }
    }
    out.toSeq
  }

  test("randomWalks: chain walks the chain, sink truncates") {
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val starts = Seq(1L).toDF("node")
    val got = GraphOps.randomWalks(chain, starts, walksPerStart = 1,
      steps = 5, seed = 0L).as[(Long, Long, Long)].collect().sorted
    // outdeg is 1 everywhere, so any hash walks 1->2->3->4 and stops at
    // the sink 4 — steps 4 and 5 emit nothing (truncated-walk contract)
    assert(got.toSeq == Seq((1L, 0L, 1L), (1L, 1L, 2L), (1L, 2L, 3L),
      (1L, 3L, 4L)), s"got ${got.toSeq}")
  }

  test("randomWalks == driver-side reference walker on a random digraph") {
    val rnd = new scala.util.Random(99)
    val edges = Seq.fill(400)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }
    val starts = (0L until 40L by 3L).toSeq
    val got = GraphOps.randomWalks(edges.toDF("src", "dst"),
        starts.toDF("node"), walksPerStart = 3, steps = 4, seed = 11L)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    val want = naiveWalks(edges, starts, w = 3, steps = 4, seed = 11L).sorted
    assert(got == want, s"got ${got.take(8)}.. want ${want.take(8)}..")
  }

  test("DeepWalk composition: walks -> sentences -> co-occurrence corpus") {
    val rnd = new scala.util.Random(17)
    val edges = Seq.fill(200)((rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      .filter { case (a, b) => a != b }.toDF("src", "dst")
    val starts = (0L until 20L).toDF("node")
    val walks = GraphOps.randomWalks(edges, starts, walksPerStart = 2,
      steps = 4, seed = 5L)
    // stringify each walk in step order — the "sentence" a skip-gram
    // trainer consumes
    val docs = walks.groupBy(col("walk_id").as("doc_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("step"), col("node")))),
        s => s.getField("node").cast("string")), " ").as("text"))
    val pairs = TextOps.cooccurPairs(docs, window = 2, minPairs = 1L)
      .as[(String, String, Long, Long)].collect()
    // exact volume law: sum over walks of sum_d (len - d)
    val lens = walks.groupBy("walk_id").count()
      .collect().map(_.getLong(1).toInt)
    val expected = lens.map(l =>
      (1 to 2).map(d => math.max(l - d, 0)).sum.toLong).sum
    assert(pairs.map(_._3).sum == expected,
      s"pair volume ${pairs.map(_._3).sum} != $expected")
    assert(pairs.forall { case (a, b, _, _) => a <= b })
    assert(pairs.nonEmpty)
  }

  test("randomWalks: distinct walk ids per start, reruns bit-identical") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 1L), (3L, 1L)).toDF("src", "dst")
    val starts = Seq(1L, 2L).toDF("node")
    val a = GraphOps.randomWalks(edges, starts, walksPerStart = 4,
      steps = 3, seed = 5L).as[(Long, Long, Long)].collect().sorted.toSeq
    val b = GraphOps.randomWalks(edges, starts, walksPerStart = 4,
      steps = 3, seed = 5L).as[(Long, Long, Long)].collect().sorted.toSeq
    assert(a == b)
    assert(a.filter(_._2 == 0L).map(_._1).distinct.size == 8)
    // a different seed must actually change some choice on this graph
    val c = GraphOps.randomWalks(edges, starts, walksPerStart = 4,
      steps = 3, seed = 6L).as[(Long, Long, Long)].collect().sorted.toSeq
    assert(a != c, "seed had no effect")
  }
}
