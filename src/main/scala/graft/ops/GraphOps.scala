package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Checkpoints._

/** Link-graph analytics for corpus curation. Web-scale training-data
  * pipelines score documents by link-graph centrality (crawl frontiers,
  * harmonic/PageRank quality priors — the reference pipeline literature:
  * Page et al. 1999); this module gives that as a DataFrame-iterative
  * operator sharing the scale discipline of
  * [[DedupOps.connectedComponents]]: the edge relation is normalized and
  * checkpointed ONCE, every power-iteration round is one shuffle on the
  * destination key, and the per-round logical plan is cut with a
  * [[Checkpoints.BarrierOps.lineageBarrier lineage barrier]] so N rounds
  * cost N bounded jobs instead of one super-linear mega-plan
  * (localCheckpoint single-JVM; reliable `checkpoint()` when
  * `spark.graft.checkpointDir` points at a shared filesystem — the
  * executor-loss-safe mode a multi-hour cluster iteration needs).
  */
object GraphOps {

  /** PageRank by fixed-iteration power method over a directed edge list
    * (`src`, `dst` long columns; duplicate edges collapse — simple-graph
    * semantics, matching the oracle).
    *
    * Per round: rank mass moves along `contrib = rank(src) / outdeg(src)`
    * (the out-degree is joined into the edge relation ONCE, up front, so
    * a round is exactly edges⋈ranks on `src` + groupBy `dst`), dangling
    * mass (nodes with no out-edges) and the teleport term spread
    * uniformly: `r' = (1−d)/N + d·(Σ contrib + dangling/N)`.
    *
    * Fixed `iters` — NOT convergence-probed — so the result is a
    * deterministic function of the graph and the oracle can unroll the
    * same rounds ([[pageRankSql]]). The dangling mass rides as a ONE-ROW
    * broadcast aggregate crossed into the rank update (the
    * broadcast-one-row-totals idiom) — no driver collect inside the
    * loop; each round is one eager-checkpointed bounded job.
    *
    * 100 TB shape: ranks are one row per node (8+8 bytes), edges are the
    * big relation and move through a single hash exchange per round keyed
    * first on `src` (join) then `dst` (reduce); AQE handles hub skew
    * (a viral page's in-edges are many rows of 16 bytes, salted by the
    * skew-join rule, not a single hot cell). The per-round joins are
    * size-picked: at exhibit scale the planner broadcasts the rank-sized
    * sides (measured in the captured plan); at web scale — node counts
    * past broadcast limits — the same plan degrades to shuffled joins on
    * the checkpointed relations, no hints. Iteration count is the O(10)
    * constant the power method needs for ranking stability, not a
    * data-dependent loop. Local-mode cost is dominated by the per-round
    * planning/scheduling constant (~0.7 s/round at sf0.1 — the
    * dedup_components job-constant class), not data volume. */
  def pageRank(edges: DataFrame, iters: Int = 8,
      damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    pageRankMode(edges, FixedIters(iters), damping)
  }

  /** [[pageRank]] iterated to an L1 fixpoint instead of fixed rounds:
    * stop when Σ|r_t − r_{t−1}| ≤ `tol`, FAIL LOUDLY past `maxIters`
    * (production ranking wants "converged or tell me", not a silent
    * best-effort vector). Non-oracle variant by design — the round
    * count is data-dependent, so there is no unrollable twin; the
    * fixed-round default stays the certified mode. The L1 delta is one
    * node-keyed join + a one-row aggregate per round — the same scale
    * class as the round itself. */
  def pageRankConverged(edges: DataFrame, tol: Double = 1e-9,
      maxIters: Int = 100, damping: Double = 0.85): DataFrame =
    pageRankMode(edges, convergeMode(tol, maxIters), damping)

  private def pageRankMode(edges: DataFrame, mode: IterMode,
      damping: Double): DataFrame = {
    require(damping > 0 && damping < 1, s"damping in (0,1), got $damping")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .distinct().lineageBarrier(eager = false)
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
      .lineageBarrier(eager = false)
    val n = nodes.count()
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    // weighted edge relation, built once, reused every round
    val ew = e.join(deg, Seq("src"))
      .select(col("src"), col("dst"), (lit(1.0) / col("outdeg")).as("w"))
      .lineageBarrier(eager = false)
    val sinks = nodes.join(deg.select(col("src").as("node")), Seq("node"),
      "left_anti").lineageBarrier(eager = false)
    val init = nodes.select(col("node"), lit(1.0 / n).as("rank"))
    // EAGER per-round barrier (inside prLoop): each round materializes
    // once and the next reads cached blocks — N rounds = N bounded jobs.
    // A lazy mark would let the final action re-derive round k's ranks
    // through every branch that references it (dangling + contribs +
    // node join): the recompute tree grows with iters instead of
    // staying linear.
    prLoop(nodes, ew, sinks, init, mode, (c, dm) =>
      lit((1.0 - damping) / n) +
        lit(damping) * (c + dm / lit(n.toDouble)))
  }

  private def convergeMode(tol: Double, maxIters: Int): IterMode = {
    require(tol > 0, s"tol must be > 0, got $tol")
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    Converge(tol, maxIters)
  }

  /** Iteration policy for the power-method loop. */
  private sealed trait IterMode
  private final case class FixedIters(iters: Int) extends IterMode
  private final case class Converge(tol: Double, maxIters: Int) extends IterMode

  /** The ONE power-method loop behind [[pageRank]], [[weightedPageRank]]
    * and [[personalizedPageRank]] (fixed or convergence-probed): per
    * round, one-row broadcast dangling aggregate, edge⋈rank contribution
    * reduce on `dst`, then `update(contrib, danglingMass)` — the update
    * CLOSURE keeps each op's exact float operation order, which is what
    * the unrolled oracles replay. */
  private def prLoop(nodes: DataFrame, ew: DataFrame, sinks: DataFrame,
      init: DataFrame, mode: IterMode,
      update: (Column, Column) => Column): DataFrame = {
    // the sink INDICATOR is joined onto the node relation ONCE, up
    // front, and carried through every round's rank relation — the
    // per-round dangling mass is then a filter+aggregate over the
    // just-checkpointed ranks instead of a sinks⋈ranks join (two fewer
    // exchanges per round; same multiset of summed ranks, so the
    // aggregate's value class is unchanged). The flag column never
    // leaves this loop.
    val flag = sinks.select(col("node"), lit(true).as("__sink"))
    val nodesS = nodes.join(flag, Seq("node"), "left")
      .select(nodes.columns.map(col) :+
        coalesce(col("__sink"), lit(false)).as("__sink"): _*)
      .materialize()
    // the measured nodes bound the ranks (lazy in round 1) and the
    // contribs (a join output), which the planner cannot size: while
    // they fit the broadcast threshold both are hinted, so the EDGE
    // relation is never shuffled or sorted inside the loop (only
    // node-sized partial sums cross the groupBy exchange). Same
    // multiset of summed terms per group either way.
    val bcastRanks = fitsBroadcast(nodesS)
    def round(r: DataFrame): DataFrame = {
      val dangling = r.filter(col("__sink")).agg(coalesce(sum(col("rank")), lit(0.0)).as("dm"))
      val rSide = if (bcastRanks) broadcast(r) else r
      val contribs = ew.join(rSide, ew("src") === rSide("node"))
        .groupBy(col("dst"))
        .agg(sum(col("w") * col("rank")).as("c"))
      val cSide = if (bcastRanks) broadcast(contribs) else contribs
      nodesS.join(cSide, nodesS("node") === cSide("dst"), "left")
        .crossJoin(dangling)
        .select(col("node"),
          update(coalesce(col("c"), lit(0.0)), col("dm")).as("rank"),
          col("__sink"))
        .lineageBarrier()
    }
    val result = {
      var ranks = init.join(flag, Seq("node"), "left")
        .select(col("node"), col("rank"),
          coalesce(col("__sink"), lit(false)).as("__sink"))
        .lineageBarrier(eager = false)
      mode match {
        case FixedIters(iters) =>
          for (_ <- 1 to iters) ranks = round(ranks)
          ranks
        case Converge(tol, maxIters) =>
          var i = 0
          var delta = Double.MaxValue
          while (delta > tol) {
            if (i >= maxIters) throw new IllegalStateException(
              s"power iteration did not converge to L1 tol $tol within " +
                s"$maxIters rounds (last delta $delta) — raise maxIters or " +
                "loosen tol; refusing to return an unconverged vector")
            val next = round(ranks)
            val probe = next
              .join(ranks.select(col("node"), col("rank").as("prev")), Seq("node"))
              .agg(sum(abs(col("rank") - col("prev"))))
              .collect()(0)
            // no nodes (null sum): the empty result fixed mode returns;
            // NaN fails `delta > tol`, so it would pass for converged
            delta = if (probe.isNullAt(0)) 0.0 else probe.getDouble(0)
            if (delta.isNaN) throw new IllegalStateException(
              s"power iteration diverged: L1 delta is NaN after ${i + 1} rounds")
            ranks = next
            i += 1
          }
          ranks
      }
    }
    result.select(col("node"), col("rank"))
  }

  /** WEIGHTED PageRank: rank mass moves proportionally to edge weight —
    * `contrib(v→u) = rank(v) · w(v,u) / Σ_u' w(v,u')` — the form link
    * curation uses when edges carry evidence strength (co-occurrence
    * counts, anchor frequency) instead of mere existence; an edge seen
    * 100× should carry 100× the endorsement of an edge seen once.
    *
    * Same loop, scale shape and oracle discipline as [[pageRank]]
    * (fixed rounds, one-row broadcast dangling aggregate, eager
    * per-round checkpoint); the only delta is the weight normalization
    * joined into the edge relation once, up front. Edges: (src, dst, w)
    * with INTEGER weights (exact normalization denominators on both
    * engines); duplicate (src, dst) rows sum their weights. Zero/
    * negative weights are rejected — a zero-weight edge is a non-edge
    * and must be filtered upstream, not silently carried. */
  def weightedPageRank(edges: DataFrame, iters: Int = 4,
      damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    weightedPageRankMode(edges, FixedIters(iters), damping)
  }

  /** [[weightedPageRank]] to an L1 fixpoint — the [[pageRankConverged]]
    * contract over the weighted edge relation. */
  def weightedPageRankConverged(edges: DataFrame, tol: Double = 1e-9,
      maxIters: Int = 100, damping: Double = 0.85): DataFrame =
    weightedPageRankMode(edges, convergeMode(tol, maxIters), damping)

  private def weightedPageRankMode(edges: DataFrame, mode: IterMode,
      damping: Double): DataFrame = {
    require(damping > 0 && damping < 1, s"damping in (0,1), got $damping")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"),
        col("w").cast("long"))
      .groupBy("src", "dst").agg(sum(col("w")).as("w"))
      .lineageBarrier(eager = false)
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
      .lineageBarrier(eager = false)
    val n = nodes.count()
    // null catches both SQL nulls and unparseable weights the long cast
    // nulled out — without it such an edge silently drops from the
    // contribution sum while its endpoints still enter the node set,
    // violating the fail-loudly contract this require documents
    require(e.filter(col("w").isNull || col("w") <= 0).isEmpty,
      "weightedPageRank: null or nonpositive edge weight " +
        "(filter non-edges upstream)")
    val deg = e.groupBy(col("src")).agg(sum(col("w")).as("wout"))
    val ew = e.join(deg, Seq("src"))
      .select(col("src"), col("dst"),
        (col("w").cast("double") / col("wout").cast("double")).as("w"))
      .lineageBarrier(eager = false)
    val sinks = nodes.join(deg.select(col("src").as("node")), Seq("node"),
      "left_anti").lineageBarrier(eager = false)
    val init = nodes.select(col("node"), lit(1.0 / n).as("rank"))
    prLoop(nodes, ew, sinks, init, mode, (c, dm) =>
      lit((1.0 - damping) / n) +
        lit(damping) * (c + dm / lit(n.toDouble)))
  }

  /** DuckDB twin of [[weightedPageRank]]: [[pageRankSql]]'s unrolled
    * rounds with the weight-normalized edge relation; `edgesCte` yields
    * (src, dst, w). */
  def weightedPageRankSql(edgesCte: String, iters: Int,
      damping: Double): String = {
    val d = s"CAST('$damping' AS DOUBLE)"
    val rounds = (1 to iters).map { i =>
      val p = s"r${i - 1}"
      s"""dm$i AS (
         |  SELECT COALESCE(sum(rank), 0.0) AS m FROM $p
         |  WHERE node NOT IN (SELECT src FROM deg)),
         |r$i AS (
         |  SELECT nodes.node,
         |    (1.0 - $d) / nc.n + $d * (COALESCE(c.s, 0.0) + dm$i.m / nc.n)
         |      AS rank
         |  FROM nodes
         |  CROSS JOIN nc CROSS JOIN dm$i
         |  LEFT JOIN (
         |    SELECT ew.dst, sum(ew.w * $p.rank) AS s
         |    FROM ew JOIN $p ON ew.src = $p.node GROUP BY ew.dst) c
         |    ON nodes.node = c.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH e00 AS ($edgesCte),
       |e AS (SELECT src, dst, CAST(sum(w) AS BIGINT) AS w
       |      FROM e00 GROUP BY 1, 2),
       |nodes AS (
       |  SELECT src AS node FROM e UNION SELECT dst FROM e),
       |nc AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
       |deg AS (SELECT src, CAST(sum(w) AS BIGINT) AS wout FROM e GROUP BY 1),
       |ew AS (
       |  SELECT e.src, e.dst,
       |    CAST(e.w AS DOUBLE) / CAST(deg.wout AS DOUBLE) AS w
       |  FROM e JOIN deg ON e.src = deg.src),
       |r0 AS (SELECT node, 1.0 / nc.n AS rank FROM nodes CROSS JOIN nc),
       |$rounds
       |SELECT node, round(rank, 9) AS rank FROM r$iters""".stripMargin
  }

  /** Personalized PageRank: power iteration whose teleport AND dangling
    * mass restart into a caller-supplied seed distribution instead of
    * uniform — the "expand from known-good documents" curation
    * primitive (Haveliwala 2002 topic-sensitive PageRank). Update:
    * `r'(v) = (1−d)·s(v) + d·(Σ contrib(v) + dangling·s(v))` with
    * `s(v) = 1/|S|` on the seed set, 0 elsewhere; init `r = s`.
    * Mass stays concentrated around the seeds' neighborhoods; nodes
    * unreachable from S stay at exactly 0.
    *
    * Same scale shape, loop structure, and oracle discipline as
    * [[pageRank]] (fixed rounds, one-row broadcast dangling aggregate,
    * eager per-round checkpoint). Seeds are a driver-side Seq by
    * contract — personalization sets are small; the indicator joins in
    * as a broadcast `isin`. */
  def personalizedPageRank(edges: DataFrame, seeds: Seq[Long],
      iters: Int = 8, damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    personalizedPageRankMode(edges, seeds, FixedIters(iters), damping)
  }

  /** [[personalizedPageRank]] to an L1 fixpoint — the
    * [[pageRankConverged]] contract over the seed teleport vector. */
  def personalizedPageRankConverged(edges: DataFrame, seeds: Seq[Long],
      tol: Double = 1e-9, maxIters: Int = 100,
      damping: Double = 0.85): DataFrame =
    personalizedPageRankMode(edges, seeds, convergeMode(tol, maxIters), damping)

  private def personalizedPageRankMode(edges: DataFrame, seeds: Seq[Long],
      mode: IterMode, damping: Double): DataFrame = {
    require(damping > 0 && damping < 1, s"damping in (0,1), got $damping")
    require(seeds.nonEmpty, "personalizedPageRank needs >= 1 seed")
    require(seeds.distinct.size == seeds.size, "duplicate seed ids")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .distinct().lineageBarrier(eager = false)
    val s0 = 1.0 / seeds.size
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
      .withColumn("s",
        when(col("node").isInCollection(seeds), lit(s0)).otherwise(lit(0.0)))
      .lineageBarrier(eager = false)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val ew = e.join(deg, Seq("src"))
      .select(col("src"), col("dst"), (lit(1.0) / col("outdeg")).as("w"))
      .lineageBarrier(eager = false)
    val sinks = nodes.select("node").join(
      deg.select(col("src").as("node")), Seq("node"), "left_anti")
      .lineageBarrier(eager = false)
    val init = nodes.select(col("node"), col("s").as("rank"))
    prLoop(nodes, ew, sinks, init, mode, (c, dm) =>
      lit(1.0 - damping) * col("s") +
        lit(damping) * (c + dm * col("s")))
  }

  /** DuckDB twin of [[personalizedPageRank]]: [[pageRankSql]]'s unrolled
    * rounds with the uniform teleport replaced by the seed indicator
    * (`seedsSql` = comma-separated literal ids). Identical float
    * operation order to the engine: `(1−d)·s + d·(c + dm·s)`. */
  def personalizedPageRankSql(edgesCte: String, seedsSql: String,
      iters: Int, damping: Double): String = {
    val d = s"CAST('$damping' AS DOUBLE)"
    val rounds = (1 to iters).map { i =>
      val p = s"r${i - 1}"
      s"""dm$i AS (
         |  SELECT COALESCE(sum(rank), 0.0) AS m FROM $p
         |  WHERE node NOT IN (SELECT src FROM deg)),
         |r$i AS (
         |  SELECT nodes.node, nodes.s,
         |    (1.0 - $d) * nodes.s + $d * (COALESCE(c.s2, 0.0) + dm$i.m * nodes.s)
         |      AS rank
         |  FROM nodes
         |  CROSS JOIN dm$i
         |  LEFT JOIN (
         |    SELECT ew.dst, sum(ew.w * $p.rank) AS s2
         |    FROM ew JOIN $p ON ew.src = $p.node GROUP BY ew.dst) c
         |    ON nodes.node = c.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT DISTINCT src, dst FROM ($edgesCte)),
       |ns AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |sc AS (SELECT CAST(1.0 AS DOUBLE) / count(*) AS s0
       |       FROM (SELECT DISTINCT x FROM (SELECT unnest([$seedsSql]) AS x))),
       |nodes AS (
       |  SELECT node, CASE WHEN node IN ($seedsSql) THEN sc.s0
       |               ELSE 0.0 END AS s
       |  FROM ns CROSS JOIN sc),
       |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
       |ew AS (
       |  SELECT e.src, e.dst, 1.0 / deg.outdeg AS w
       |  FROM e JOIN deg ON e.src = deg.src),
       |r0 AS (SELECT node, s, s AS rank FROM nodes),
       |$rounds
       |SELECT node, round(rank, 9) AS rank FROM r$iters""".stripMargin
  }

  /** Out-degree relation of a simple directed graph — same edge
    * normalization as [[pageRank]] (cast, duplicate edges collapse).
    * One distinct + one count aggregate; the degree relation is one row
    * per non-sink node. Feed it to the histogram engine for the degree
    * distribution (the power-law curation signal). */
  def outDegrees(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long"), col("dst").cast("long"))
      .distinct()
      .groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as("node"), col("deg"))

  /** HITS hubs & authorities (Kleinberg 1999) by fixed-iteration mutual
    * reinforcement over a directed edge list — the "good directory vs
    * good page" decomposition a link-curation pass uses alongside
    * [[pageRank]]: a hub is endorsed by pointing AT authorities, an
    * authority by being pointed at BY hubs.
    *
    * Per round (RAW power iteration):
    *   auth_i = Σ_{j→i} hub_j,   hub_i = Σ_{i→j} auth_i's new values —
    * with ONE L1 normalization of each vector at the end. Power
    * iteration is scale-invariant, so deferring the per-round
    * normalization to a single final division is MATHEMATICALLY
    * identical (exact-arithmetic equal; magnitudes stay ~(mean deg)^2k,
    * far inside double range for the O(10) rounds ranking needs) — and
    * it is what lets the whole iteration run as ONE lazy-checkpoint job
    * chain (the [[randomWalks]] branching-factor-1 discipline: an
    * eager-per-half form pays 4× the job constant, measured 9.0 s vs
    * 2.4 s at sf0.1). L1 (a sum), not the textbook L2, keeps the
    * normalizer sqrt-free on both engines. Fixed `iters` (not
    * convergence-probed) so [[hitsSql]] can unroll the identical rounds;
    * hubs init at 1.0 exactly.
    *
    * 100 TB shape: same class as [[pageRank]] — scores are one row per
    * node, each half-round is edges⋈scores on one endpoint key plus a
    * groupBy on the other; while the measured node relation fits the
    * session's broadcast threshold ([[Checkpoints.fitsBroadcast]]) the
    * score side broadcasts (edges never shuffle inside the loop), past
    * it each half is a shuffled join the planner picks; the two
    * normalizers ride ONE-ROW broadcast cross joins (no driver
    * collect); lazy lineage barriers cut the plan per half-round
    * (reliable checkpoints when `spark.graft.checkpointDir` is set).
    * AQE salts hub skew. Returns (node, auth, hub), unrounded — callers
    * round for oracles. */
  def hits(edges: DataFrame, iters: Int = 4): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .distinct().lineageBarrier(eager = false)
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
      .materialize()
    // the measured nodes bound every half's scores (a lazy barrier the
    // planner cannot size): while they fit the broadcast threshold the
    // scores are hinted and the edges NEVER shuffle inside the loop
    val bcastScores = fitsBroadcast(nodes)
    def side(scores: DataFrame): DataFrame =
      if (bcastScores) broadcast(scores) else scores
    // one half-round: pull raw scores across edges (joinKey → groupKey).
    // The score relation stays SPARSE through the loop (only nodes with
    // nonzero mass) — a zero score contributes exactly nothing to a sum,
    // so dropping the zero rows changes no value while halving the
    // per-round work (no nodes left-join, no coalesce per half); the
    // dense node set is reinstated once, at the end
    def half(scores: DataFrame, joinKey: String, groupKey: String): DataFrame = {
      val sc = side(scores)
      e.join(sc, e(joinKey) === sc("node"))
        .groupBy(e(groupKey).as("node")).agg(sum(col("v")).as("v"))
        .lineageBarrier(eager = false)
    }
    var hub = nodes.select(col("node"), lit(1.0).as("v"))
    var auth = hub
    for (_ <- 1 to iters) {
      auth = half(hub, "src", "dst")
      hub = half(auth, "dst", "src")
    }
    val ta = auth.agg(sum(col("v")).as("ta"))
    val th = hub.agg(sum(col("v")).as("th"))
    nodes
      .join(side(auth.select(col("node"), col("v").as("a"))), Seq("node"), "left")
      .join(side(hub.select(col("node"), col("v").as("h"))), Seq("node"), "left")
      .crossJoin(ta).crossJoin(th)
      .select(col("node"),
        (coalesce(col("a"), lit(0.0)) / col("ta")).as("auth"),
        (coalesce(col("h"), lit(0.0)) / col("th")).as("hub"))
  }

  /** DuckDB twin of [[hits]]: the same RAW half-rounds UNROLLED as CTEs
    * over a caller-supplied `e(src, dst)` CTE, with the identical single
    * final L1 division; callers round both sides. */
  def hitsSql(edgesCte: String, iters: Int): String = {
    def halfCte(out: String, in: String, joinKey: String,
        groupKey: String): String =
      s"""$out AS (
         |  SELECT e.$groupKey AS node, sum($in.v) AS v
         |  FROM e JOIN $in ON e.$joinKey = $in.node GROUP BY 1)"""
        .stripMargin
    val rounds = (1 to iters).map { i =>
      val hubIn = if (i == 1) "h0" else s"h${i - 1}"
      halfCte(s"a$i", hubIn, "src", "dst") + ",\n" +
        halfCte(s"h$i", s"a$i", "dst", "src")
    }.mkString(",\n")
    s"""WITH e AS (SELECT DISTINCT src, dst FROM ($edgesCte)),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |h0 AS (SELECT node, 1.0 AS v FROM nodes),
       |$rounds,
       |ta AS (SELECT sum(v) AS t FROM a$iters),
       |th AS (SELECT sum(v) AS t FROM h$iters)
       |SELECT nodes.node,
       |  round(COALESCE(a$iters.v, 0.0) / ta.t, 9) AS auth,
       |  round(COALESCE(h$iters.v, 0.0) / th.t, 9) AS hub
       |FROM nodes
       |LEFT JOIN a$iters USING (node)
       |LEFT JOIN h$iters USING (node)
       |CROSS JOIN ta CROSS JOIN th""".stripMargin
  }

  /** Link-prediction scores over an undirected edge list (`a`, `b`;
    * canonicalized, duplicates collapse): for every NON-adjacent pair
    * with at least `minCommon` common neighbors, the classic triad
    * features — common-neighbor count, neighborhood Jaccard, and
    * Adamic–Adar Σ_w 1/ln(deg w) (Liben-Nowell & Kleinberg 2003) — the
    * "which nodes should be connected" signal a crawl scheduler or
    * recommendation pass reads.
    *
    * Engine-portable exactness: Adamic–Adar is summed as 1e9-scaled
    * INTEGER per-mediator weights (round(1e9/ln deg)), so the sum is
    * order-free exact; Jaccard divides exact integers; both round at 6dp
    * for reporting.
    *
    * Scale shape: wedge enumeration at the mediator (per-w pair join) —
    * the SAME volume term as triangle counting, but here the wedge pairs
    * ARE the output, so degree orientation cannot help; instead
    * super-hub mediators are CAPPED at `maxDegree` (the standard LP
    * practice: a 10⁶-degree hub contributes 1/ln(10⁶) ≈ 0.07 per pair —
    * noise — while generating 10¹² wedges). The cap is part of the
    * operator contract (cn counts capped mediators; the oracle replays
    * it identically). Degree-1 mediators are vacuous (no wedge) and
    * ln(1) = 0 is guarded by the deg >= 2 filter. Non-adjacency is one
    * anti-join against the edge relation; Jaccard uses FULL degrees. */
  def linkPrediction(edges: DataFrame, minCommon: Int = 2,
      maxDegree: Long = 1000L): DataFrame = {
    require(minCommon >= 1, s"minCommon >= 1, got $minCommon")
    require(maxDegree >= 2, s"maxDegree >= 2, got $maxDegree")
    val e = edges.select(
        least(col("a"), col("b")).cast("long").as("a"),
        greatest(col("a"), col("b")).cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .lineageBarrier(eager = false)
    val nb = e.select(col("a").as("w"), col("b").as("n"))
      .unionByName(e.select(col("b").as("w"), col("a").as("n")))
    val deg = nb.groupBy("w").agg(count(lit(1)).as("deg"))
    val nbd = nb.join(deg, Seq("w"))
      .filter(col("deg") >= 2 && col("deg") <= maxDegree)
      .withColumn("wgt",
        round(lit(1e9) / log(col("deg").cast("double"))).cast("long"))
    val wedges = nbd.select(col("w"), col("n").as("u"), col("wgt"))
      .join(nbd.select(col("w"), col("n").as("v")), Seq("w"))
      .filter(col("u") < col("v"))
    val scores = wedges.groupBy("u", "v")
      .agg(count(lit(1)).as("cn"), sum(col("wgt")).as("aa_scaled"))
      .filter(col("cn") >= minCommon)
    val nonEdge = scores.join(e,
      scores("u") === e("a") && scores("v") === e("b"), "left_anti")
    nonEdge
      .join(deg.select(col("w").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("w").as("v"), col("deg").as("dv")), Seq("v"))
      .select(col("u"), col("v"), col("cn"), col("aa_scaled"),
        round(col("aa_scaled").cast("double") / 1e9, 6).as("adamic_adar"),
        round(col("cn").cast("double") /
          (col("du") + col("dv") - col("cn")).cast("double"), 6).as("jaccard"))
  }

  /** DuckDB twin of [[linkPrediction]] over an `(a, b)` edge CTE. */
  def linkPredictionSql(edgesCte: String, minCommon: Int = 2,
      maxDegree: Long = 1000L): String =
    s"""WITH e AS (
       |  SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
       |  FROM ($edgesCte) WHERE a <> b),
       |nb AS (SELECT a AS w, b AS n FROM e
       |       UNION ALL SELECT b, a FROM e),
       |deg AS (SELECT w, CAST(count(*) AS BIGINT) AS deg FROM nb GROUP BY 1),
       |nbd AS (
       |  SELECT nb.w, nb.n,
       |    CAST(round(1e9 / ln(CAST(deg AS DOUBLE))) AS BIGINT) AS wgt
       |  FROM nb JOIN deg USING (w)
       |  WHERE deg >= 2 AND deg <= $maxDegree),
       |scores AS (
       |  SELECT p1.n AS u, p2.n AS v,
       |    CAST(count(*) AS BIGINT) AS cn,
       |    CAST(sum(p1.wgt) AS BIGINT) AS aa_scaled
       |  FROM nbd p1 JOIN nbd p2 ON p1.w = p2.w AND p1.n < p2.n
       |  GROUP BY 1, 2
       |  HAVING count(*) >= $minCommon),
       |ne AS (
       |  SELECT s.* FROM scores s
       |  LEFT JOIN e ON s.u = e.a AND s.v = e.b
       |  WHERE e.a IS NULL)
       |SELECT u, v, cn, aa_scaled,
       |  round(CAST(aa_scaled AS DOUBLE) / 1e9, 6) AS adamic_adar,
       |  round(CAST(cn AS DOUBLE) / CAST(du.deg + dv.deg - cn AS DOUBLE), 6)
       |    AS jaccard
       |FROM ne
       |JOIN deg du ON ne.u = du.w
       |JOIN deg dv ON ne.v = dv.w""".stripMargin

  /** DuckDB twin of [[pageRank]]: the same rounds UNROLLED as CTEs
    * (r0..rN with one dangling-mass CTE per round), over an `e(src, dst)`
    * CTE the caller supplies. Same simple-graph DISTINCT, same
    * `(1−d)/N + d·(Σ rank/outdeg + dangling/N)` update, same fixed
    * iteration count — the only divergence is floating-point summation
    * order, absorbed by the caller rounding both sides identically. */
  def pageRankSql(edgesCte: String, iters: Int, damping: Double): String = {
    val d = s"CAST('$damping' AS DOUBLE)"
    val rounds = (1 to iters).map { i =>
      val p = s"r${i - 1}"
      s"""dm$i AS (
         |  SELECT COALESCE(sum(rank), 0.0) AS m FROM $p
         |  WHERE node NOT IN (SELECT src FROM deg)),
         |r$i AS (
         |  SELECT nodes.node,
         |    (1.0 - $d) / nc.n + $d * (COALESCE(c.s, 0.0) + dm$i.m / nc.n)
         |      AS rank
         |  FROM nodes
         |  CROSS JOIN nc CROSS JOIN dm$i
         |  LEFT JOIN (
         |    SELECT ew.dst, sum(ew.w * $p.rank) AS s
         |    FROM ew JOIN $p ON ew.src = $p.node GROUP BY ew.dst) c
         |    ON nodes.node = c.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT DISTINCT src, dst FROM ($edgesCte)),
       |nodes AS (
       |  SELECT src AS node FROM e UNION SELECT dst FROM e),
       |nc AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
       |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
       |ew AS (
       |  SELECT e.src, e.dst, 1.0 / deg.outdeg AS w
       |  FROM e JOIN deg ON e.src = deg.src),
       |r0 AS (SELECT node, 1.0 / nc.n AS rank FROM nodes CROSS JOIN nc),
       |$rounds
       |SELECT node, round(rank, 9) AS rank FROM r$iters""".stripMargin
  }

  /** Per-node EXACT triangle counts over an undirected edge list
    * (`a`, `b` long columns; canonicalized and deduped here), via
    * degree-ordered orientation (the Schank–Wagner / Suri–Vassilvitskii
    * "node-iterator++" shape that MapReduce triangle counting uses).
    *
    * Each undirected edge is directed from the smaller endpoint under
    * the total order (degree, id); wedges are enumerated only at their
    * lowest-ordered apex and only with ordered arms (v ≺ w carries the
    * arm-degree alongside, so the wedge self-join emits each candidate
    * once); a wedge closes iff its (v, w) arm exists in the oriented
    * relation — an equi-join, never a membership broadcast. Every
    * triangle {x ≺ y ≺ z} is found exactly once, as the wedge at x.
    *
    * 100 TB shape: the wedge volume is Σ_v outdeg(v)², and degree
    * orientation bounds outdeg by O(√m) — the hub that breaks naive
    * wedge counting (a 10⁶-degree celebrity → 10¹² wedges) gets
    * out-degree √m because ALL its edges point away from it under the
    * degree order. Everything is equi-joins on node keys (AQE-saltable);
    * the closing join keys on the (v, w) pair — uniform by
    * construction. The oriented relation is checkpoint-pinned once and
    * reused by both wedge arms and the closing probe. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val ord = orientEdges(edges)
    val p1 = ord.select(col("src").as("u"), col("dst").as("v"), col("dd").as("dv"))
    val p2 = ord.select(col("src").as("u"), col("dst").as("w"), col("dd").as("dw"))
    val wedges = p1.join(p2, Seq("u"))
      .filter((col("dv") < col("dw")) ||
        (col("dv") === col("dw") && col("v") < col("w")))
    val tri = wedges.join(ord.select(col("src").as("v"), col("dst").as("w")),
      Seq("v", "w"))
    tri.select(col("u").as("node"))
      .unionByName(tri.select(col("v").as("node")))
      .unionByName(tri.select(col("w").as("node")))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
  }

  /** The k-core of an undirected graph: the maximal subgraph where every
    * node has degree >= k, by iterative degree peeling (Batagelj–Zaversnik
    * shape, relational form). Returns (node, deg) — each survivor with
    * its degree INSIDE the core.
    *
    * The fixpoint is unique (order of peeling never matters), so the
    * result is deterministic and the oracle can reach the same set by
    * unrolling rounds ([[kCoreSql]]; extra rounds past convergence are
    * no-ops because peeling is monotone).
    *
    * 100 TB shape: one degree aggregate + two anti-joins per round, all
    * keyed on node ids (AQE-saltable); the edge relation only ever
    * SHRINKS, and each round is an eager localCheckpoint so N rounds are
    * N bounded jobs on cached blocks, not a growing mega-plan (the
    * connectedComponents discipline). Round count is bounded by the
    * peel depth, O(sqrt(m)) worst case but single-digit on real degree
    * distributions; non-convergence inside `maxIter` fails loudly
    * rather than returning a non-core. */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 50): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val e0 = edges.select(
        least(col("a").cast("long"), col("b").cast("long")).as("a"),
        greatest(col("a").cast("long"), col("b").cast("long")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    var cur = e0.lineageBarrier()
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      it += 1
      val deg = cur.select(col("a").as("n")).unionByName(cur.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
      // materialize the peel set ONCE per round: it is referenced three
      // times (the convergence probe + both anti-joins), and without a
      // barrier each reference recomputes the full degree aggregate —
      // 3 degree passes per round instead of 1 (guide §2.4: don't
      // recompute what one exchange already paid for). Its measured rows
      // are the convergence probe (no job of its own); its measured bytes
      // let the planner broadcast it into both anti-joins.
      val bad = deg.filter(col("d") < k).select("n").materialize()
      if (Checkpoints.rowCount(bad) == 0) converged = true
      else {
        cur = cur
          .join(bad.select(col("n").as("a")), Seq("a"), "left_anti")
          .join(bad.select(col("n").as("b")), Seq("b"), "left_anti")
          .select("a", "b")
          .lineageBarrier()
      }
    }
    require(converged, s"kCore did not converge within $maxIter rounds")
    cur.select(col("a").as("node")).unionByName(cur.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
  }

  /** Canonicalize (dedup, drop loops) and degree-orient an undirected
    * edge list: (src, dst, dd) with src ≺ dst under (degree, id) and dd
    * the dst-side degree — the [[triangleCounts]] building block,
    * exposed so soaks can measure the orientation's out-degree bound. */
  private[graft] def orientEdges(edges: DataFrame): DataFrame = {
    val e = edges.select(
        least(col("a").cast("long"), col("b").cast("long")).as("a"),
        greatest(col("a").cast("long"), col("b").cast("long")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val deg = e.select(col("a").as("n")).unionByName(e.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val wd = e
      .join(deg.select(col("n").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("d").as("db")), Seq("b"))
    val aFirst = (col("da") < col("db")) ||
      (col("da") === col("db") && col("a") < col("b"))
    wd.select(
        when(aFirst, col("a")).otherwise(col("b")).as("src"),
        when(aFirst, col("b")).otherwise(col("a")).as("dst"),
        when(aFirst, col("db")).otherwise(col("da")).as("dd"))
      .lineageBarrier(eager = false)
  }

  /** DuckDB twin of [[kCore]]: `rounds` peel rounds unrolled as CTEs
    * (idempotent once converged — choose `rounds` >= the observed peel
    * depth; the engine fails loudly if ITS fixpoint needs more). Every
    * round CTE is MATERIALIZED: each round references its predecessor
    * several times, and default CTE inlining would expand the reference
    * tree exponentially — thousands of re-opens of the base parquet. */
  def kCoreSql(edgesCte: String, k: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      val p = s"e${i - 1}"
      s"""bad$i AS MATERIALIZED (
         |  SELECT n FROM (
         |    SELECT n, count(*) AS d FROM (
         |      SELECT a AS n FROM $p UNION ALL SELECT b FROM $p) GROUP BY 1)
         |  WHERE d < $k),
         |e$i AS MATERIALIZED (
         |  SELECT a, b FROM $p
         |  WHERE a NOT IN (SELECT n FROM bad$i)
         |    AND b NOT IN (SELECT n FROM bad$i))""".stripMargin
    }.mkString(",\n")
    s"""WITH e00 AS ($edgesCte),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT LEAST(a, b) AS a, GREATEST(a, b) AS b
       |  FROM e00 WHERE a <> b),
       |$steps
       |SELECT node, count(*) AS deg FROM (
       |  SELECT a AS node FROM e$rounds
       |  UNION ALL SELECT b FROM e$rounds) GROUP BY 1""".stripMargin
  }

  /** DuckDB twin of [[triangleCounts]] over an `edgesCte` producing
    * undirected (a, b) rows: same canonicalization, same (degree, id)
    * orientation and ordered-wedge enumeration. */
  def triangleCountsSql(edgesCte: String): String =
    s"""WITH e0 AS ($edgesCte),
       |e AS (
       |  SELECT DISTINCT LEAST(a, b) AS a, GREATEST(a, b) AS b
       |  FROM e0 WHERE a <> b),
       |deg AS (
       |  SELECT n, count(*) AS d FROM (
       |    SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e) GROUP BY 1),
       |ord AS (
       |  SELECT
       |    CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.a < e.b)
       |      THEN e.a ELSE e.b END AS src,
       |    CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.a < e.b)
       |      THEN e.b ELSE e.a END AS dst,
       |    CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.a < e.b)
       |      THEN db.d ELSE da.d END AS dd
       |  FROM e JOIN deg da ON e.a = da.n JOIN deg db ON e.b = db.n),
       |tri AS (
       |  SELECT p1.u, p1.v, p2.w
       |  FROM (SELECT src AS u, dst AS v, dd AS dv FROM ord) p1
       |  JOIN (SELECT src AS u, dst AS w, dd AS dw FROM ord) p2
       |    ON p1.u = p2.u
       |    AND ((p1.dv < p2.dw) OR (p1.dv = p2.dw AND p1.v < p2.w))
       |  JOIN ord e3 ON e3.src = p1.v AND e3.dst = p2.w),
       |nodes AS (
       |  SELECT u AS node FROM tri
       |  UNION ALL SELECT v FROM tri UNION ALL SELECT w FROM tri)
       |SELECT node, count(*) AS n_tri FROM nodes GROUP BY 1""".stripMargin

  /** Community detection by synchronous label propagation (Raghavan et
    * al. 2007), deterministic form: every node starts labeled with its
    * own id; each round it adopts the label most frequent among its
    * neighbours, ties to the SMALLEST label; all updates read the
    * previous round (synchronous), for a FIXED `iters` rounds. Fixed
    * synchronous rounds + min-label ties make the result a pure function
    * of the graph — no randomized tie-breaking, so the oracle unrolls the
    * same rounds ([[labelPropagationSql]]). (Synchronous LPA can
    * oscillate on bipartite structure — a known artifact; fixed rounds
    * keep that deterministic too. Production label counts here are
    * hash aggregates, never per-node sorts.)
    *
    * 100 TB shape: each round is one neighbour-label equi-join + two
    * hash aggregates (count, then struct-max argmax — no rank window),
    * all keyed on node ids; eager per-round localCheckpoint bounds the
    * plan exactly like [[kCore]]/[[pageRank]]. */
  def labelPropagation(edges: DataFrame, iters: Int = 4): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e0 = edges.select(
        least(col("a").cast("long"), col("b").cast("long")).as("a"),
        greatest(col("a").cast("long"), col("b").cast("long")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val sym = e0.select(col("a").as("n"), col("b").as("m"))
      .unionByName(e0.select(col("b").as("n"), col("a").as("m")))
      .lineageBarrier(eager = false)
    // measured every round, the node-sized label relation broadcasts
    // into sym⋈lab while it fits the threshold: no edge shuffle
    var lab = sym.select(col("n")).distinct()
      .withColumn("lbl", col("n")).materialize()
    for (_ <- 1 to iters) {
      val counts = sym.join(lab.select(col("n").as("m"), col("lbl")), Seq("m"))
        .groupBy("n", "lbl").agg(count(lit(1)).as("c"))
      // argmax by (count desc, label asc) as a struct-max hash aggregate
      lab = counts.groupBy("n")
        .agg(max(struct(col("c"), (-col("lbl")).as("neg"))).as("best"))
        .select(col("n"), (-col("best").getField("neg")).as("lbl"))
        .materialize()
    }
    lab.select(col("n").as("node"), col("lbl").as("label"))
  }

  /** [[labelPropagation]] iterated to a FIXPOINT (no label changed in a
    * round), failing LOUDLY past `maxIters` — which is exactly what
    * synchronous LPA does on oscillating (bipartite-like) structure, so
    * the loud failure is a feature: "converged or tell me", never a
    * silently mid-oscillation labeling. Non-oracle variant; the
    * fixed-round default stays the certified mode. The change count is
    * one node-keyed join + one-row aggregate per round. */
  def labelPropagationConverged(edges: DataFrame,
      maxIters: Int = 50): DataFrame = {
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    val e0 = edges.select(
        least(col("a").cast("long"), col("b").cast("long")).as("a"),
        greatest(col("a").cast("long"), col("b").cast("long")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val sym = e0.select(col("a").as("n"), col("b").as("m"))
      .unionByName(e0.select(col("b").as("n"), col("a").as("m")))
      .lineageBarrier(eager = false)
    var lab = sym.select(col("n")).distinct()
      .withColumn("lbl", col("n")).materialize()
    var changed = Long.MaxValue
    var i = 0
    while (changed > 0) {
      if (i >= maxIters) throw new IllegalStateException(
        s"label propagation did not reach a fixpoint within $maxIters " +
          s"rounds ($changed labels still changing) — synchronous LPA " +
          "oscillates on bipartite-like structure; use the fixed-round " +
          "labelPropagation for a deterministic cut, or raise maxIters")
      val counts = sym.join(lab.select(col("n").as("m"), col("lbl")), Seq("m"))
        .groupBy("n", "lbl").agg(count(lit(1)).as("c"))
      val next = counts.groupBy("n")
        .agg(max(struct(col("c"), (-col("lbl")).as("neg"))).as("best"))
        .select(col("n"), (-col("best").getField("neg")).as("lbl"))
        .materialize()
      changed = next
        .join(lab.select(col("n"), col("lbl").as("prev")), Seq("n"))
        .filter(col("lbl") =!= col("prev")).count()
      lab = next
      i += 1
    }
    lab.select(col("n").as("node"), col("lbl").as("label"))
  }

  /** Multi-source BFS depth: the minimum hop distance from a seed set,
    * for every node within `maxDepth` hops — the "crawl depth from
    * trusted seeds" curation prior (TrustRank-adjacent: documents far
    * from known-good sources are demoted), and the exact-distance
    * complement to [[personalizedPageRank]]'s mass diffusion.
    *
    * Level-synchronous frontier expansion: depth t's frontier is the
    * neighbors of depth t−1's frontier minus everything already
    * visited. Min-distance is unique, so the result is deterministic
    * and the oracle unrolls the same levels ([[bfsDepthSql]]). Nodes
    * beyond `maxDepth` hops are absent (truncated-BFS contract —
    * callers treat absence as "too far").
    *
    * 100 TB shape: per level, one equi-join frontier⋈edges on the src
    * key + one anti-join against the visited relation — both node-keyed
    * (AQE-saltable); shuffled rows are frontier-adjacent edges, and the
    * frontier relation is (node)-only, 8 bytes a row. Eager per-level
    * localCheckpoint keeps N levels = N bounded jobs (the [[pageRank]]
    * discipline). Level count is the graph diameter cut at `maxDepth` —
    * single-digit for web-shaped graphs. */
  def bfsDepth(edges: DataFrame, seeds: Seq[Long], maxDepth: Int): DataFrame = {
    require(seeds.nonEmpty, "bfsDepth needs >= 1 seed")
    require(seeds.distinct.size == seeds.size, "duplicate seed ids")
    require(maxDepth >= 0, s"maxDepth must be >= 0, got $maxDepth")
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .distinct().lineageBarrier(eager = false)
    // lazy checkpoints: fixed-depth BFS branches each frontier/visited
    // at most twice (next level + output), so one action materializes
    // each level once — maxDepth levels in ONE job, not 2·maxDepth
    // eager jobs (see randomWalks; convergence loops stay eager)
    var visited = seeds.toDF("node")
      .select(col("node"), lit(0L).as("depth"))
      .lineageBarrier(eager = false)
    var frontier = visited.select("node").lineageBarrier(eager = false)
    for (t <- 1 to maxDepth) {
      frontier = frontier.join(e, frontier("node") === e("src"))
        .select(col("dst").as("node")).distinct()
        .join(visited.select("node"), Seq("node"), "left_anti")
        .lineageBarrier(eager = false)
      visited = visited
        .unionByName(frontier.select(col("node"), lit(t.toLong).as("depth")))
        .lineageBarrier(eager = false)
    }
    visited
  }

  /** DuckDB twin of [[bfsDepth]]: identical level-synchronous rounds
    * unrolled as MATERIALIZED CTEs over an `e(src, dst)` CTE;
    * `seedsSql` = comma-separated literal ids. */
  def bfsDepthSql(edgesCte: String, seedsSql: String, maxDepth: Int): String = {
    val levels = (1 to maxDepth).map { t =>
      val pf = s"f${t - 1}"
      val pv = s"v${t - 1}"
      s"""f$t AS MATERIALIZED (
         |  SELECT DISTINCT e.dst AS node FROM e JOIN $pf ON e.src = $pf.node
         |  WHERE e.dst NOT IN (SELECT node FROM $pv)),
         |v$t AS MATERIALIZED (
         |  SELECT node, depth FROM $pv
         |  UNION ALL SELECT node, CAST($t AS BIGINT) FROM f$t)""".stripMargin
    }.mkString(",\n")
    val body = if (maxDepth == 0) "" else s",\n$levels"
    s"""WITH e0 AS ($edgesCte),
       |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM e0),
       |v0 AS MATERIALIZED (
       |  SELECT CAST(unnest([$seedsSql]) AS BIGINT) AS node,
       |    CAST(0 AS BIGINT) AS depth),
       |f0 AS MATERIALIZED (SELECT node FROM v0)$body
       |SELECT node, depth FROM v$maxDepth""".stripMargin
  }

  // Portable LCG-style mix for the walk-step choice, kept mod
  // PolyHash.P so every product stays under 2^62 in BIGINT on both
  // engines (same discipline as the MinHash (h*a+b) family).
  private[graft] final val WalkA = 1103515245L
  private[graft] final val WalkB = 12345L

  /** Deterministic random-walk corpus over a directed edge list — the
    * DeepWalk/node2vec ingestion primitive (Perozzi et al. 2014): emit
    * `walksPerStart` truncated walks of `steps` hops from each start
    * node, as (walk_id, step, node) rows ready to feed a skip-gram
    * trainer (or [[graft.ops.TextOps]] co-occurrence ops on the
    * stringified walks).
    *
    * "Random" is a deterministic pseudo-random choice, which is what a
    * reproducible pipeline wants anyway: at step t, walk w moves from
    * node v to the neighbor with index
    * `((w mod P)·A + t·B + seed) mod P mod outdeg(v)` in v's
    * dst-sorted adjacency — a pure function of (graph, w, t, seed), so
    * re-runs (and the DuckDB oracle, [[randomWalksSql]]) reproduce the
    * corpus bit-for-bit. Walks stop at sinks (no out-edges): later
    * steps simply emit no row for that walk, the truncated-walk
    * convention.
    *
    * 100 TB shape: the indexed adjacency (src, dst, idx) + out-degree
    * relation are built ONCE (one sort-window per src partition — the
    * same one-time cost class as a bucketed-layout write) and
    * checkpoint-pinned; each hop is two equi-joins on node keys — the
    * frontier (one row per live walk) against the node-sized degree
    * relation, then against the adjacency on (src, idx) — so a hop
    * shuffles O(live walks) rows, never O(edges), and hub skew lands on
    * AQE-saltable hash joins (the (src, idx) key spreads a hub's
    * probes across its degree). Frontiers are eager-checkpointed per
    * hop (the [[pageRank]] round discipline): `steps` hops = `steps`
    * bounded jobs, not one mega-plan. */
  def randomWalks(edges: DataFrame, starts: DataFrame, walksPerStart: Int,
      steps: Int, seed: Long): DataFrame = {
    require(walksPerStart >= 1, s"walksPerStart must be >= 1, got $walksPerStart")
    require(steps >= 1, s"steps must be >= 1, got $steps")
    require(seed >= 0, s"seed must be >= 0 (portable mod), got $seed")
    val p = graft.functions.PolyHash.P
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .distinct().lineageBarrier(eager = false)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      .lineageBarrier(eager = false)
    val ew = e.select(col("src"), col("dst"),
        (row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("src")).orderBy(col("dst"))) - 1).cast("long").as("idx"))
      .lineageBarrier(eager = false)
    var frontier = starts.select(col("node").cast("long"))
      .distinct()
      .select(explode(sequence(lit(0L), lit(walksPerStart - 1L))).as("w"),
        col("node"))
      .select((col("node") * walksPerStart + col("w")).as("walk_id"),
        col("node"))
      .materialize()
    // live walks only ever shrink (sinks truncate), so the measured
    // INITIAL frontier bounds every hop's lazy frontier: while it fits
    // the broadcast threshold the hops are frontier-built broadcast
    // joins and the adjacency is never shuffled inside the loop
    val bcastWalks = fitsBroadcast(frontier)
    def side(f: DataFrame): DataFrame = if (bcastWalks) broadcast(f) else f
    val out = scala.collection.mutable.ArrayBuffer[DataFrame](
      frontier.select(col("walk_id"), lit(0L).as("step"), col("node")))
    for (t <- 1 to steps) {
      val hv = pmod(pmod(col("walk_id"), lit(p)) * lit(WalkA)
        + lit(t.toLong * WalkB) + lit(seed), lit(p))
      // LAZY checkpoint: fixed-depth expansion has branching factor 1
      // (hop k feeds hop k+1 once + the output union once), so one
      // final action materializes each frontier exactly once into its
      // cache — `steps` hops run as ONE job instead of `steps` eager
      // jobs (measured ~0.7 s/job of scheduling constant at sf0.1;
      // broadcast builds are sub-jobs of the same action and read the
      // cached prior frontier, so the property survives the hints).
      // Convergence LOOPS (components, kCore, pageRank's multi-branch
      // rounds) keep the eager form — their recompute trees grow.
      frontier = side(side(frontier)
        .join(deg, col("node") === deg("src"))
        .select(col("walk_id"), col("node").as("src"),
          pmod(hv, col("outdeg")).as("idx")))
        .join(ew, Seq("src", "idx"))
        .select(col("walk_id"), col("dst").as("node"))
        .lineageBarrier(eager = false)
      out += frontier.select(col("walk_id"), lit(t.toLong).as("step"), col("node"))
    }
    out.reduce(_ unionByName _)
  }

  /** DuckDB twin of [[randomWalks]]: same dst-sorted adjacency index,
    * same portable step mix, hops unrolled as MATERIALIZED CTEs.
    * `startsCte` must yield a `node` column. */
  def randomWalksSql(edgesCte: String, startsCte: String,
      walksPerStart: Int, steps: Int, seed: Long): String = {
    val p = graft.functions.PolyHash.P
    val hops = (1 to steps).map { t =>
      val prev = s"s${t - 1}"
      s"""s$t AS MATERIALIZED (
         |  SELECT f.walk_id, ew.dst AS node
         |  FROM $prev f
         |  JOIN deg ON f.node = deg.src
         |  JOIN ew ON ew.src = f.node
         |    AND ew.idx = ((f.walk_id % $p) * $WalkA + ${t.toLong * WalkB}
         |                  + $seed) % $p % deg.outdeg)""".stripMargin
    }.mkString(",\n")
    val unions = (0 to steps).map(t =>
      s"SELECT walk_id, CAST($t AS BIGINT) AS step, node FROM s$t")
      .mkString("\nUNION ALL\n")
    s"""WITH e0 AS ($edgesCte),
       |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM e0),
       |deg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
       |ew AS MATERIALIZED (
       |  SELECT src, dst,
       |    row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx
       |  FROM e),
       |starts AS (SELECT DISTINCT node FROM ($startsCte)),
       |s0 AS MATERIALIZED (
       |  SELECT node * $walksPerStart + w.range AS walk_id, node
       |  FROM starts CROSS JOIN range(0, $walksPerStart) w),
       |$hops
       |$unions""".stripMargin
  }

  /** DuckDB twin of [[labelPropagation]]: identical canonicalization,
    * identical synchronous rounds unrolled as MATERIALIZED CTEs (each
    * round re-reads its predecessor; inlining would re-expand the tree),
    * identical (count desc, label asc) argmax. */
  def labelPropagationSql(edgesCte: String, iters: Int): String = {
    val steps = (1 to iters).map { i =>
      val p = s"lab${i - 1}"
      s"""lab$i AS MATERIALIZED (
         |  SELECT n, lbl FROM (
         |    SELECT e.n, l.lbl,
         |      row_number() OVER (PARTITION BY e.n
         |        ORDER BY count(*) DESC, l.lbl ASC) AS r
         |    FROM sym e JOIN $p l ON e.m = l.n
         |    GROUP BY e.n, l.lbl) WHERE r = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH e00 AS ($edgesCte),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT LEAST(a, b) AS a, GREATEST(a, b) AS b
       |  FROM e00 WHERE a <> b),
       |sym AS MATERIALIZED (
       |  SELECT a AS n, b AS m FROM e0 UNION ALL SELECT b, a FROM e0),
       |lab0 AS MATERIALIZED (SELECT DISTINCT n, n AS lbl FROM sym),
       |$steps
       |SELECT n AS node, lbl AS label FROM lab$iters""".stripMargin
  }
}
