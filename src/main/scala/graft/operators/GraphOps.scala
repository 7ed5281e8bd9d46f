package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Iterative graph analytics with EXACT fixed-point arithmetic.
 *
 * The reproducibility problem: PageRank's per-node contribution sum is a
 * floating add whose order changes with partitioning, so two runs of the
 * textbook double-based loop differ in the last ulps — unacceptable for a
 * gated engine. Here rank is an INTEGER in units of 1e-9 (UNIT = 1e9):
 * contributions are integer division (truncation is part of the
 * definition), sums are exact longs, and the result is bit-identical on
 * any engine, any partitioning, any iteration schedule.
 *
 * Shape at scale: out-degrees computed once; each iteration is one
 * contributions shuffle keyed on dst + a left join back onto the node
 * set (isolated/dangling-target nodes keep receiving the teleport mass).
 * Driver holds NOTHING but the loop counter — state lives in DataFrames,
 * and `iters` is small and fixed (rank converges geometrically).
 * Dangling-node mass is dropped, the classic simplification — documented
 * so the oracle replays the same contract.
 *
 * Reference anchor: none; extension family (same rationale as q67's
 * connected components, `pipeline/Dedup.scala`).
 */
object GraphOps {

  val Unit9: Long = 1000000000L

  /** Byte budget for the driver-local regime of every two-regime
    * operator here (and [[graft.pipeline.Dedup.connectedComponents]]).
    * 512 MB: generous on the 8g test driver, safe on a 4g production
    * one. */
  val MaxLocalBytes: Long = 512L * 1024 * 1024

  /** Byte-aware driver-regime gate — the two-regime cutover's SECOND
    * condition. A row count alone is a heap hazard: 1M short-id edges
    * collect to ~100–200 MB of JVM objects, but the SAME count with
    * long URL ids is a driver OOM. The estimate charges actual key
    * chars (2 bytes/char) plus a conservative 48-byte per-key JVM
    * overhead (String header + value array header + tuple slot), probed
    * in ONE agg over the (cached) relation. Regime choice never affects
    * results — both paths are bit-identical by construction,
    * spec-pinned — so this gate only trades scheduling overhead against
    * driver heap safety. The same job counts the relation, returned as
    * `edges` so no caller pays a second `count()`. */
  private[graft] def fitsLocal(e: DataFrame, maxLocalEdges: Long,
      keyCols: Seq[String] = Seq("src", "dst"),
      maxBytes: Long = MaxLocalBytes): LocalFit = {
    val probe = e.agg(count(lit(1)),
      keyCols.map(c => coalesce(sum(length(col(c).cast("string"))
        .cast("long")), lit(0L))).reduce(_ + _)).head()
    val n = probe.getLong(0)
    val bytes = probe.getLong(1) * 2L + n * keyCols.size * 48L
    LocalFit(n <= maxLocalEdges && bytes <= maxBytes, n)
  }

  /** [[fitsLocal]]'s verdict: `ok` picks the driver regime; `edges` is
    * the relation's row count. */
  private[graft] case class LocalFit(ok: Boolean, edges: Long)

  // ---- the graph kernel: every operator below is built from these ----

  /** Directed (src, dst) string edges with both ends non-null — the one
    * place ids are cast. `extra` columns ride along; duplicates are kept
    * (callers pick `distinct` and the materialization). */
  private def directed(edges: DataFrame, dropLoops: Boolean = false,
      extra: Seq[Column] = Nil): DataFrame = {
    val e = edges.select(Seq(col("src").cast("string").as("src"),
      col("dst").cast("string").as("dst")) ++ extra: _*)
    val ends = col("src").isNotNull && col("dst").isNotNull
    e.where(if (dropLoops) ends && col("src") =!= col("dst") else ends)
  }

  /** Both directions of every edge, deduplicated: the undirected graph as
    * a directed relation (deg(v) = its out-rows). Self-loops dropped
    * unless `dropLoops = false`. */
  private def symmetric(edges: DataFrame, dropLoops: Boolean = true): DataFrame = {
    val d = directed(edges, dropLoops)
    d.unionByName(d.select(col("dst").as("src"), col("src").as("dst"))).distinct()
  }

  /** Canonical undirected edges (a = least, b = greatest), each edge once,
    * self-loops dropped. */
  private def undirected(edges: DataFrame): DataFrame =
    directed(edges, dropLoops = true)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()

  /** Every id on either side of a (src, dst) relation, once. */
  private def nodesOf(e: DataFrame): DataFrame =
    e.select(col("src").as("node")).union(e.select(col("dst").as("node"))).distinct()

  /** `require` that first releases the operator's cached relations: a
    * refusal must not leave them behind for the rest of the session. */
  private def refuseUnless(cond: Boolean, held: DataFrame*)(msg: => String): Unit = {
    if (!cond) held.foreach(_.unpersist(false))
    require(cond, msg)
  }

  /** The driver-side graph of a collected (src, dst) edge list: sorted
    * node names (plus `extraNodes`), their index, the edge endpoints as
    * int arrays and the out-adjacency (newest edge first). */
  private final class LocalGraph(es: Array[(String, String)],
      extraNodes: Seq[String] = Nil) {
    val nodes: Array[String] =
      (es.map(_._1) ++ es.map(_._2) ++ extraNodes).distinct.sorted
    val n: Int = nodes.length
    val m: Int = es.length
    private val idx = new java.util.HashMap[String, Int](n * 2)
    nodes.indices.foreach(i => idx.put(nodes(i), i))
    val srcI: Array[Int] = es.map(e => idx.get(e._1): Int)
    val dstI: Array[Int] = es.map(e => idx.get(e._2): Int)
    def indexOf(name: String): Option[Int] =
      if (idx.containsKey(name)) Some(idx.get(name)) else None
    lazy val adj: Array[List[Int]] = {
      val a = Array.fill(n)(List.empty[Int])
      var k = 0
      while (k < m) { a(srcI(k)) = dstI(k) :: a(srcI(k)); k += 1 }
      a
    }
    def toDF(spark: SparkSession, values: Array[Long], name: String): DataFrame = {
      import spark.implicits._
      nodes.indices.map(i => (nodes(i), values(i))).toDF("node", name)
    }
  }

  /** Collects the cached (src, dst) relation `e` into a [[LocalGraph]]
    * and releases `e`. */
  private def collectGraph(e: DataFrame): LocalGraph = {
    val es = e.select("src", "dst").collect().map(r => (r.getString(0), r.getString(1)))
    e.unpersist(false)
    new LocalGraph(es)
  }

  /** The one exact PageRank, over a cached (src, dst, w) relation:
    *
    *   contrib(s→d) = (rank_s · 85 · w_sd) div (100 · Σ_out w_s)
    *
    * (w ≡ 1 is exactly `(rank·85) div (100·deg)`). With no `seeds` every
    * node starts at 1e9 units and receives the 15% teleport; with seeds
    * both masses split evenly over the seeds only, and the seeds join the
    * node set. Two regimes, identical integer arithmetic. */
  private def pageRank(e: DataFrame, iters: Int, maxLocalEdges: Long,
      seeds: Seq[String] = Nil): DataFrame = {
    val spark = e.sparkSession
    val seedSet = seeds.toSet
    val share = seedSet.size max 1
    val initU = Unit9 / share
    val teleportU = Unit9 * 15L / 100L / share
    def isSeed(n: String): Boolean = seedSet.isEmpty || seedSet(n)
    if (fitsLocal(e, maxLocalEdges).ok) {
      val rows = e.collect()
      e.unpersist(false)
      val g = new LocalGraph(rows.map(r => (r.getString(0), r.getString(1))), seeds)
      val w = rows.map(_.getLong(2))
      val wOut = new Array[Long](g.n)
      (0 until g.m).foreach(k => wOut(g.srcI(k)) += w(k))
      val tele = g.nodes.map(v => if (isSeed(v)) teleportU else 0L)
      var rank = g.nodes.map(v => if (isSeed(v)) initU else 0L)
      for (_ <- 1 to iters) {
        // long truncating division IS the definition (both regimes)
        val inflow = new Array[Long](g.n)
        var k = 0
        while (k < g.m) {
          val s = g.srcI(k)
          inflow(g.dstI(k)) += (rank(s) * 85L * w(k)) / (100L * wOut(s))
          k += 1
        }
        rank = Array.tabulate(g.n)(i => tele(i) + inflow(i))
      }
      g.toDF(spark, rank, "rank_units")
    } else {
      import spark.implicits._
      val seedDf = seeds.distinct.toDF("node").withColumn("__seed", lit(1))
      val nodes = (if (seeds.isEmpty) nodesOf(e)
        else nodesOf(e).union(seedDf.select("node")).distinct()
          .join(broadcast(seedDf), Seq("node"), "left")).cache()
      val seedCol = if (seeds.isEmpty) lit(true) else col("__seed") === 1
      def perNode(u: Long): Column = when(seedCol, lit(u)).otherwise(lit(0L))
      val outW = e.groupBy(col("src")).agg(sum(col("w")).as("ws")).cache()
      var rank = nodes.select(col("node"), perNode(initU).as("rank_units"))
      for (i <- 1 to iters) {
        val contribs = e
          .join(rank.withColumnRenamed("node", "src"), "src")
          .join(outW, "src")
          // integer fixed-point: rank*85*w exact in long, `div` truncates
          // BY DEFINITION (long `/` would go double)
          .selectExpr("dst as node", "(rank_units * 85 * w) div (100 * ws) as c")
          .groupBy(col("node")).agg(sum(col("c")).as("inflow"))
        rank = nodes.join(contribs, Seq("node"), "left")
          .select(col("node"),
            (perNode(teleportU) + coalesce(col("inflow"), lit(0L))).as("rank_units"))
        // truncate lineage EVERY iteration: otherwise iterate i carries i
        // chained join/agg rounds through analysis+optimization (quadratic
        // planner work) and, uncached, re-executes them. localCheckpoint
        // materializes the iterate; exact longs make the cut loss-free. On
        // an unreliable cluster swap for reliable checkpoint(dir) — the
        // iterate is O(|V|) either way.
        if (i < iters) rank = rank.localCheckpoint(true)
      }
      rank
    }
  }

  /** Score units of the power iterations ([[hits]], eigenvector, Katz). */
  private val Unit6: Long = 1000000L

  /** One driver propagate step: out(to(j)) += x(from(j)) over every edge. */
  private def propagate(x: Array[Long], from: Array[Int], to: Array[Int]): Array[Long] = {
    val out = new Array[Long](x.length)
    var j = 0
    while (j < from.length) { out(to(j)) += x(from(j)); j += 1 }
    out
  }

  /** L1-normalize to Unit6 total mass in place (truncating div); an
    * all-zero vector stays zero. */
  private def normalize(a: Array[Long]): Array[Long] = {
    val t = a.sum
    if (t != 0L) { var i = 0; while (i < a.length) { a(i) = a(i) * Unit6 / t; i += 1 } }
    a
  }

  /** One distributed propagate step over the cached (src, dst) relation
    * `e`: (node, s = Σ x.s over the edges `from` → `to`) for every node
    * that receives mass. */
  private def propagate(e: DataFrame, x: DataFrame, from: String, to: String): DataFrame =
    e.join(x.withColumnRenamed("node", from), from)
      .groupBy(col(to).as("node")).agg(sum(col("s")).as("s"))

  /** A propagated `raw` on every node of `nodes` (0 where none flowed in). */
  private def onNodes(nodes: DataFrame, raw: DataFrame): DataFrame =
    nodes.join(raw, Seq("node"), "left")
      .select(col("node"), coalesce(col("s"), lit(0L)).as("s"))

  /** [[normalize]] as a plan: `raw`'s total, broadcast back. */
  private def normalize(nodes: DataFrame, raw: DataFrame): DataFrame =
    onNodes(nodes, raw).crossJoin(broadcast(raw.agg(sum(col("s")).as("t"))))
      .selectExpr("node",
        "CASE WHEN t = 0 OR t IS NULL THEN s ELSE (s * 1000000) div t END as s")

  /** Power iteration x ← finish(A·x) from x = Unit6 everywhere, `iters`
    * rounds over the cached symmetric relation `e`. `finishL` and
    * `finishD` are the same per-round step for the driver and the
    * distributed regime (the latter gets the nodes and the raw inflow).
    * Output: (node, score_units), ordered by node. */
  private def power(e: DataFrame, iters: Int, local: Boolean,
      finishL: Array[Long] => Array[Long],
      finishD: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    if (local) {
      val g = collectGraph(e)
      var x = Array.fill(g.n)(Unit6)
      for (_ <- 1 to iters) x = finishL(propagate(x, g.srcI, g.dstI))
      g.toDF(e.sparkSession, x, "score_units").orderBy("node")
    } else {
      val nodes = nodesOf(e).cache()
      var x = nodes.withColumn("s", lit(Unit6))
      for (_ <- 1 to iters)
        x = finishD(nodes, propagate(e, x, "src", "dst")).localCheckpoint(true)
      nodes.unpersist(false); e.unpersist(false) // x no longer reads them
      x.select(col("node"), col("s").as("score_units")).orderBy("node")
    }
  }

  /** Hop distances on the driver: `visit(s, t, d)` for every pair
    * s → t ≠ s reachable within `maxHops` (d ≥ 1), per source of
    * `sources` in turn, t in index order. */
  private def hopsLocal(g: LocalGraph, maxHops: Int,
      sources: Iterable[Int])(visit: (Int, Int, Int) => Unit): Unit = {
    val dist = new Array[Int](g.n)
    val queue = new Array[Int](g.n)
    for (s0 <- sources) {
      java.util.Arrays.fill(dist, -1)
      dist(s0) = 0; queue(0) = s0
      var head = 0; var tail = 1
      while (head < tail) {
        val u = queue(head); head += 1
        val du = dist(u)
        if (du < maxHops) g.adj(u).foreach { w =>
          if (dist(w) < 0) { dist(w) = du + 1; queue(tail) = w; tail += 1 }
        }
      }
      var i = 0
      while (i < g.n) { if (i != s0 && dist(i) > 0) visit(s0, i, dist(i)); i += 1 }
    }
  }

  /** All-sources hop distances, distributed: (src, node, d) per ordered
    * reachable pair of the cached symmetric relation `e`. Each round
    * relaxes d via min(d, neighbor + 1), with a lineage cut, until a
    * round adds no pair or `maxHops` is reached. */
  private def hopsDist(e: DataFrame, maxHops: Int): DataFrame = {
    var dist = e.select(col("src"), col("dst").as("node"), lit(1L).as("d"))
      .distinct().localCheckpoint(true)
    var round = 1
    var grew = true
    while (grew && round < maxHops) {
      val next = dist.join(e.withColumnRenamed("src", "node"), "node")
        .select(col("src"), col("dst").as("node"), (col("d") + 1L).as("d"))
        .where(col("src") =!= col("node"))
        .unionByName(dist)
        .groupBy(col("src"), col("node")).agg(min(col("d")).as("d"))
        .localCheckpoint(true)
      grew = next.count() > dist.count()
      dist = next
      round += 1
    }
    dist
  }

  /** The wedge-join hub contract's refusal message. */
  private def hubRefusal(op: String, worstDeg: Long, maxDegree: Long): String =
    s"$op: max node degree $worstDeg > maxDegree=$maxDegree — the wedge " +
      "join is Sum(deg^2); degree-cap-prefilter the edge list or raise the bound"

  /** The link-prediction scaffold over the symmetrized graph: refuse a
    * hub past `maxDegree`, then aggregate every common-neighbor wedge
    * (z; u < w) per NON-adjacent pair — `n_common` plus `agg` over the
    * wedge's (z, deg) — and let `rank` cut the candidates (given the
    * degrees (z, deg)) to a bounded result, checkpointed before the
    * cached relation is released. */
  private def linkScores(edges: DataFrame, maxDegree: Long, op: String, agg: Column)(
      rank: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    // cache: the symmetrize+dedup shuffle feeds the degree probe, the
    // degree join, both wedge sides, and the adjacency anti-join
    val sym = symmetric(edges).cache()
    val deg = sym.groupBy(col("src").as("z")).agg(count(lit(1)).as("deg"))
    val worstDeg = deg.agg(coalesce(max(col("deg")), lit(0L))).head().getLong(0)
    refuseUnless(worstDeg <= maxDegree, sym)(hubRefusal(op, worstDeg, maxDegree))
    val nbr = sym.select(col("src").as("z"), col("dst").as("n"))
    val wedges = nbr.select(col("z"), col("n").as("u"))
      .join(nbr.select(col("z"), col("n").as("w")), "z")
      .where(col("u") < col("w"))
    val canon = sym.where(col("src") < col("dst"))
      .select(col("src").as("u"), col("dst").as("w"))
    val cand = wedges.join(deg, "z")
      .groupBy(col("u"), col("w"))
      .agg(count(lit(1)).as("n_common"), agg)
      .join(canon, Seq("u", "w"), "left_anti")
    val out = rank(cand, deg).localCheckpoint(true) // bounded — then free sym
    sym.unpersist(false)
    out
  }

  /**
   * PageRank over directed `edges` (src, dst) with damping 85/100,
   * `iters` fixed-point iterations. Nodes = every id appearing on either
   * side. Output: (node, rank_units) — rank in 1e-9 units, exact.
   *
   * Two-regime execution, the q67 connected-components discipline
   * (`pipeline/Dedup.scala`): analytics graphs are usually built by a
   * support threshold over a huge fact table — the DERIVATION is the
   * 100 TB part, the surviving graph is often thousands of edges. Below
   * `maxLocalEdges` the loop runs on the driver over the collected edge
   * list (identical integer arithmetic, so bit-identical output) instead
   * of paying ~6 shuffle stages × iters of scheduling for kilobyte
   * relations; above the EXPLICIT cutover it stays fully distributed
   * with per-iteration lineage cuts.
   */
  def pageRankFixed(edges: DataFrame, iters: Int = 5,
      maxLocalEdges: Long = 1000000L): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters in [1,50]: $iters")
    // referenced by the count probe and (either regime) the loop — cache
    // so the possibly-join-shaped edge derivation runs once
    pageRank(directed(edges).distinct().withColumn("w", lit(1L)).cache(),
      iters, maxLocalEdges)
  }

  /**
   * PERSONALIZED PageRank (topic-sensitive restart, Haveliwala 2002):
   * teleport mass lands only on the `seeds` — rank becomes "importance
   * relative to THIS seed set", the standard related-items /
   * recommendation walk. Init mass splits the usual 1e9 units over the
   * seeds (integer div; remainder documented-dropped, same family as
   * the dangling-mass contract); non-seed nodes receive only inflow.
   * Same exact fixed-point + two-regime doctrine as [[pageRankFixed]].
   */
  def pageRankPersonalized(edges: DataFrame, seeds: Seq[String],
      iters: Int = 5, maxLocalEdges: Long = 1000000L): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters in [1,50]: $iters")
    require(seeds.nonEmpty, "at least one seed")
    pageRank(directed(edges).distinct().withColumn("w", lit(1L)).cache(),
      iters, maxLocalEdges, seeds)
  }

  /**
   * Edge-WEIGHTED PageRank — contribution mass proportional to edge
   * weight (e.g. co-occurrence support), the variant that stops a
   * thousand weak ties from outvoting one strong one:
   *
   *   contrib(s→d) = (rank_s · 85 · w_sd) div (100 · Σ_out w_s)
   *
   * Same exact fixed-point doctrine and two-regime execution as
   * [[pageRankFixed]]; weights must be positive longs. Overflow bound:
   * rank_s·85·w must stay < 2^63 — with rank ≤ |V|·1e9 that is
   * |V|·w_max < 1.08e8 (scale weights down first if a graph exceeds it;
   * the ratio, not the magnitude, carries the signal).
   */
  def pageRankWeighted(edges: DataFrame, iters: Int = 5,
      maxLocalEdges: Long = 1000000L): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters in [1,50]: $iters")
    // no dedup: parallel edges add their weights
    pageRank(directed(edges, extra = Seq(col("w").cast("long").as("w")))
      .where(col("w") > 0).cache(), iters, maxLocalEdges)
  }

  /**
   * HITS hubs & authorities (Kleinberg 1999) in exact integer
   * arithmetic: on a directed (often bipartite) graph, a good hub points
   * at good authorities and vice versa — the customer↔item dual ranking
   * PageRank's single score conflates. Each half-step sums the opposite
   * score over the edges and SUM-normalizes to Unit6 = 1e6 total mass
   * (integer ·1e6 div Σ — truncation is the published contract), so the
   * iteration is bit-deterministic with no float norm in sight.
   * Overflow bound: per-node raw ≤ deg·1e6, and raw·1e6 must stay
   * < 2^63 → |E| < 9.2e6 under the LOUD require; beyond that, shard the
   * graph or scale Unit6 down (the ratio carries the signal).
   *
   * Two-regime like [[pageRankFixed]], with the q67 connected-components
   * cutover (4M edges driver-local — the exact-integer bound already
   * caps the domain at 9.2M, so the local loop covers most of it; the
   * distributed branch remains for driver-memory-bound node-id sets).
   * Output: (node, role 'hub'|'authority', score_units) for every node,
   * zeros included.
   */
  def hits(edges: DataFrame, iters: Int = 5,
      maxLocalEdges: Long = 4000000L): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters in [1,50]: $iters")
    val e = directed(edges).distinct().cache()
    val fit = fitsLocal(e, maxLocalEdges)
    refuseUnless(fit.edges < 9200000L, e)(
      s"hits: ${fit.edges} edges exceeds the exact-integer bound — shard or rescale")
    val spark = edges.sparkSession
    if (fit.ok) {
      // millions of edges × iters: primitive arrays over the indexed
      // graph — boxed-map lookups here cost more than the distributed
      // branch's shuffles
      val g = collectGraph(e)
      var hub = Array.fill(g.n)(Unit6)
      var auth = new Array[Long](g.n)
      for (_ <- 1 to iters) {
        auth = normalize(propagate(hub, g.srcI, g.dstI))
        hub = normalize(propagate(auth, g.dstI, g.srcI))
      }
      import spark.implicits._
      (g.nodes.indices.map(i => (g.nodes(i), "hub", hub(i))) ++
        g.nodes.indices.map(i => (g.nodes(i), "authority", auth(i))))
        .toDF("node", "role", "score_units")
    } else {
      val nodes = nodesOf(e).cache()
      var hub = nodes.withColumn("s", lit(Unit6))
      var auth = nodes.withColumn("s", lit(0L))
      for (_ <- 1 to iters) {
        auth = normalize(nodes, propagate(e, hub, "src", "dst")).localCheckpoint(true)
        hub = normalize(nodes, propagate(e, auth, "dst", "src")).localCheckpoint(true)
      }
      nodes.unpersist(false); e.unpersist(false) // hub/auth no longer read them
      hub.selectExpr("node", "'hub' as role", "s as score_units")
        .unionByName(auth.selectExpr("node", "'authority' as role", "s as score_units"))
    }
  }

  /**
   * Single-source shortest HOP distances by frontier expansion (BFS as
   * iterated joins — the textbook distributed formulation): each round
   * relaxes dist via min(dist, neighbor dist + 1); `maxHops` bounds the
   * rounds, so unreached nodes within the bound are absent. All-integer
   * (hop counts), hence bit-deterministic; static relations cached once
   * (the [[pageRankFixed]] discipline).
   */
  def bfsHops(edges: DataFrame, source: String, maxHops: Int = 5,
      maxLocalEdges: Long = 1000000L): DataFrame = {
    require(maxHops >= 1 && maxHops <= 30, s"maxHops in [1,30]: $maxHops")
    val e = directed(edges).distinct().cache()
    // same two-regime cutover as pageRankFixed: a thresholded analytics
    // graph is usually tiny next to its derivation — BFS over the
    // collected adjacency is the plan you'd pick on a real cluster too
    if (fitsLocal(e, maxLocalEdges).ok) {
      val g = collectGraph(e)
      val dist = Seq.newBuilder[(String, Long)] += ((source, 0L))
      hopsLocal(g, maxHops, g.indexOf(source))((_, t, d) =>
        dist += ((g.nodes(t), d.toLong)))
      val spark = edges.sparkSession
      import spark.implicits._
      dist.result().toDF("node", "d")
    } else {
      var dist = e.sparkSession.range(1)
        .select(lit(source).as("node"), lit(0L).as("d"))
      for (h <- 1 to maxHops) {
        val relaxed = e.join(dist.withColumnRenamed("node", "src"), "src")
          .select(col("dst").as("node"), (col("d") + 1L).as("d"))
        dist = dist.unionByName(relaxed)
          .groupBy(col("node")).agg(min(col("d")).as("d"))
        // same lineage cut as pageRankFixed: without it round h replans and
        // re-runs all h-1 prior frontier expansions
        if (h < maxHops) dist = dist.localCheckpoint(true)
      }
      dist
    }
  }

  /**
   * Graph diameter estimate by DOUBLE BFS (the 2-sweep lower bound,
   * Magnien et al. 2009): BFS from the deterministic md5-min node to
   * its farthest reachable node u, then BFS from u — u's eccentricity
   * is the classic tight lower bound on the true diameter (exact on
   * trees), at the cost of TWO sweeps instead of |V|. Undirected: edges
   * are symmetrized like [[landmarkCloseness]]. Ties at "farthest"
   * break by node id — a total order both engines share. `maxHops`
   * caps each sweep (a hit at the cap means the bound is "≥ maxHops",
   * visible in the output).
   *
   * Output: one row (start_node, ecc_start, peripheral_node,
   * diameter_lb, n_reached_start, n_reached_peripheral).
   */
  def diameterEstimate(edges: DataFrame, maxHops: Int = 16): DataFrame = {
    // materialize the (possibly expensive) edge derivation ONCE — the
    // start pick and BOTH sweeps reuse it (the landmarkCloseness lesson)
    val sym = symmetric(edges, dropLoops = false).localCheckpoint(true)
    val start = sym.select(col("src").as("node")).distinct()
      .orderBy(md5(col("node")), col("node")).limit(1)
      .head().getString(0)
    val d1 = bfsHops(sym, start, maxHops)
    val s1 = d1.orderBy(col("d").desc, col("node").asc).limit(1).head()
    val (peripheral, ecc) = (s1.getString(0), s1.getLong(1))
    val n1 = d1.count()
    val d2 = bfsHops(sym, peripheral, maxHops)
    val s2 = d2.agg(max(col("d")).as("m"), count(lit(1)).as("n")).head()
    val spark = edges.sparkSession
    import spark.implicits._
    Seq((start, ecc, peripheral, s2.getLong(0), n1, s2.getLong(1)))
      .toDF("start_node", "ecc_start", "peripheral_node", "diameter_lb",
        "n_reached_start", "n_reached_peripheral")
  }

  /**
   * Landmark (pivot) closeness centrality — exact all-pairs closeness
   * needs a BFS per node; the standard scale fallback (Potamias et al.
   * 2009) picks L landmarks and scores every node by its distances to
   * the landmark set. Landmarks are the L nodes with the smallest md5
   * hex of their id (the oracle-hash family: deterministic, engine-
   * replayable); distances come from L [[bfsHops]] frontier expansions
   * (two-regime like everything else in this file). Published per node
   * over its REACHED landmarks: n_reached, sum_dist (exact integers),
   * harmonic = Σ_{d>0} 1/d with terms round(1/d, 12) DECIMAL-summed
   * (the Σ doctrine), 6dp — the landmark's own d=0 row counts toward
   * n_reached/sum_dist and contributes nothing to harmonic. Nodes no
   * landmark reaches within `maxHops` are absent, loudly visible in
   * n_reached < L for everyone near them.
   */
  def landmarkCloseness(edges: DataFrame, nLandmarks: Int = 4,
      maxHops: Int = 6, maxLocalEdges: Long = 1000000L): DataFrame = {
    require(nLandmarks >= 1 && nLandmarks <= 16, "nLandmarks in [1,16]")
    // materialize the (possibly expensive) edge derivation ONCE — the
    // landmark pick and all L BFS expansions reuse it (without this the
    // upstream graph build re-runs per landmark, L+1 times)
    val e = directed(edges).distinct().localCheckpoint(true)
    val lms = nodesOf(e).withColumn("__h", md5(col("node")))
      .orderBy(col("__h"), col("node")).limit(nLandmarks)
      .collect().map(_.getString(0)) // ≤ nLandmarks rows
    require(lms.nonEmpty, "landmarkCloseness needs at least one node")
    val per = lms.map(l => bfsHops(e, l, maxHops, maxLocalEdges))
      .reduce(_ unionByName _)
    per.groupBy(col("node")).agg(
        count(lit(1)).as("n_reached"),
        sum(col("d")).as("sum_dist"),
        sum(when(col("d") > 0, round(lit(1.0) / col("d").cast("double"), 12))
          .cast("decimal(38,12)")).as("__h"))
      .select(col("node"), col("n_reached"), col("sum_dist"),
        round(coalesce(col("__h"), lit(0).cast("decimal(38,12)"))
          .cast("double"), 6).as("harmonic"))
  }

  /**
   * Triangle counting over an UNDIRECTED graph given as canonical edges
   * (a < b): each triangle {x<y<z} is counted once via the ordered
   * three-join. Per-node counts follow by exploding the triangle's three
   * corners. Shuffles are edge-keyed; the heavy step is the wedge join,
   * bounded by Σ deg² — the standard bound, mitigated upstream by support
   * thresholds on how `edges` is built. `maxDegree` is the hub contract
   * (house style: containmentPairs.maxPosting, kCore.maxLocalEdges): one
   * 10⁶-degree hub manufactures ~10¹² wedges, so a graph whose max degree
   * exceeds the bound REFUSES loudly — cap-prefilter or raise the bound
   * deliberately rather than silently paying quadratic hub cost.
   */
  def triangles(edges: DataFrame, maxDegree: Long = 100000L): DataFrame = {
    require(maxDegree >= 1, "maxDegree >= 1")
    // cache: the dedup shuffle feeds the probe + three wedge-join scans
    val e = directed(edges).where(col("src") < col("dst")).toDF("a", "b")
      .distinct().cache()
    val worstDeg = e.select(col("a").as("n")).unionAll(e.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
      .agg(coalesce(max(col("d")), lit(0L))).head().getLong(0)
    refuseUnless(worstDeg <= maxDegree, e)(hubRefusal("triangles", worstDeg, maxDegree))
    val wedges = e.select(col("a").as("x"), col("b").as("y"))
      .join(e.select(col("a").as("y"), col("b").as("z")), "y")
    val out = wedges.join(e.select(col("a").as("x"), col("b").as("z")), Seq("x", "z"))
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
      .localCheckpoint(true) // |nodes|-bounded — materialize, then free e
    e.unpersist(false)
    out
  }

  /**
   * Adamic–Adar link prediction: score NON-adjacent pairs by their
   * common neighbors, weighting rare neighbors up —
   * AA(u,w) = Σ_{z ∈ N(u)∩N(w)} 1/ln(deg z) (Adamic & Adar 2003), the
   * standard "who should be connected next" baseline for co-occurrence
   * and citation graphs. Edges are symmetrized + deduped, self-loops
   * dropped; candidates come from one wedge join through each z
   * (u < w canonicalizes — each common neighbor contributes once), the
   * same Σ deg² cost class as [[triangles]]; existing edges leave by an
   * anti-join. A common neighbor has deg ≥ 2 so ln(deg) ≥ ln 2 — terms
   * are finite, 12dp-rounded and DECIMAL-summed (the Σ doctrine), the
   * ORDER runs on the exact decimal score before the one double cast.
   * Output: top `topK` rows (node_a, node_b, n_common, score) by
   * (score desc, node_a, node_b) — bounded, TakeOrdered-friendly.
   * `maxDegree` is the hub contract shared with [[triangles]]: the wedge
   * join through z emits deg(z)²/2 candidate pairs, so one 10⁶-degree hub
   * is ~10¹² pairs; a hub past the bound throws rather than silently
   * exploding — cap-prefilter (drop z with deg > cap, an explicit recall
   * trade) or raise the bound deliberately.
   */
  def adamicAdar(edges: DataFrame, topK: Int = 50,
      maxDegree: Long = 100000L): DataFrame = {
    require(topK >= 1, "topK >= 1")
    require(maxDegree >= 2, "maxDegree >= 2")
    linkScores(edges, maxDegree, "adamicAdar",
        sum(round(lit(1.0) / log(col("deg").cast("double")), 12)
          .cast("decimal(24,12)")).as("__s")) { (cand, _) =>
      cand.orderBy(col("__s").desc, col("u").asc, col("w").asc)
        .limit(topK)
        .select(col("u").as("node_a"), col("w").as("node_b"), col("n_common"),
          round(col("__s").cast("double"), 6).as("score"))
    }
  }

  /**
   * SYNCHRONOUS label-propagation community detection (Raghavan et al.
   * 2007, determinized): labels start as the node's own id; each of
   * `iters` rounds every node adopts the most frequent label among its
   * NEIGHBORS, ties broken by the lexicographically smallest label —
   * a total order, so the result is a pure function of the edge set
   * (no RNG, no visit-order dependence, reproducible across engines
   * and partitionings). Fixed iteration count rather than
   * convergence-detection: the gate contract is "the label field after
   * exactly k rounds", bit-stable by construction.
   *
   * Unlike connected components (q67), LPA splits a connected graph
   * along density: a bridge edge between two dense clusters cannot
   * out-vote either side's internal majority.
   *
   * Shape per round: one join of the O(|V|) label iterate onto the
   * symmetrized edge list, one (node, label) count aggregation, one
   * per-node window argmax — all partitioned by node, O(|E|) rows
   * moved, no wedge term. Two-regime like [[pageRankFixed]]: below
   * `maxLocalEdges` the identical integer/string arithmetic runs on
   * the collected edge list; above it stays distributed with
   * per-round lineage cuts.
   *
   * Output: (node, label) for every node, plus community sizes are one
   * groupBy away. Ordered by node.
   */
  def labelPropagation(edges: DataFrame, iters: Int = 3,
      maxLocalEdges: Long = 1000000L): DataFrame = {
    require(iters >= 1 && iters <= 20, s"iters in [1,20]: $iters")
    val sym = symmetric(edges).cache()
    if (fitsLocal(sym, maxLocalEdges).ok) {
      val g = collectGraph(sym)
      // a label is the index of the node it names: nodes are sorted, so
      // index order IS label order
      var lab = Array.tabulate(g.n)(identity)
      for (_ <- 1 to iters) {
        // votes(dst) = multiset of neighbor labels; argmax by (count
        // desc, label asc) — same total order as the window branch
        val votes = Array.fill(g.n)(scala.collection.mutable.Map.empty[Int, Long])
        (0 until g.m).foreach { k =>
          val m = votes(g.dstI(k)); val l = lab(g.srcI(k))
          m(l) = m.getOrElse(l, 0L) + 1L
        }
        // symmetrized: every node has >= 1 neighbor
        lab = votes.map(_.minBy { case (l, c) => (-c, l) }._1)
      }
      val spark = edges.sparkSession
      import spark.implicits._
      g.nodes.indices.map(i => (g.nodes(i), g.nodes(lab(i)))).toDF("node", "label")
        .orderBy(col("node"))
    } else {
      val nodes = sym.select(col("src").as("node")).distinct().cache()
      var lab = nodes.withColumn("label", col("node"))
      val byVotes = Window.partitionBy(col("node"))
        .orderBy(col("__c").desc, col("label").asc)
      for (i <- 1 to iters) {
        val votes = sym
          .join(lab.withColumnRenamed("node", "src"), "src")
          .groupBy(col("dst").as("node"), col("label"))
          .agg(count(lit(1)).as("__c"))
        lab = votes
          .withColumn("__rk", row_number().over(byVotes))
          .where(col("__rk") === 1)
          .select(col("node"), col("label"))
        if (i < iters) lab = lab.localCheckpoint(true)
      }
      val out = lab.orderBy(col("node")).localCheckpoint(true)
      nodes.unpersist(false); sym.unpersist(false)
      out
    }
  }

  /**
   * Local clustering coefficient per node — "how close is this node's
   * neighborhood to a clique", the standard community-structure /
   * spam-farm probe [[triangles]] alone can't read (a hub in 1000
   * triangles with degree 1000 is NOT clustered): for deg(v) ≥ 2,
   *
   *   cc(v) = 2·T(v) / (deg(v)·(deg(v)−1))
   *
   * with T(v) from [[triangles]] (same canonical a<b edge contract, same
   * `maxDegree` hub guard — one probe guards both passes) and deg(v)
   * one count over the two edge endpoints. ONE double divide of exact
   * longs, 6dp. Output: (node, degree, n_triangles, cc) for deg ≥ 2
   * nodes, ordered by node; triangle-free nodes publish cc = 0.
   */
  def clusteringCoefficient(edges: DataFrame,
      maxDegree: Long = 100000L): DataFrame = {
    val e = directed(edges).where(col("src") < col("dst")).toDF("a", "b")
      .distinct().localCheckpoint(true)
    val tri = triangles(e.select(col("a").as("src"), col("b").as("dst")), maxDegree)
    val deg = e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    deg.where(col("degree") >= 2)
      .join(tri, Seq("node"), "left")
      .withColumn("n_triangles", coalesce(col("n_triangles"), lit(0L)))
      .withColumn("cc", round((lit(2L) * col("n_triangles")).cast("double")
        / (col("degree") * (col("degree") - 1L)).cast("double"), 6))
      .orderBy(col("node"))
  }

  /**
   * Degree assortativity (Newman 2002) — the Pearson correlation of
   * endpoint degrees over edges: do hubs attach to hubs (r > 0, social
   * graphs) or to leaves (r < 0, the hub-and-spoke shape of
   * infrastructure and of bot/spam rings)? The one-number topology
   * summary that degree HISTOGRAMS can't see.
   *
   * Input edges are undirected pairs; they are canonicalized,
   * deduplicated, and counted in BOTH directions (the standard
   * symmetrized definition — each edge contributes (deg u, deg v) and
   * (deg v, deg u), making the x/y marginals identical). Moments
   * n·Σxy − Σx·Σy etc. are EXACT DECIMAL(38,0) integer arithmetic over
   * degree products (deg ≤ 10⁶ and directed-edge count ≤ 10¹² stay
   * safely inside 38 digits); the published r takes one double
   * expression. Shape: one degree aggregation + two node-keyed joins
   * onto the edge relation + one moment aggregation — never a
   * node×node relation.
   *
   * Output: one row (n_nodes, m_edges, mean_degree, assortativity);
   * a degree-regular graph (zero variance) publishes NULL r.
   */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val und = undirected(edges).localCheckpoint(true) // feeds degrees AND both joins
    val dirE = und.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(und.select(col("b").as("src"), col("a").as("dst")))
    val deg = dirE.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("degree"))
    def d(c: Column): Column = c.cast("decimal(38,0)")
    val xy = dirE
      .join(deg.select(col("node").as("src"), col("degree").as("dx")), "src")
      .join(deg.select(col("node").as("dst"), col("degree").as("dy")), "dst")
    val m = xy.agg(count(lit(1)).as("m2"),
      sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
      sum(d(col("dx")) * d(col("dy"))).as("sxy"),
      sum(d(col("dx")) * d(col("dx"))).as("sxx"),
      sum(d(col("dy")) * d(col("dy"))).as("syy"))
    val nNodes = deg.count()
    val num = d(col("m2")) * col("sxy") - d(col("sx")) * d(col("sy"))
    val vx = d(col("m2")) * col("sxx") - d(col("sx")) * d(col("sx"))
    val vy = d(col("m2")) * col("syy") - d(col("sy")) * d(col("sy"))
    m.select(lit(nNodes).as("n_nodes"), expr("m2 div 2").as("m_edges"),
      // m2 = Σ deg (each directed edge contributes its src once)
      round(col("m2").cast("double") / lit(nNodes.toDouble), 6)
        .as("mean_degree"),
      when(vx > 0 && vy > 0, round(num.cast("double")
        / (sqrt(vx.cast("double")) * sqrt(vy.cast("double"))), 6))
        .as("assortativity"))
  }

  /**
   * k-core decomposition by iterative peeling (Seidman 1983): the
   * maximal subgraph in which every node keeps degree ≥ k — the
   * standard "dense kernel" filter for link/citation graphs (spam
   * cores, community seeds) that a plain degree cut gets wrong (a
   * high-degree node whose neighbors all vanish must vanish too).
   * Input edges are UNDIRECTED (symmetrized + deduped here; self-loops
   * dropped); each round removes EVERY node currently under degree k
   * simultaneously — batch peeling reaches the same unique fixpoint as
   * sequential. Same two-regime doctrine as [[pageRankFixed]]: under
   * `maxLocalEdges` the peel runs on the collected edge list; above it
   * each round is one degree aggregation + two anti-joins with a
   * lineage cut, and an empty removal set ends the loop. A peel that
   * has not CONVERGED within `maxRounds` throws (the result would be a
   * silent superset); rounds needed is the graph's degeneracy ordering
   * depth — bounded by diameter-like constants on real graphs, O(n) on
   * adversarial paths, hence the explicit bound.
   *
   * Output: (node, degree) for the k-core's nodes with their degree
   * INSIDE the core (all ≥ k); empty when no k-core exists.
   */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 30,
      maxLocalEdges: Long = 1000000L): DataFrame = {
    require(k >= 1 && maxRounds >= 1, "k >= 1, maxRounds >= 1")
    val e0 = symmetric(edges).cache()
    val spark = edges.sparkSession
    import spark.implicits._
    if (fitsLocal(e0, maxLocalEdges).ok) {
      var es = e0.collect().map(r => (r.getString(0), r.getString(1)))
      e0.unpersist(false)
      var converged = false
      var rounds = 0
      while (!converged && rounds < maxRounds) {
        rounds += 1
        val deg = es.groupBy(_._1).view.mapValues(_.length.toLong).toMap
        val bad = deg.collect { case (n, d) if d < k => n }.toSet
        if (bad.isEmpty) converged = true
        else es = es.filter { case (s, d) => !bad.contains(s) && !bad.contains(d) }
      }
      require(converged || es.isEmpty,
        s"kCore: peel not converged after $maxRounds rounds")
      es.groupBy(_._1).view.mapValues(_.length.toLong).toSeq.sortBy(_._1)
        .toDF("node", "degree")
    } else {
      var cur = e0
      var converged = false
      var rounds = 0
      while (!converged && rounds < maxRounds) {
        rounds += 1
        val deg = cur.groupBy(col("src")).agg(count(lit(1)).as("dg"))
        val bad = deg.where(col("dg") < k).select(col("src").as("node")).cache()
        if (bad.isEmpty) converged = true
        else {
          cur = cur
            .join(bad.withColumnRenamed("node", "src"), Seq("src"), "left_anti")
            .join(bad.withColumnRenamed("node", "dst"), Seq("dst"), "left_anti")
            .select("src", "dst")
            .localCheckpoint(true) // cut lineage per round (pageRank doctrine)
          // cur no longer references e0 (lineage cut) — drop the cache now
          // instead of leaking it for the session
          e0.unpersist(false)
        }
        bad.unpersist(false)
      }
      require(converged || cur.isEmpty,
        s"kCore: peel not converged after $maxRounds rounds")
      val out = cur.groupBy(col("src").as("node")).agg(count(lit(1)).as("degree"))
      if (cur eq e0) { // converged on round 1: materialize, then release
        val m = out.localCheckpoint(true); e0.unpersist(false); m
      } else out
    }
  }

  /**
   * Eigenvector centrality by power iteration on the SYMMETRIZED graph
   * (Bonacich 1972): x ← A·x, L1-renormalized to 1e6 units per round —
   * a node is central when its neighbors are central, the recursive
   * upgrade of degree. Exactly the [[hits]] single-vector machinery
   * (HITS on an undirected graph collapses hub = authority = this), kept
   * as its own operator because the undirected symmetrize + single score
   * is what "who is central in the co-occurrence graph" means.
   *
   * Integer fixed point: scores in 1e6 units, inflow sums exact longs
   * (Σ score ≤ 1e6 after each renormalize, so a round's raw sums are
   * ≤ degree·1e6 — no overflow below ~9e12 edges), truncating div IS
   * the normalize definition — bit-identical across regimes and
   * engines. Two-regime like [[pageRankFixed]]: primitive-array loop on
   * the driver below `maxLocalEdges`, distributed with per-round
   * lineage cuts above.
   *
   * Output: (node, score_units) — 1e-6 units of the L1-normalized
   * iterate after exactly `iters` rounds, ordered by node.
   */
  def eigenvectorCentrality(edges: DataFrame, iters: Int = 5,
      maxLocalEdges: Long = 4000000L): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters in [1,50]: $iters")
    val e = symmetric(edges).cache()
    power(e, iters, fitsLocal(e, maxLocalEdges).ok, normalize, normalize)
  }

  /**
   * Katz centrality (Katz 1953) by the attenuated-walk fixed point
   * x ← α·A·x + β·1 on the symmetrized graph: counts walks of EVERY
   * length, each discounted α per hop. The practical difference from
   * [[eigenvectorCentrality]]: the +β injection keeps peripheral and
   * sink-adjacent nodes at nonzero mass (pure power iteration
   * concentrates everything on the dominant component), so sparse
   * regions still rank.
   *
   * Integer fixed point: β = 1e6 units, α = `alphaMicro`/1e6 applied as
   * `(inflow · alphaMicro) div 1e6` — exact longs, truncating div IS
   * the definition, bit-identical across the two regimes and any
   * engine. Convergence needs α < 1/λ_max; with the L∞ bound λ_max ≤
   * max degree the loud `require` below is checkable before any
   * iteration, and `iters` rounds truncate the tail at α^iters.
   *
   * Output: (node, score_units) after exactly `iters` rounds, ordered
   * by node.
   */
  def katzCentrality(edges: DataFrame, alphaMicro: Long = 100000L,
      iters: Int = 5, maxLocalEdges: Long = 4000000L): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters in [1,50]: $iters")
    require(alphaMicro >= 1 && alphaMicro < 1000000L,
      s"alphaMicro in [1, 1e6): $alphaMicro")
    val e = symmetric(edges).cache()
    val maxDeg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .agg(coalesce(max(col("d")), lit(0L))).head().getLong(0)
    refuseUnless(alphaMicro * maxDeg < Unit6, e)(
      s"katzCentrality: alpha=${alphaMicro}e-6 × maxDegree=$maxDeg ≥ 1 — the " +
        "series diverges (need alpha < 1/maxDegree); lower alphaMicro")
    // x ← (A·x · alphaMicro) div 1e6 + β
    power(e, iters, fitsLocal(e, maxLocalEdges).ok,
      _.map(v => v * alphaMicro / Unit6 + Unit6),
      onNodes(_, _).selectExpr("node",
        s"(s * ${alphaMicro}L) div ${Unit6}L + ${Unit6}L as s"))
  }

  /**
   * Link prediction over the symmetrized graph: for every NON-ADJACENT
   * pair with ≥ 1 common neighbor, the three classic wedge scores
   * (Liben-Nowell & Kleinberg 2003) — common-neighbor count, Jaccard
   * |Γu∩Γw| / |Γu∪Γw|, and resource allocation Σ_z 1/deg(z) (Zhou,
   * Lü & Zhang 2009 — RA outperforms Adamic-Adar's 1/log on dense
   * hubs). Same wedge join + `maxDegree` hub contract as [[adamicAdar]]
   * (the join is Σ deg², and a hub would square silently — refuse
   * loudly); anti-join drops existing edges; top-K by (jaccard desc,
   * pair) — TakeOrderedAndProject, never a full sort.
   *
   * Determinism: counts and degrees exact longs; jaccard is ONE double
   * divide of exact operands, 6dp; RA sums 12dp-rounded reciprocals in
   * DECIMAL (the Σ doctrine), published 6dp.
   *
   * Output: (node_a, node_b, n_common, jaccard, ra_score), node_a <
   * node_b, topK rows.
   */
  def linkPredict(edges: DataFrame, topK: Int = 50,
      maxDegree: Long = 100000L): DataFrame = {
    require(topK >= 1, "topK >= 1")
    require(maxDegree >= 2, "maxDegree >= 2")
    linkScores(edges, maxDegree, "linkPredict",
        sum(round(lit(1.0) / col("deg").cast("double"), 12)
          .cast("decimal(24,12)")).as("__ra")) { (cand, deg) =>
      val du = deg.select(col("z").as("u"), col("deg").as("__du"))
      val dw = deg.select(col("z").as("w"), col("deg").as("__dw"))
      cand.join(broadcast(du), "u").join(broadcast(dw), "w")
        .withColumn("jaccard", round(col("n_common").cast("double")
          / (col("__du") + col("__dw") - col("n_common")).cast("double"), 6))
        .orderBy(col("jaccard").desc, col("u").asc, col("w").asc)
        .limit(topK)
        .select(col("u").as("node_a"), col("w").as("node_b"), col("n_common"),
          col("jaccard"), round(col("__ra").cast("double"), 6).as("ra_score"))
    }
  }

  /**
   * EXACT all-pairs shortest-path statistics on the symmetrized graph
   * — diameter, mean geodesic distance, and global efficiency
   * (Latora & Marchiori 2001: mean of 1/d over ordered pairs,
   * unreachable pairs contributing 0). The exact companion to
   * [[diameterEstimate]]'s 2-sweep lower bound: on a
   * thresholded/top-K analytics graph (thousands of nodes — the
   * two-regime premise) the exact answer is affordable and the
   * estimate becomes auditable.
   *
   * Two-regime: below `maxLocalEdges` a per-source BFS over primitive
   * int arrays on the driver (O(V·(V+E)) — the only honest APSP
   * shape); above it a distributed frontier iteration bounded by
   * `maxHops` with per-round lineage cuts (O(diameter) rounds, each
   * one join + min-agg — fine when the graph is genuinely huge AND
   * shallow, which co-occurrence graphs are). Identical integers
   * either way; efficiency sums 12dp-rounded 1/d terms in DECIMAL
   * (the Σ doctrine).
   *
   * Output: one row (n_nodes, n_pairs, n_reachable, diameter,
   * mean_dist, efficiency) — pairs are ORDERED and exclude self;
   * mean_dist is over reachable pairs (NULL when none).
   */
  def apspStats(edges: DataFrame, maxHops: Int = 64,
      maxLocalEdges: Long = 4000000L): DataFrame = {
    require(maxHops >= 1, "maxHops >= 1")
    val e = symmetric(edges).cache()
    val spark = edges.sparkSession
    import spark.implicits._
    // dists: (d) one row per ordered reachable pair, d >= 1
    def assemble(dists: DataFrame, nNodes: Long): DataFrame =
      dists.agg(count(lit(1)).as("n_reachable"),
          coalesce(max(col("d")), lit(0L)).as("diameter"),
          sum(col("d")).as("__sd"),
          sum(round(lit(1.0) / col("d").cast("double"), 12)
            .cast("decimal(24,12)")).as("__se"))
        .select(lit(nNodes).as("n_nodes"),
          lit(nNodes * (nNodes - 1)).as("n_pairs"),
          col("n_reachable"), col("diameter"),
          when(col("n_reachable") > 0, round(col("__sd").cast("double")
            / col("n_reachable").cast("double"), 6)).as("mean_dist"),
          round(coalesce(col("__se").cast("double"), lit(0.0))
            / lit((nNodes * (nNodes - 1)).toDouble), 6).as("efficiency"))
    if (fitsLocal(e, maxLocalEdges).ok) {
      val g = collectGraph(e)
      val ds = List.newBuilder[Long]
      hopsLocal(g, maxHops, 0 until g.n)((_, _, d) => ds += d.toLong)
      assemble(ds.result().toDF("d"), g.n.toLong)
    } else {
      val nNodes = e.select(col("src")).distinct().count()
      val out = assemble(hopsDist(e, maxHops).select(col("d")), nNodes)
        .localCheckpoint(true)
      e.unpersist(false)
      out
    }
  }

  /**
   * Edge churn between two graph snapshots — the drift monitor for
   * DERIVED graphs (co-occurrence, similarity, entity links): a
   * recommendation/dedup graph that silently rewires between pipeline
   * runs moves product behavior long before any per-row check fires.
   * Canonical undirected edge sets, one full-outer key join:
   * added / removed / kept counts, Jaccard stability, and per-side
   * node counts.
   *
   * All exact longs + two 6dp divides; shape: two distincts and one
   * edge-keyed join — linear in edges, never pairs.
   *
   * Output: one row (edges_a, edges_b, kept, added, removed, jaccard,
   * nodes_a, nodes_b).
   */
  def edgeChurn(edgesA: DataFrame, edgesB: DataFrame): DataFrame = {
    val ca = undirected(edgesA).localCheckpoint(true)
    val cb = undirected(edgesB).localCheckpoint(true)
    def nodeCount(c: DataFrame): Long =
      c.select(col("a")).unionByName(c.select(col("b").as("a"))).distinct().count()
    val (nodesA, nodesB) = (nodeCount(ca), nodeCount(cb))
    val j = ca.withColumn("__ia", lit(1L))
      .join(cb.withColumn("__ib", lit(1L)), Seq("a", "b"), "full_outer")
      .agg(
        sum(coalesce(col("__ia"), lit(0L))).as("edges_a"),
        sum(coalesce(col("__ib"), lit(0L))).as("edges_b"),
        sum(when(col("__ia").isNotNull && col("__ib").isNotNull, 1L)
          .otherwise(0L)).as("kept"),
        sum(when(col("__ia").isNull, 1L).otherwise(0L)).as("added"),
        sum(when(col("__ib").isNull, 1L).otherwise(0L)).as("removed"),
        count(lit(1)).as("__union"))
    j.select(col("edges_a"), col("edges_b"), col("kept"), col("added"),
      col("removed"),
      when(col("__union") > 0, round(col("kept").cast("double")
        / col("__union").cast("double"), 6)).as("jaccard"),
      lit(nodesA).as("nodes_a"), lit(nodesB).as("nodes_b"))
  }

  /**
   * Rich-club coefficient (Zhou & Mondragón 2004): for each degree
   * threshold k, φ(k) = density of the subgraph induced by nodes with
   * degree > k — do the hubs preferentially wire to EACH OTHER (φ → 1)
   * or merely to the masses. The connectivity companion of
   * [[degreeAssortativity]]'s correlation read.
   *
   * Exact and one-pass: degrees from one agg; each canonical a<b edge
   * carries min(deg_a, deg_b); the declared k spine folds into ONE
   * aggregation with a conditional sum per k (|ks| ≤ 16 literal
   * columns) — no per-k scan, no subgraph materialization. φ is one
   * double expression of exact counts, 6dp.
   *
   * Output per k: (k, n_nodes, n_edges, phi) — NULL φ below 2 nodes.
   */
  def richClub(edges: DataFrame, ks: Seq[Long]): DataFrame = {
    require(ks.nonEmpty && ks.size <= 16 && ks.forall(_ >= 0),
      "richClub: 1..16 non-negative thresholds")
    val spine = ks.distinct.sorted
    // checkpointed, not cached: the returned plan still reads sym (via
    // eAt), so its lifetime must cover the caller's action
    val sym = symmetric(edges).localCheckpoint(true)
    val deg = sym.groupBy(col("src").as("nd")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    val nCols = spine.map(k =>
      sum(when(col("deg") > k, 1L).otherwise(0L)).as(s"n_$k"))
    val nAt = deg.agg(nCols.head, nCols.tail: _*)
    val und = sym.where(col("src") < col("dst"))
      .join(deg.select(col("nd").as("src"), col("deg").as("__da")), "src")
      .join(deg.select(col("nd").as("dst"), col("deg").as("__db")), "dst")
      .select(least(col("__da"), col("__db")).as("__md"))
    val eCols = spine.map(k =>
      sum(when(col("__md") > k, 1L).otherwise(0L)).as(s"e_$k"))
    val eAt = und.agg(eCols.head, eCols.tail: _*)
    val spark = edges.sparkSession
    import spark.implicits._
    val kDf = spine.toDF("k")
    val joined = kDf.crossJoin(broadcast(nAt)).crossJoin(broadcast(eAt))
    val nCol = spine.foldRight(lit(null).cast("long")) { (k, rest) =>
      when(col("k") === k, col(s"n_$k")).otherwise(rest) }
    val eCol = spine.foldRight(lit(null).cast("long")) { (k, rest) =>
      when(col("k") === k, col(s"e_$k")).otherwise(rest) }
    joined.select(col("k"), nCol.as("n_nodes"), eCol.as("n_edges"))
      .withColumn("phi", when(col("n_nodes") >= 2, round(
        lit(2.0) * col("n_edges").cast("double")
          / (col("n_nodes").cast("double")
            * (col("n_nodes").cast("double") - lit(1.0))), 6)))
      .orderBy("k")
  }

  /**
   * Hub-removal robustness: delete the `removeTop` highest-degree
   * nodes (ties by node id — a total order) and measure what remains —
   * component count and the largest component's share of surviving
   * nodes. The percolation question behind "what if the top sellers /
   * super-connectors vanish": a robust graph keeps one giant
   * component, a hub-and-spoke shatters.
   *
   * Shape: one degree agg, a TakeOrdered top-K cut (the removal set is
   * K rows, broadcast into two anti-joins), then
   * [[graft.pipeline.Dedup.connectedComponents]] — the two-regime CC
   * machinery with its own driver cutover. Isolated survivors
   * (all their edges died with the hubs) count as singleton
   * components.
   *
   * Output: one row (n_nodes, n_removed, n_rest, n_components,
   * largest, largest_share 6dp).
   */
  def hubRemovalRobustness(edges: DataFrame, removeTop: Int): DataFrame = {
    require(removeTop >= 0, "removeTop >= 0")
    val sym = symmetric(edges).cache()
    val deg = sym.groupBy(col("src").as("nd")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    val nNodes = deg.count()
    val removed = deg.orderBy(col("deg").desc, col("nd").asc).limit(removeTop)
      .select(col("nd")).localCheckpoint(true) // K rows
    val restEdges = sym.where(col("src") < col("dst"))
      .join(removed.withColumnRenamed("nd", "src"), Seq("src"), "left_anti")
      .join(removed.withColumnRenamed("nd", "dst"), Seq("dst"), "left_anti")
      .select(col("src"), col("dst"))
    val restNodes = deg.select(col("nd"))
      .join(removed, Seq("nd"), "left_anti")
    val comp = graft.pipeline.Dedup.connectedComponents(restEdges, "src", "dst")
    // survivors missing from comp are isolated singletons
    val labeled = restNodes.join(comp.withColumnRenamed("id", "nd"), Seq("nd"), "left")
      .select(coalesce(col("component"), col("nd")).as("component"))
    val sizes = labeled.groupBy(col("component")).agg(count(lit(1)).as("sz"))
      .localCheckpoint(true)
    val out = sizes.agg(count(lit(1)).as("n_components"),
        coalesce(max(col("sz")), lit(0L)).as("largest"),
        coalesce(sum(col("sz")), lit(0L)).as("n_rest"))
      .select(lit(nNodes).as("n_nodes"),
        least(lit(removeTop.toLong), lit(nNodes)).as("n_removed"),
        col("n_rest"), col("n_components"), col("largest"),
        when(col("n_rest") > 0, round(col("largest").cast("double")
          / col("n_rest").cast("double"), 6)).as("largest_share"))
      .localCheckpoint(true)
    sym.unpersist(false)
    out
  }

  /**
   * Exact per-node closeness + harmonic centrality — the node-level
   * read [[apspStats]] aggregates away and [[landmarkCloseness]] only
   * approximates: who sits CLOSE to everything. Per node v over the
   * symmetrized graph: reachable count, total geodesic distance, mean
   * distance, and harmonic centrality Σ 1/d(v,t) (Marchiori & Latora
   * 2000 — the form that stays meaningful on disconnected graphs,
   * where classic closeness degenerates).
   *
   * Exactness: distances are exact ints from the same BFS/min-relax
   * pair as [[apspStats]] (two regimes, bit-identical — the local
   * branch emits raw (src, d) pairs and runs the SAME Spark aggregate
   * expressions); 1/d terms round 12dp and DECIMAL-sum (order-free),
   * mean is one 6dp divide of exact longs. Shape: one frontier
   * join + min-agg per hop with lineage cuts; the output is
   * node-sized.
   *
   * Output per node: (node, n_reach, total_dist, mean_dist, harmonic).
   */
  def closenessExact(edges: DataFrame, maxHops: Int = 24,
      maxLocalEdges: Long = 4000000L): DataFrame = {
    require(maxHops >= 1 && maxHops <= 64, s"maxHops in [1,64]: $maxHops")
    val e = symmetric(edges).cache()
    val spark = edges.sparkSession
    import spark.implicits._
    def assemble(pairs: DataFrame): DataFrame =
      pairs.groupBy(col("src").as("node")).agg(
        count(lit(1)).as("n_reach"),
        sum(col("d")).as("total_dist"),
        sum(round(lit(1.0) / col("d").cast("double"), 12)
          .cast("decimal(24,12)")).as("__h"))
        .select(col("node"), col("n_reach"), col("total_dist"),
          round(col("total_dist").cast("double")
            / col("n_reach").cast("double"), 6).as("mean_dist"),
          round(col("__h").cast("double"), 6).as("harmonic"))
    if (fitsLocal(e, maxLocalEdges).ok) {
      val g = collectGraph(e)
      val out = List.newBuilder[(String, Long)]
      hopsLocal(g, maxHops, 0 until g.n)((s0, _, d) =>
        out += ((g.nodes(s0), d.toLong)))
      assemble(out.result().toDF("src", "d"))
    } else {
      val out = assemble(hopsDist(e, maxHops)).localCheckpoint(true)
      e.unpersist(false)
      out
    }
  }

  /**
   * Exact betweenness centrality — WHICH nodes carry the shortest-path
   * traffic. The brokerage companion of [[eigenvectorCentrality]] (who is
   * connected to whom) and [[apspStats]] (how far everything is): a node
   * with modest degree but high betweenness is a bridge whose removal
   * fragments the graph — the q360 hub-removal read, per node, before the
   * removal.
   *
   * Pair-composition form (exactly Brandes' σ identity, without the
   * float δ-accumulation): over the symmetrized graph,
   *
   *   bc(v) = ½ · Σ_{s≠v, t≠v, s≠t, d(s,v)+d(v,t)=d(s,t)} σ_sv·σ_vt / σ_st
   *
   * where σ are shortest-path COUNTS from a level-synchronous BFS —
   * exact longs (σ at level k sums the σ of level-(k−1) neighbors).
   * Each term is integer fixed-point in 1e-9 units — (σ_sv·σ_vt·1e9)
   * div σ_st, truncation part of the definition — summed exactly in
   * decimal(38,0) and halved by one truncating div, so the result is
   * bit-identical on any engine, any partitioning (the [[pageRankFixed]]
   * doctrine). A one-agg guard refuses loudly when max σ²·1e9 would wrap
   * the long product (σ ≤ 95,000) instead of wrapping silently.
   *
   * Two-regime: below the byte-aware cutover AND ≤ `maxLocalNodes`
   * (the driver composition is O(V·reach²)) the whole computation runs
   * on the collected edge list with the identical integer arithmetic —
   * analytics graphs are usually threshold-survivors of a huge fact
   * derivation (the 100 TB part happens BEFORE this operator). Above it,
   * BFS is one frontier-join + sum shuffle per level with lineage cuts,
   * and the composition is two joins keyed on v and (s,t) — the standard
   * distributed exact-betweenness shape.
   *
   * `sources` is the scale knob: Brandes PIVOT sampling. With
   * `Some(pivots)` the composition sum is restricted to s ∈ pivots
   * (identically in BOTH regimes — same truncating fixed-point terms,
   * so local and distributed stay bit-identical), cutting the dominant
   * pair mass from n·n to |pivots|·n while every node still gets a row.
   * The published value is then the RAW DIRECTED pivot sum
   * Σ_{s∈pivots} δ_s(v) in 1e-9 units — NOT halved (an unordered pair
   * {s,t} contributes twice only when both ends are pivots), and not
   * extrapolated: the standard unbiased estimate of bc(v) is
   * raw · n / (2·|pivots|), a caller-side scalar. Pivots are
   * deduplicated; pivots absent from the graph contribute nothing. Do
   * NOT pre-filter `edges` to sample sources — that changes the GRAPH
   * (paths through dropped nodes vanish), not the source set.
   *
   * Output: (node, bc_units) — 1e-9 units, exact; every node kept
   * (bridgeless nodes 0). All-sources (None): halved, exact bc.
   */
  def betweenness(edges: DataFrame, maxHops: Int = 16,
      maxLocalEdges: Long = 1000000L, maxLocalNodes: Int = 2048,
      sources: Option[Seq[String]] = None): DataFrame = {
    require(maxHops >= 1 && maxHops <= 64, s"maxHops in [1,64]: $maxHops")
    require(sources.forall(_.nonEmpty), "sources: empty pivot set")
    val pivots = sources.map(_.distinct.toSet)
    val e = symmetric(edges).cache()
    val spark = edges.sparkSession
    // σ product bound: term = σ·σ·1e9 must fit a long on BOTH engines
    val MaxSigma = 95000L
    if (fitsLocal(e, maxLocalEdges).ok &&
        e.select(col("src")).distinct().count() <= maxLocalNodes) {
      val g = collectGraph(e)
      val (nodes, n, adj) = (g.nodes, g.n, g.adj)
      // dist/sigma per source — same level-synchronous BFS as the
      // distributed branch (σ sums over level-(k−1) neighbors)
      val dist = Array.ofDim[Int](n, n)
      val sig = Array.ofDim[Long](n, n)
      val queue = new Array[Int](n)
      var s0 = 0
      while (s0 < n) {
        java.util.Arrays.fill(dist(s0), -1)
        dist(s0)(s0) = 0; sig(s0)(s0) = 1L
        queue(0) = s0; var head = 0; var tail = 1
        while (head < tail) {
          val u = queue(head); head += 1
          val du = dist(s0)(u)
          if (du < maxHops) adj(u).foreach { w =>
            if (dist(s0)(w) < 0) { dist(s0)(w) = du + 1; queue(tail) = w; tail += 1 }
            if (dist(s0)(w) == du + 1) {
              sig(s0)(w) += sig(s0)(u)
              require(sig(s0)(w) <= MaxSigma,
                s"path count ${sig(s0)(w)} exceeds the exact-term bound $MaxSigma")
            }
          }
        }
        s0 += 1
      }
      // pair composition, identical truncating fixed-point arithmetic;
      // pivot sampling = the s-loop visits only pivot sources
      val isPivot: Int => Boolean =
        pivots.fold((_: Int) => true)(p => (i: Int) => p.contains(nodes(i)))
      val bc = Array.fill(n)(BigInt(0))
      var v = 0
      while (v < n) {
        var s = 0
        while (s < n) {
          if (s != v && isPivot(s) && dist(s)(v) > 0) {
            val dsv = dist(s)(v); val ssv = sig(s)(v)
            var t = 0
            while (t < n) {
              if (t != v && t != s && dist(v)(t) > 0 && dist(s)(t) > 0 &&
                  dsv + dist(v)(t) == dist(s)(t))
                bc(v) += (ssv * sig(v)(t) * Unit9) / sig(s)(t)
              t += 1
            }
          }
          s += 1
        }
        v += 1
      }
      import spark.implicits._
      // all-sources: each unordered {s,t} counted twice -> halve; pivot
      // sampling publishes the raw directed sum (see Scaladoc)
      val halve = pivots.isEmpty
      nodes.zipWithIndex.map { case (nd, i) =>
        (nd, (if (halve) bc(i) / 2 else bc(i)).toLong) }
        .toSeq.toDF("node", "bc_units")
    } else {
      val nodes = e.select(col("src").as("node")).distinct().cache()
      // reach(src, node, d, sigma): one row per ordered reachable pair
      var reach = e.select(col("src"), col("dst").as("node"),
        lit(1).as("d"), lit(1L).as("sigma")).localCheckpoint(true)
      var frontier = reach
      var round = 2
      var grew = frontier.limit(1).count() > 0
      while (grew && round <= maxHops) {
        val next = frontier.select(col("src"), col("node").as("__u"), col("sigma"))
          .join(e.select(col("src").as("__u"), col("dst").as("node")), "__u")
          .where(col("node") =!= col("src"))
          .groupBy(col("src"), col("node")).agg(sum(col("sigma")).as("sigma"))
          .join(reach.select(col("src"), col("node")), Seq("src", "node"), "left_anti")
          .select(col("src"), col("node"), lit(round).as("d"), col("sigma"))
          .localCheckpoint(true)
        grew = next.limit(1).count() > 0
        if (grew) {
          reach = reach.unionByName(next).localCheckpoint(true)
          frontier = next
          round += 1
        }
      }
      val sigMax = reach.agg(coalesce(max(col("sigma")), lit(0L))).head().getLong(0)
      require(sigMax <= MaxSigma,
        s"path count $sigMax exceeds the exact-term bound $MaxSigma")
      // pivot sampling: the BFS (needed from EVERY source for the
      // σ_vt leg) is untouched; the O(pairs) composition legs keyed on
      // s — where the n² mass lives — are filtered to pivot sources,
      // so the terms join carries |pivots|·n pairs instead of n·n
      val pivotFilter: DataFrame => DataFrame =
        pivots.fold(identity[DataFrame] _)(p =>
          (df: DataFrame) => df.where(col("s").isInCollection(p)))
      val a = pivotFilter(reach.select(col("src").as("s"),
        col("node").as("v"), col("d").as("dsv"), col("sigma").as("ssv")))
      val b = reach.select(col("src").as("v"), col("node").as("t"),
        col("d").as("dvt"), col("sigma").as("svt"))
      val st = pivotFilter(reach.select(col("src").as("s"),
        col("node").as("t"), col("d").as("dst0"), col("sigma").as("sst")))
      val terms = a.join(b, "v").where(col("t") =!= col("s"))
        .join(st, Seq("s", "t"))
        .where(col("dsv") + col("dvt") === col("dst0"))
        .select(col("v"), expr(s"(ssv * svt * ${Unit9}L) div sst").as("u"))
      val bc = terms.groupBy(col("v"))
        .agg(sum(col("u").cast("decimal(38,0)")).as("__su"))
      val zero = "coalesce(__su, cast(0 as decimal(38,0)))"
      val out = nodes
        .join(bc.withColumnRenamed("v", "node"), Seq("node"), "left")
        .selectExpr("node",
          // `div` yields BIGINT; the raw branch casts to match (the σ
          // bound keeps every sum far inside long range)
          if (pivots.isEmpty) s"$zero div 2 as bc_units"
          else s"cast($zero as bigint) as bc_units")
        .localCheckpoint(true)
      nodes.unpersist(false); e.unpersist(false)
      out
    }
  }

  /**
   * k-truss decomposition (Cohen 2008) — the cohesion subgraph
   * [[kCore]] overstates: a k-core only requires DEGREE, so a hub
   * wired to k strangers survives; a k-truss requires every edge to
   * sit in ≥ k−2 TRIANGLES within the surviving subgraph, so edges
   * survive only inside genuinely dense, mutually-connected
   * neighborhoods — the community-kernel extractor.
   *
   * Exact and iterative: canonical undirected edges; each round counts
   * per-edge triangle support with ONE wedge join over the current
   * edge set (the [[triangles]] shape) and drops edges below k−2;
   * stops at fixpoint or `maxRounds` (the declared cap the oracle
   * unrolls — extra rounds past the fixpoint are idempotent, so an
   * early stop and a full unroll agree by construction). All counts
   * exact longs; per-round lineage cuts.
   *
   * Output: surviving (a, b, support) with the final-state support,
   * ordered — empty when no edge reaches the truss.
   */
  def kTruss(edges: DataFrame, k: Int, maxRounds: Int = 6): DataFrame = {
    require(k >= 3, s"k >= 3: $k")
    require(maxRounds >= 1 && maxRounds <= 30, s"maxRounds in [1,30]: $maxRounds")
    var cur = undirected(edges).localCheckpoint(true)
    def support(canon: DataFrame): DataFrame = {
      val sym = canon.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(canon.select(col("b").as("src"), col("a").as("dst")))
      canon
        .join(sym.select(col("src").as("a"), col("dst").as("x")), "a")
        .join(sym.select(col("src").as("b"), col("dst").as("x")), Seq("b", "x"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
    }
    var n = cur.count()
    var round = 0
    var changed = true
    while (changed && round < maxRounds && n > 0) {
      val next = cur.join(support(cur), Seq("a", "b"), "left")
        .where(coalesce(col("support"), lit(0L)) >= (k - 2).toLong)
        .select(col("a"), col("b"))
        .localCheckpoint(true)
      val m = next.count()
      changed = m != n
      cur = next; n = m
      round += 1
    }
    cur.join(support(cur), Seq("a", "b"), "left")
      .select(col("a"), col("b"), coalesce(col("support"), lit(0L)).as("support"))
      .orderBy(col("a"), col("b"))
  }

  /**
   * Minimum spanning forest (Borůvka 1926) over an undirected weighted
   * edge list — the graph's cheapest connecting backbone: run on
   * NEGATED similarity weights it is the maximum-similarity taxonomy
   * skeleton (single-linkage clustering IS this tree cut at a
   * threshold). Edges are canonicalized (least, greatest) with the min
   * weight per pair, and every comparison uses the LEXICOGRAPHIC
   * composite (w, src, dst) — composite weights are all distinct, so
   * the MSF is mathematically UNIQUE and any correct algorithm must
   * land the identical edge set. That is the correctness contract: the
   * operator runs DISTRIBUTED Borůvka (per component, pick the minimum
   * leaving edge — one relabel join + one struct-min agg per round;
   * components at least halve, so ≤ log₂V rounds, each merge resolved
   * by [[graft.pipeline.Dedup.connectedComponents]]'s pointer-jumping
   * hash-min), while the oracle replays sequential KRUSKAL — two
   * independent ALGORITHMS, not a replay, agreeing bit-for-bit because
   * uniqueness leaves them no freedom. Weights are exact longs; no
   * doubles anywhere. Isolated nodes have no edges and thus no MSF
   * rows (the forest of the edge-induced graph). `maxRounds` is the
   * loud non-convergence guard (20 covers 2²⁰ components).
   * Output: the forest's (src, dst, weight), ordered by (weight, src,
   * dst).
   */
  def mst(edges: DataFrame, srcCol: String, dstCol: String, wCol: String,
      maxRounds: Int = 20): DataFrame = {
    val e0 = edges.select(
        least(col(srcCol).cast("string"), col(dstCol).cast("string")).as("u"),
        greatest(col(srcCol).cast("string"), col(dstCol).cast("string")).as("v"),
        col(wCol).cast("long").as("w"))
      .where(col("u").isNotNull && col("v").isNotNull && col("w").isNotNull
        && col("u") =!= col("v"))
      .groupBy(col("u"), col("v")).agg(min(col("w")).as("w"))
      .localCheckpoint(true)
    val empty = e0.limit(0)
      .select(col("u").as("src"), col("v").as("dst"), col("w").as("weight"))
    var comp = e0.select(col("u").as("id")).union(e0.select(col("v").as("id")))
      .distinct().select(col("id"), col("id").as("c")).localCheckpoint(true)
    var kept: DataFrame = null
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      val ec = e0
        .join(comp.select(col("id").as("u"), col("c").as("cu")), Seq("u"))
        .join(comp.select(col("id").as("v"), col("c").as("cv")), Seq("v"))
        .where(col("cu") =!= col("cv"))
        .localCheckpoint(true)
      if (ec.isEmpty) done = true
      else {
        // composite-ordered pick: (w, u, v) leads so cu/cv (carried for
        // the merge) can never influence the min
        val pick = struct(col("w"), col("u"), col("v"),
          col("cu"), col("cv"))
        val sel = ec.select(col("cu").as("cc"), pick.as("p"))
          .union(ec.select(col("cv").as("cc"), pick.as("p")))
          .groupBy(col("cc")).agg(min(col("p")).as("p"))
          .select(col("p.u").as("u"), col("p.v").as("v"), col("p.w").as("w"),
            col("p.cu").as("cu"), col("p.cv").as("cv"))
          .distinct()
          .localCheckpoint(true)
        val selEdges = sel.select(col("u"), col("v"), col("w"))
        kept = if (kept == null) selEdges
          else kept.union(selEdges).localCheckpoint(true)
        val merged = graft.pipeline.Dedup.connectedComponents(
          sel.select(col("cu").as("a"), col("cv").as("b")), "a", "b")
        comp = comp
          .join(merged.select(col("id").as("c"), col("component").as("__nc")),
            Seq("c"), "left")
          .select(col("id"), coalesce(col("__nc"), col("c")).as("c"))
          .localCheckpoint(true)
        round += 1
      }
    }
    require(done, s"mst did not converge within $maxRounds rounds")
    if (kept == null) empty
    else kept.select(col("u").as("src"), col("v").as("dst"),
        col("w").as("weight"))
      .orderBy(col("weight"), col("src"), col("dst"))
  }

  /**
   * Adjacency spectral gap by DEFLATED power iteration — how fast does
   * the graph MIX: λ₁ is connectivity strength ([[eigenvectorCentrality]]
   * reads its eigenvector), the second-largest-magnitude eigenvalue λ₂
   * is the persistence of structure — |λ₂|/λ₁ → 1 means strong
   * communities or near-bipartiteness (a random walk stays trapped);
   * a wide gap means the graph mixes in a few steps. The spectral
   * companion of [[modularity]] (which needs labels; this needs none).
   *
   * Exact replay (the q366 iteration doctrine): `iters` rounds of
   * v ← A·v / ‖A·v‖ with every matvec sum an EXACT decimal sum of
   * 12dp-rounded components, 12dp-rerounded vectors, then `iters`
   * rounds on the deflated B = A − λ₁·v₁v₁ᵀ from a first-node
   * indicator start (B·u = A·u − λ₁·(v₁ᵀu)·v₁ — two decimal-summed
   * scalars per round, never a dense matrix). Both λ are Rayleigh
   * readouts of decimal sums, so the whole 2·iters-round computation
   * replays verbatim in SQL. State is n-sized DataFrames and
   * edge-partitioned matvec joins — the 100 TB shape; the driver holds
   * only per-round scalars.
   *
   * Output: one row (n_nodes, lambda1, lambda2, mixing_gap =
   * λ₁ − |λ₂|, gap_ratio = |λ₂|/λ₁) — 6dp; λ₂ NULL on a single-node
   * deflation degenerate.
   */
  def spectralGap(edges: DataFrame, iters: Int = 8,
      maxLocalEdges: Long = 1000000L): DataFrame = {
    require(iters >= 1 && iters <= 30, s"iters in [1,30]: $iters")
    val e = symmetric(edges).cache()
    val nodes = e.select(col("src").as("node")).distinct().cache()
    val n = nodes.count()
    require(n >= 2, "spectralGap: need at least two nodes")
    def r12(x: Double): Double =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def dec(c: Column): Column = c.cast("decimal(24,12)")
    // driver-local regime: the IDENTICAL 12dp/decimal round arithmetic
    // over the collected adjacency — derived analytics graphs are
    // usually threshold-survivors, and 2·iters rounds of tiny Spark
    // jobs cost more scheduling than the whole computation
    if (fitsLocal(e, maxLocalEdges).ok) {
      nodes.unpersist(false)
      val g = collectGraph(e)
      val (nn, adj) = (g.n, g.adj)
      def d12(x: Double): BigDecimal =
        BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
      def matvecL(x: Array[Double]): Array[Double] =
        Array.tabulate(nn)(i =>
          adj(i).foldLeft(BigDecimal(0))((a, j) => a + d12(x(j))).toDouble)
      def dotL(a: Array[Double], b: Array[Double]): Double =
        (0 until nn).foldLeft(BigDecimal(0))((s0, i) =>
          s0 + d12(a(i) * b(i))).toDouble
      def normL(w: Array[Double]): Double =
        math.sqrt(w.foldLeft(BigDecimal(0))((s0, x) => s0 + d12(x * x)).toDouble)
      var v = Array.fill(nn)(r12(1.0 / math.sqrt(nn.toDouble)))
      for (_ <- 1 to iters) {
        val w = matvecL(v)
        val nm = normL(w)
        v = w.map(x => r12(x / nm))
      }
      val lam1 = dotL(v, matvecL(v))
      var u = Array.tabulate(nn)(i => if (i == 0) 1.0 else 0.0)
      for (_ <- 1 to iters) {
        val t = dotL(v, u)
        val au = matvecL(u)
        val s0 = lam1 * t
        val w2 = Array.tabulate(nn)(i => au(i) - s0 * v(i))
        val nm = normL(w2)
        u = if (nm > 0.0) w2.map(x => r12(x / nm)) else Array.fill(nn)(0.0)
      }
      val lam2 = dotL(u, matvecL(u)) - lam1 * dotL(v, u) * dotL(v, u)
      val spark = edges.sparkSession
      import spark.implicits._
      val degenerate = !(lam1 > 0.0)
      return Seq((nn.toLong, r6(lam1),
          if (degenerate) None else Some(r6(lam2)),
          if (degenerate) None else Some(r6(lam1 - math.abs(lam2))),
          if (degenerate) None else Some(r6(math.abs(lam2) / lam1))))
        .toDF("n_nodes", "lambda1", "lambda2", "mixing_gap", "gap_ratio")
    }
    // w(i) = Σ_{j ~ i} x(j): 12dp inputs sum exactly in decimal
    def matvec(x: DataFrame): DataFrame = e
      .join(x.select(col("node").as("dst"), col("x").as("__xj")), "dst")
      .groupBy(col("src").as("node"))
      .agg(sum(dec(col("__xj"))).cast("double").as("w"))
    // Σ round(a·b, 12) over nodes, as an exact decimal scalar
    def dot(a: DataFrame, aCol: String, b: DataFrame, bCol: String): Double =
      a.select(col("node"), col(aCol).as("__a"))
        .join(b.select(col("node"), col(bCol).as("__b")), "node")
        .agg(coalesce(sum(dec(round(col("__a") * col("__b"), 12))), lit(0)
          .cast("decimal(24,12)"))).head().getDecimal(0).doubleValue
    // ---- λ1: plain power iteration ---------------------------------
    var v = nodes.select(col("node"),
      lit(r12(1.0 / math.sqrt(n.toDouble))).as("x")).localCheckpoint(true)
    for (_ <- 1 to iters) {
      val w = matvec(v).localCheckpoint(true)
      val norm = math.sqrt(w.agg(coalesce(sum(dec(round(col("w") * col("w"), 12))),
        lit(0).cast("decimal(24,12)"))).head().getDecimal(0).doubleValue)
      v = nodes.join(w, Seq("node"), "left")
        .select(col("node"),
          round(coalesce(col("w"), lit(0.0)) / lit(norm), 12).as("x"))
        .localCheckpoint(true)
    }
    val wf = matvec(v)
    val lam1 = dot(v, "x", wf.withColumnRenamed("w", "x"), "x")
    // ---- λ2: iterate on B = A − λ1·v1v1ᵀ from an indicator start ----
    val first = nodes.agg(min(col("node"))).head().getString(0)
    var u = nodes.select(col("node"),
      when(col("node") === first, 1.0).otherwise(0.0).as("x"))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val t = dot(v, "x", u, "x")
      val au = matvec(u)
      val s = lam1 * t
      val w2 = nodes.join(au, Seq("node"), "left").join(v.select(col("node"),
          col("x").as("__v1")), "node")
        .select(col("node"),
          (coalesce(col("w"), lit(0.0)) - lit(s) * col("__v1")).as("w"))
        .localCheckpoint(true)
      val norm = math.sqrt(w2.agg(coalesce(sum(dec(round(col("w") * col("w"), 12))),
        lit(0).cast("decimal(24,12)"))).head().getDecimal(0).doubleValue)
      u =
        if (norm > 0.0)
          w2.select(col("node"), round(col("w") / lit(norm), 12).as("x"))
            .localCheckpoint(true)
        else w2.select(col("node"), lit(0.0).as("x")).localCheckpoint(true)
    }
    val auf = matvec(u)
    val rQ = dot(u, "x", auf.withColumnRenamed("w", "x"), "x")
    val t2 = dot(v, "x", u, "x")
    val lam2 = rQ - lam1 * t2 * t2
    e.unpersist(false); nodes.unpersist(false)
    val spark = edges.sparkSession
    import spark.implicits._
    val degenerate = !(lam1 > 0.0)
    val l2Out = if (degenerate) None else Some(r6(lam2))
    Seq((n, r6(lam1), l2Out,
        if (degenerate) None else Some(r6(lam1 - math.abs(lam2))),
        if (degenerate) None else Some(r6(math.abs(lam2) / lam1))))
      .toDF("n_nodes", "lambda1", "lambda2", "mixing_gap", "gap_ratio")
  }

  /**
   * Moran's I network autocorrelation (Moran 1950) — does a NODE
   * ATTRIBUTE cluster on the graph: [[degreeAssortativity]] asks
   * whether similar DEGREES wire together; this asks it for any
   * measurement (sales, quality, defect rate). I > E[I] = −1/(n−1)
   * means neighbors resemble each other — the attribute diffuses along
   * edges; I < E[I] means checkerboard anti-correlation. Binary
   * adjacency weights over the symmetrized graph.
   *
   * EXACT to the last step: with integer attributes x, center over the
   * common denominator n (zᵢ ∝ n·xᵢ − S, S = Σx), so
   *
   *   I = n · Σ_{(i,j)∈E} (n·xᵢ−S)(n·xⱼ−S) / (W · Σᵢ (n·xᵢ−S)²)
   *
   * is ONE double divide of two exact DECIMAL(38,0) sums — no
   * transcendentals, no term rounding at all. Shape: one broadcast-
   * joinable attribute lookup onto the edge list, two map-combined
   * sums. Nodes missing an attribute refuse loudly (a silent zero
   * would fabricate anti-correlation).
   *
   * Output: one row (n_nodes, w_edges, moran_i, expected_i) — 6dp;
   * NULL I when the attribute is constant (no variance).
   */
  def moranI(edges: DataFrame, attrs: DataFrame,
      nodeCol: String = "node", valueCol: String = "x"): DataFrame = {
    val e = symmetric(edges).cache()
    val nodes = e.select(col("src").as("nd")).distinct()
    val at = attrs.select(col(nodeCol).cast("string").as("nd"),
        col(valueCol).cast("long").as("x"))
      .where(col("nd").isNotNull && col("x").isNotNull)
    val joined = nodes.join(at, Seq("nd"), "left").cache()
    val missing = joined.where(col("x").isNull).count()
    refuseUnless(missing == 0, e, joined)(
      s"moranI: $missing graph node(s) lack an attribute value — a " +
        "silent zero would fabricate anti-correlation; supply or filter")
    def d(c: Column): Column = c.cast("decimal(38,0)")
    val t = joined.agg(count(lit(1)).as("n"), sum(col("x")).as("s")).head()
    val (n, s) = (t.getLong(0), t.getLong(1))
    val z = joined.select(col("nd"), (d(lit(n)) * d(col("x")) - d(lit(s))).as("z"))
    val den = z.agg(sum(col("z") * col("z")).as("dz"),
      count(lit(1)).as("__n")).head()
    val dz = den.getDecimal(0)
    val num = e
      .join(z.select(col("nd").as("src"), col("z").as("zi")), "src")
      .join(z.select(col("nd").as("dst"), col("z").as("zj")), "dst")
      .agg(sum(col("zi") * col("zj")).as("nz"), count(lit(1)).as("w")).head()
    val (nz, w) = (num.getDecimal(0), num.getLong(1))
    e.unpersist(false); joined.unpersist(false)
    val spark = edges.sparkSession
    import spark.implicits._
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val i = if (dz == null || dz.signum == 0 || w == 0L) None
    else Some(r6(n.toDouble * nz.doubleValue / (w.toDouble * dz.doubleValue)))
    val ei = if (n > 1) Some(r6(-1.0 / (n.toDouble - 1.0))) else None
    Seq((n, w, i, ei)).toDF("n_nodes", "w_edges", "moran_i", "expected_i")
  }

  /**
   * Newman modularity of a node partition: Q = Σ_c (e_c/m − (d_c/2m)²)
   * — the fraction of edges inside communities minus the fraction a
   * degree-preserving random rewire would put there (Newman & Girvan
   * 2004). THE number that says whether labelPropagation (or any
   * clustering) found real structure: Q ≈ 0 is random, ≥ ~0.3 is
   * conventionally "has communities".
   *
   * Exact integer assembly: with m = |undirected edges|, e_c = within-
   * community edge counts and d_c = community degree sums are exact
   * longs, and Q = (4m·Σe_c − Σd_c²) / (4m²) is ONE double divide of an
   * exact DECIMAL(38,0) numerator — engine-portable, 6dp. Shape: one
   * label join onto each edge endpoint (node-keyed), one community
   * rollup — |labels| rows, never pairs.
   *
   * Output: one row (m, n_communities, within_edges, q).
   */
  def modularity(edges: DataFrame, labels: DataFrame,
      nodeCol: String = "node", labelCol: String = "label"): DataFrame = {
    // canonical undirected edge list, each edge ONCE
    val und = undirected(edges).cache()
    val lab = labels.select(col(nodeCol).cast("string").as("nd"),
      col(labelCol).cast("string").as("lb"))
    val tagged = und
      .join(lab.select(col("nd").as("a"), col("lb").as("__la")), "a")
      .join(lab.select(col("nd").as("b"), col("lb").as("__lb")), "b")
      .cache()
    // d_c: degree sums per community over the symmetrized incidence
    val degC = tagged.select(col("__la").as("c"))
      .unionByName(tagged.select(col("__lb").as("c")))
      .groupBy(col("c")).agg(count(lit(1)).as("dc"))
    val sums = degC.agg(
      sum(col("dc").cast("decimal(38,0)") * col("dc").cast("decimal(38,0)"))
        .as("__sumDc2"),
      count(lit(1)).as("n_communities"))
    val within = tagged.agg(count(lit(1)).as("m"),
      sum(when(col("__la") === col("__lb"), 1L).otherwise(0L)).as("within_edges"))
    val out = within.crossJoin(broadcast(sums))
      .select(col("m"), col("n_communities"), col("within_edges"),
        when(col("m") > 0, round(
          (lit(4).cast("decimal(38,0)") * col("m") * col("within_edges")
            - col("__sumDc2")).cast("double")
          / (lit(4.0) * col("m").cast("double") * col("m").cast("double")), 6))
          .as("q"))
      .localCheckpoint(true)
    tagged.unpersist(false); und.unpersist(false)
    out
  }
}
