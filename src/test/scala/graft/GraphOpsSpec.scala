package graft

import org.apache.spark.sql.functions._

import graft.operators.{Association, GraphOps}

/** Association pairs, fixed-point PageRank, triangle counting. */
class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  /** Intercepts a refusal and asserts it left no persistent RDD behind.
    * Only NEW ids count as a leak: the context cleaner may release an
    * earlier test's garbage checkpoints while `body` runs. */
  private def refusesWithoutLeak(body: => Any): IllegalArgumentException = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val e = intercept[IllegalArgumentException](body)
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"refusal left persistent RDDs $leaked behind")
    e
  }

  test("Association.pairs: hand-checked support/conf/lift; multiplicity ignored") {
    val bi = Seq(
      (1, "a"), (1, "b"), (1, "c"), (1, "a"), // duplicate a must not inflate
      (2, "a"), (2, "b"),
      (3, "a"), (3, "c"),
      (4, "b")).toDF("bk", "it")
    val got = Association.pairs(bi, "bk", "it", minSupport = 2L).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    // supports: a=3, b=3, c=2; pairs: ab=2, ac=2, bc=1 (cut)
    assert(got.keySet == Set(("a", "b"), ("a", "c")))
    assert(got(("a", "b")) == ((2L, 0.666667, 0.666667, 0.888889)))
    assert(got(("a", "c")) == ((2L, 0.666667, 1.0, 1.333333)))
  }

  test("pairSupportByTag: one-pass per-tag supports == pairs run per slice") {
    val bi = Seq(
      (1, "a", true), (1, "b", true), (1, "c", true), (1, "a", true),
      (2, "a", true), (2, "b", true),
      (3, "a", false), (3, "c", false),
      (4, "b", false), (4, "c", false), (4, "a", false))
      .toDF("bk", "it", "h")
    val got = Association.pairSupportByTag(bi, "bk", "it", "h",
        minSupport = 1L).collect()
      .map(r => (r.getBoolean(0), r.getString(1), r.getString(2)) -> r.getLong(3))
      .toMap
    // per-slice twin: pairs() on each filtered slice must agree support-for-support
    for (hv <- Seq(true, false)) {
      val twin = Association.pairs(bi.where(col("h") === hv), "bk", "it",
          minSupport = 1L).collect()
        .map(r => (hv, r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(got.filter(_._1._1 == hv) == twin)
    }
    // a basket id shared ACROSS tags must NOT merge: bk=1 in both halves
    val cross = Seq((1, "a", true), (1, "b", true), (1, "a", false),
      (1, "c", false)).toDF("bk", "it", "h")
    val g2 = Association.pairSupportByTag(cross, "bk", "it", "h",
        minSupport = 1L).collect()
      .map(r => (r.getBoolean(0), r.getString(1), r.getString(2)) -> r.getLong(3))
      .toMap
    assert(g2 == Map((true, "a", "b") -> 1L, (false, "a", "c") -> 1L))
  }

  test("Association.triples: hand-checked; apriori prune invisible in the result") {
    // baskets: {a,b,c} ×3, {a,b,c,d} ×1, {a,b} ×1, {d} ×1
    val bi = (Seq.tabulate(3)(k => Seq((k, "a"), (k, "b"), (k, "c"))).flatten ++
      Seq((3, "a"), (3, "b"), (3, "c"), (3, "d"), (4, "a"), (4, "b"), (5, "d")))
      .toDF("bk", "it")
    val got = Association.triples(bi, "bk", "it", minSupport = 2L).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        ((r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
    // supports: a=5, b=5, c=4, d=2; abc=4 (abd/acd/bcd=1, cut by support)
    // conf(ab→c) = 4/5; lift = 6²·4 / (5·5·4) = 1.44
    assert(got.keySet == Set(("a", "b", "c")))
    assert(got(("a", "b", "c")) == ((4L, 0.8, 1.44)))
  }

  test("Association.pairs: mega-basket guard is loud") {
    val bi = (0 until 40).map(i => (1, s"i$i")).toDF("bk", "it")
    val e = intercept[IllegalArgumentException] {
      Association.pairs(bi, "bk", "it", maxItemsPerBasket = 10).collect()
    }
    assert(e.getMessage.contains("densest basket 1 holds 40 items"), e.getMessage)
  }

  test("pageRankFixed: hand-checked star graph, partition-independent") {
    // undirected star a-b, a-c as directed both ways
    val edges = Seq(("a", "b"), ("b", "a"), ("a", "c"), ("c", "a"))
      .toDF("src", "dst")
    val r1 = GraphOps.pageRankFixed(edges, iters = 1).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // deg(a)=2, deg(b)=deg(c)=1; after 1 iter:
    // a: 0.15e9 + 2·((1e9·85) div 100) = 150000000 + 1700000000
    // b, c: 0.15e9 + (1e9·85) div 200 = 150000000 + 425000000
    assert(r1 == Map("a" -> 1850000000L, "b" -> 575000000L, "c" -> 575000000L))
    val r5a = GraphOps.pageRankFixed(edges.repartition(7), iters = 5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val r5b = GraphOps.pageRankFixed(edges.repartition(2), iters = 5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r5a == r5b) // exact fixed-point: bit-identical on any layout
    assert(r5a("a") > r5a("b")) // the hub outranks the spokes
  }

  test("pageRank/bfs: distributed branch is bit-identical to the local fast path") {
    val edges = ((1 to 60).map(i => (s"n${i % 12}", s"n${(i * 7) % 12}")) :+
      (("n0", "n5"))).filter(e => e._1 != e._2).toDF("src", "dst")
    val local = GraphOps.pageRankFixed(edges, iters = 4).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val dist = GraphOps.pageRankFixed(edges, iters = 4, maxLocalEdges = 0L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(local == dist)
    val bl = GraphOps.bfsHops(edges, "n1", maxHops = 4).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val bd = GraphOps.bfsHops(edges, "n1", maxHops = 4, maxLocalEdges = 0L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bl == bd)
  }

  test("fitsLocal: byte-aware cutover — count alone cannot approve a heavy collect") {
    // 4 edges, tiny keys: inside both the row and byte budgets
    val small = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"))
      .toDF("src", "dst")
    assert(GraphOps.fitsLocal(small, maxLocalEdges = 1000000L).ok)
    // same COUNT, fat keys: the byte estimate (chars×2 + 48/key) must
    // refuse what the row count would wave through — this is the
    // long-URL-id driver-OOM case the gate exists for
    val fat = Seq.tabulate(4)(i => ("u" * 200 + i, "v" * 200 + i))
      .toDF("src", "dst")
    assert(!GraphOps.fitsLocal(fat, maxLocalEdges = 1000000L,
      maxBytes = 1024L).ok)
    assert(GraphOps.fitsLocal(fat, maxLocalEdges = 1000000L).ok) // default 512 MB fits
    // the row-count condition still binds independently
    assert(!GraphOps.fitsLocal(small, maxLocalEdges = 2L).ok)
    // non-string keys are charged via their string form, not rejected
    val ints = Seq((1, 2), (2, 3)).toDF("src", "dst")
    assert(GraphOps.fitsLocal(ints, maxLocalEdges = 10L).ok)
    // the probe's own count is the relation's count, whichever regime it
    // picks — callers use it instead of a second count() job
    for (df <- Seq(small, fat, ints); cut <- Seq(0L, 2L, 1000000L))
      assert(GraphOps.fitsLocal(df, maxLocalEdges = cut).edges == df.count())
    // regime flip on the byte axis is result-invariant (the standing
    // two-regime contract): force the distributed branch via bytes
    val edges = (1 to 40).map(i => (s"node_with_a_rather_long_identifier_$i",
      s"node_with_a_rather_long_identifier_${(i * 7) % 40 + 1}"))
      .filter(e => e._1 != e._2).toDF("src", "dst")
    val viaLocal = GraphOps.pageRankFixed(edges, iters = 3).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val viaDist = GraphOps.pageRankFixed(edges, iters = 3, maxLocalEdges = 0L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaLocal == viaDist)
  }

  test("pageRankWeighted: strong edge carries the mass; branches match; uniform == unweighted") {
    // star: a→b w=9, a→c w=1; b→a, c→a w=1
    val edges = Seq(("a", "b", 9L), ("a", "c", 1L), ("b", "a", 1L), ("c", "a", 1L))
      .toDF("src", "dst", "w")
    val r1 = GraphOps.pageRankWeighted(edges, iters = 1).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // a: 0.15e9 + (1e9·85·1) div (100·1) ×2 = 150000000 + 1700000000
    // b: 0.15e9 + (1e9·85·9) div (100·10) = 150000000 + 765000000
    // c: 0.15e9 + (1e9·85·1) div (100·10) = 150000000 + 85000000
    assert(r1 == Map("a" -> 1850000000L, "b" -> 915000000L, "c" -> 235000000L))
    val dist = GraphOps.pageRankWeighted(edges, iters = 4, maxLocalEdges = 0L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val local = GraphOps.pageRankWeighted(edges, iters = 4).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dist == local)
    // uniform weights reduce to the unweighted operator exactly
    val uni = Seq(("a", "b"), ("b", "a"), ("a", "c"), ("c", "a")).toDF("src", "dst")
    val uw = GraphOps.pageRankFixed(uni, iters = 3).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val ww = GraphOps.pageRankWeighted(uni.withColumn("w", lit(7L)), iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(uw == ww)
  }

  test("pageRankPersonalized: mass stays near the seed; off-graph seed kept; branches match") {
    // path a-b-c (symmetric); seed {a}: c only gets second-hop mass
    val und = Seq(("a", "b"), ("b", "c"))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val r = GraphOps.pageRankPersonalized(edges, Seq("a"), iters = 3).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    // hand-run of the integer recursion (seed-only teleport, 3 iters):
    // a = 150e6 + (127.5e6·85) div 200 = 204187500
    // b = (511.25e6·85) div 100 + (361.25e6·85) div 100 = 741625000
    // c = (127.5e6·85) div 200 = 54187500
    assert(r == Map("a" -> 204187500L, "b" -> 741625000L, "c" -> 54187500L))
    assert(r("b") > r("c") && r("a") > r("c")) // mass decays away from the seed
    val dist = GraphOps.pageRankPersonalized(edges, Seq("a"), iters = 3,
      maxLocalEdges = 0L).collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r == dist)
    // a seed that is not in the graph still appears, holding teleport mass
    val r2 = GraphOps.pageRankPersonalized(edges, Seq("zz"), iters = 2)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r2("zz") == 150000000L && r2("a") == 0L)
  }

  test("pageRankPersonalized: a repeated seed counts once in both regimes") {
    val und = Seq(("a", "b"), ("b", "c"))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    def run(seeds: Seq[String], maxLocal: Long) =
      GraphOps.pageRankPersonalized(edges, seeds, iters = 3, maxLocalEdges = maxLocal)
        .collect().map(x => x.getString(0) -> x.getLong(1)).toSeq.sorted
    val once = run(Seq("a"), 1000000L)
    assert(run(Seq("a", "a"), 1000000L) == once)
    assert(run(Seq("a", "a"), 0L) == once)
  }

  test("hits: bipartite hand-check — the shared authority wins; branches match") {
    // hubs u1,u2,u3 → authorities x (from u1,u2), y (from u2 only)
    val edges = Seq(("u1", "x"), ("u2", "x"), ("u2", "y"), ("u3", "y"))
      .toDF("src", "dst")
    val r = GraphOps.hits(edges, iters = 5).collect()
      .map(x => (x.getString(0), x.getString(1)) -> x.getLong(2)).toMap
    assert(r(("x", "authority")) == r(("y", "authority"))) // symmetric here
    assert(r(("u2", "hub")) > r(("u1", "hub"))) // u2 points at both
    assert(r(("x", "hub")) == 0L && r(("u1", "authority")) == 0L)
    // total mass ≈ Unit6 per side (div truncation loses a few units)
    val authSum = r.collect { case ((_, "authority"), v) => v }.sum
    assert(authSum <= 1000000L && authSum > 999990L)
    val dist = GraphOps.hits(edges, iters = 5, maxLocalEdges = 0L).collect()
      .map(x => (x.getString(0), x.getString(1)) -> x.getLong(2)).toMap
    assert(r == dist)
  }

  test("bfsHops: path-graph distances, unreached beyond bound absent") {
    // path a-b-c-d-e (symmetric): hops from a = 0,1,2,3,4; maxHops=3 drops e
    val und = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val got = GraphOps.bfsHops(edges, "a", maxHops = 3).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 0L, "b" -> 1L, "c" -> 2L, "d" -> 3L))
  }

  test("triangles: one triangle counted once per corner; outside node absent") {
    val edges = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"))
      .toDF("src", "dst")
    val got = GraphOps.triangles(edges).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 1L, "b" -> 1L, "c" -> 1L))
  }

  test("clusteringCoefficient: K4 clique = 1, bridge dilutes, deg-1 absent") {
    import spark.implicits._
    // K4 a,b,c,d plus a pendant edge d-e: a,b,c keep cc 1 (deg 3, 3
    // triangles); d has deg 4, 3 triangles -> 2*3/(4*3) = 0.5; e deg 1 absent
    val k4 = Seq(("a","b"),("a","c"),("a","d"),("b","c"),("b","d"),("c","d"))
    val got = GraphOps.clusteringCoefficient((k4 :+ ("d","e")).toDF("src","dst"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got == Map(
      "a" -> (3L, 3L, 1.0), "b" -> (3L, 3L, 1.0), "c" -> (3L, 3L, 1.0),
      "d" -> (4L, 3L, 0.5)))
    // triangle-free path: cc 0 for the middle node, endpoints absent
    val path = GraphOps.clusteringCoefficient(
      Seq(("a","b"),("b","c")).toDF("src","dst")).collect()
    assert(path.map(r => (r.getString(0), r.getDouble(3))).toSeq ==
      Seq(("b", 0.0)))
  }

  test("wedge-join hub contract: triangles and adamicAdar refuse past maxDegree") {
    import spark.implicits._
    // star with center degree 5; edges spelled canonically (a < b) so the
    // same relation feeds both operators (triangles drops a >= b rows)
    val star = (1 to 5).map(i => (s"l$i", "z")).toDF("src", "dst")
    // ...and each refusal releases its cached edge relation
    refusesWithoutLeak {
      GraphOps.adamicAdar(star, maxDegree = 4).collect()
    }
    refusesWithoutLeak {
      GraphOps.triangles(star, maxDegree = 4).collect()
    }
    // at the exact bound both run (refusal is strict >)
    assert(GraphOps.adamicAdar(star, maxDegree = 5).count() == 10L)
    assert(GraphOps.triangles(star, maxDegree = 5).isEmpty)
  }

  test("kCore: hand-built core, cascade peeling, branch equality, empty core") {
    import spark.implicits._
    // K4 on a,b,c,d (every degree 3) + a tail e-f hanging off d:
    // 2-core = the K4 plus nothing else (e,f peel in cascade: f first
    // round has deg 1; then e drops to 1 and peels second round)
    val k4 = Seq(("a","b"),("a","c"),("a","d"),("b","c"),("b","d"),("c","d"))
    val edges = (k4 ++ Seq(("d","e"),("e","f"))).toDF("src", "dst")
    val core2 = GraphOps.kCore(edges, k = 2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(core2 == Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L))
    // 3-core: still the K4 (d's extra tail edge is gone either way)
    val core3 = GraphOps.kCore(edges, k = 3).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(core3 == Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L))
    // 4-core: none exists -> empty
    assert(GraphOps.kCore(edges, k = 4).isEmpty)
    // distributed branch bit-identical to the local peel
    val dist = GraphOps.kCore(edges, k = 2, maxLocalEdges = 0L).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dist == core2)
    // a long path with k=2 peels one end per round: maxRounds too small
    // must THROW, never return the superset
    val path = (1 to 9).map(i => (s"p$i", s"p${i + 1}")).toDF("src", "dst")
    intercept[IllegalArgumentException] {
      GraphOps.kCore(path, k = 2, maxRounds = 2).collect()
    }
    // with enough rounds the path has no 2-core at all
    assert(GraphOps.kCore(path, k = 2, maxRounds = 30).isEmpty)
  }

  test("adamicAdar: path/star/square hand scores, adjacency excluded, topK order") {
    import spark.implicits._
    def aa(edges: Seq[(String, String)], k: Int = 50): Seq[(String, String, Long, Double)] =
      GraphOps.adamicAdar(edges.toDF("src", "dst"), topK = k).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    def r6(x: Double): Double = math.rint(x * 1e6) / 1e6
    // path a-b-c: only (a,c) is predictable, through b with deg 2
    assert(aa(Seq(("a", "b"), ("b", "c"))) ==
      Seq(("a", "c", 1L, r6(1.0 / math.log(2.0)))))
    // star: all leaf pairs share the center (deg 3); adjacency excluded
    val star = aa(Seq(("s", "a"), ("s", "b"), ("s", "c")))
    assert(star.map(t => (t._1, t._2)) == Seq(("a", "b"), ("a", "c"), ("b", "c")))
    assert(star.forall(t => t._3 == 1L && t._4 == r6(1.0 / math.log(3.0))))
    // square a-b-c-d-a: diagonals share TWO deg-2 corners
    val sq = aa(Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")))
    assert(sq == Seq(("a", "c", 2L, r6(2.0 / math.log(2.0))),
      ("b", "d", 2L, r6(2.0 / math.log(2.0)))))
    // topK bounds the output after the exact-decimal sort
    assert(aa(Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")), k = 1).size == 1)
  }

  test("labelPropagation: two triangles + bridge split; barbell; branches match") {
    import spark.implicits._
    def lp(edges: Seq[(String, String)], iters: Int = 3,
        cutover: Long = 1000000L): Map[String, String] =
      GraphOps.labelPropagation(edges.toDF("src", "dst"), iters,
          maxLocalEdges = cutover)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // two triangles joined by one bridge: the bridge cannot out-vote a
    // triangle's internal majority — two communities survive (where
    // connected components would merge everything)
    val barbell = Seq(("a", "b"), ("b", "c"), ("a", "c"),
      ("x", "y"), ("y", "z"), ("x", "z"), ("c", "x"))
    val lab = lp(barbell)
    assert(lab("a") == lab("b") && lab("b") == lab("c"))
    assert(lab("x") == lab("y") && lab("y") == lab("z"))
    assert(lab("a") != lab("x"))
    // round 1 on a path a-b-c: every node adopts its smallest neighbor
    // (all vote counts 1) — hand-traceable sync update
    assert(lp(Seq(("a", "b"), ("b", "c")), iters = 1) ==
      Map("a" -> "b", "b" -> "a", "c" -> "b"))
    // the two regimes produce the identical label field
    assert(lp(barbell, cutover = 0L) == lp(barbell))
    // iteration contract is loud
    intercept[IllegalArgumentException] {
      GraphOps.labelPropagation(Seq(("a", "b")).toDF("src", "dst"), iters = 0)
    }
  }

  test("landmarkCloseness: md5 landmark pick, path distances, harmonic sums") {
    // path a - b - c - d, symmetrized
    val es = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"),
      ("c", "d"), ("d", "c")).toDF("src", "dst")
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val pos = Map("a" -> 0, "b" -> 1, "c" -> 2, "d" -> 3)
    val lms = pos.keys.toSeq.sortBy(n => (md5hex(n), n)).take(2)
    val rows = GraphOps.landmarkCloseness(es, nLandmarks = 2, maxHops = 5)
      .orderBy("node").collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      val ds = lms.map(l => math.abs(pos(r.getString(0)) - pos(l)).toLong)
      assert(r.getAs[Long]("n_reached") == 2L)
      assert(r.getAs[Long]("sum_dist") == ds.sum)
      val h = ds.filter(_ > 0).map(d => BigDecimal(1.0 / d)
        .setScale(12, BigDecimal.RoundingMode.HALF_UP)).sum
      assert(r.getAs[Double]("harmonic") ==
        h.setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    // a component no landmark lives in is absent from the output
    val twoComp = es.unionByName(
      Seq(("x", "y"), ("y", "x")).toDF("src", "dst"))
    val lm1 = (pos.keys.toSeq ++ Seq("x", "y"))
      .sortBy(n => (md5hex(n), n)).head
    val reached = GraphOps.landmarkCloseness(twoComp, nLandmarks = 1,
      maxHops = 5).collect().map(_.getString(0)).toSet
    val expect = if (Set("x", "y")(lm1)) Set("x", "y") else pos.keySet
    assert(reached == expect)
  }

  test("diameterEstimate: exact on a path; cap visible; component-local") {
    import spark.implicits._
    // path a-b-c-d-e: 2-sweep is exact on trees → diameter 4
    val path = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"))
      .toDF("src", "dst")
    val r = GraphOps.diameterEstimate(path, maxHops = 12).head()
    assert(r.getAs[Long]("diameter_lb") == 4L)
    assert(r.getAs[Long]("n_reached_start") == 5L
      && r.getAs[Long]("n_reached_peripheral") == 5L)
    assert(Set("a", "e")(r.getAs[String]("peripheral_node")))
    // a tight maxHops caps the bound (reads as ">= cap")
    val capped = GraphOps.diameterEstimate(path, maxHops = 2).head()
    assert(capped.getAs[Long]("diameter_lb") <= 2L)
    // second component is invisible from the start's component
    val two = path.unionByName(Seq(("x", "y")).toDF("src", "dst"))
    val t = GraphOps.diameterEstimate(two, maxHops = 12).head()
    assert(t.getAs[Long]("n_reached_start") == 5L ||
      t.getAs[Long]("n_reached_start") == 2L)
  }

  test("degreeAssortativity: star is exactly -1; regular graph has no variance") {
    import spark.implicits._
    // K1,3: hub deg 3 meets leaves deg 1 on every edge → r = −1
    val star = Seq(("h", "a"), ("h", "b"), ("h", "c")).toDF("src", "dst")
    val s = GraphOps.degreeAssortativity(star).head()
    assert(s.getAs[Long]("n_nodes") == 4L && s.getAs[Long]("m_edges") == 3L)
    assert(s.getAs[Double]("mean_degree") == 1.5)
    assert(s.getAs[Double]("assortativity") == -1.0)
    // C4 cycle: every degree 2 → zero variance → NULL, not NaN
    val cyc = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"))
      .toDF("src", "dst")
    val c = GraphOps.degreeAssortativity(cyc).head()
    assert(c.isNullAt(c.fieldIndex("assortativity")))
    // duplicate + reversed + self-loop inputs canonicalize away
    val messy = Seq(("h", "a"), ("a", "h"), ("h", "a"), ("h", "h"),
      ("h", "b"), ("h", "c")).toDF("src", "dst")
    assert(GraphOps.degreeAssortativity(messy).head() == s)
  }

  test("eigenvectorCentrality: hub dominates, leaves tie, regimes bit-agree") {
    import spark.implicits._
    val star = Seq(("h", "a"), ("h", "b"), ("h", "c")).toDF("src", "dst")
    val loc = GraphOps.eigenvectorCentrality(star, iters = 5).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val dist = GraphOps.eigenvectorCentrality(star, iters = 5,
        maxLocalEdges = 0).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._1)
    assert(loc == dist) // two-regime contract: identical integers
    val m = loc.toMap
    assert(m("h") > m("a") && m("a") == m("b") && m("b") == m("c"))
    // L1 renormalization: total stays ~1e6 units (truncation loses < n)
    assert(loc.map(_._2).sum <= 1000000L
      && loc.map(_._2).sum > 1000000L - 4)
  }

  test("linkPredict: path endpoints predicted via the middle; hub contract") {
    import spark.implicits._
    val path = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val rows = GraphOps.linkPredict(path, topK = 10).collect()
    assert(rows.length == 1) // only (a,c) is non-adjacent with a wedge
    val r = rows.head
    assert(r.getString(0) == "a" && r.getString(1) == "c")
    assert(r.getAs[Long]("n_common") == 1L)
    assert(r.getAs[Double]("jaccard") == 1.0) // 1 / (1 + 1 - 1)
    assert(r.getAs[Double]("ra_score") == 0.5) // 1/deg(b) = 1/2
    intercept[IllegalArgumentException] {
      GraphOps.linkPredict(
        Seq(("h", "a"), ("h", "b"), ("h", "c")).toDF("src", "dst"),
        maxDegree = 2)
    }
  }

  test("edgeChurn: kept/added/removed exact, canonicalization collapses noise") {
    import spark.implicits._
    val a = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val b = Seq(("c", "b"), ("b", "c"), ("c", "d")).toDF("src", "dst") // rev+dup
    val r = GraphOps.edgeChurn(a, b).head()
    assert(r.getAs[Long]("edges_a") == 2L && r.getAs[Long]("edges_b") == 2L)
    assert(r.getAs[Long]("kept") == 1L && r.getAs[Long]("added") == 1L
      && r.getAs[Long]("removed") == 1L)
    assert(r.getAs[Double]("jaccard") == 0.333333)
    assert(r.getAs[Long]("nodes_a") == 3L && r.getAs[Long]("nodes_b") == 3L)
    // identical snapshots: jaccard 1, zero churn
    val same = GraphOps.edgeChurn(a, a).head()
    assert(same.getAs[Double]("jaccard") == 1.0
      && same.getAs[Long]("added") == 0L && same.getAs[Long]("removed") == 0L)
  }

  test("richClub: hub triangle reads density 1, whole graph diluted, empty NULL") {
    import spark.implicits._
    // 3 hubs in a triangle, each with 2 private leaves: hub deg 4, leaf 1
    val edges = Seq(("h1", "h2"), ("h2", "h3"), ("h1", "h3"),
      ("h1", "a1"), ("h1", "a2"), ("h2", "b1"), ("h2", "b2"),
      ("h3", "c1"), ("h3", "c2")).toDF("src", "dst")
    val rows = GraphOps.richClub(edges, ks = Seq(0L, 1L, 4L)).collect()
      .map(r => r.getLong(0) -> r).toMap
    // k=0: all 9 nodes, 9 edges → φ = 18/72 = 0.25
    assert(rows(0L).getAs[Long]("n_nodes") == 9L
      && rows(0L).getAs[Double]("phi") == 0.25)
    // k=1: the 3 hubs only, fully wired → φ = 1
    assert(rows(1L).getAs[Long]("n_nodes") == 3L
      && rows(1L).getAs[Long]("n_edges") == 3L
      && rows(1L).getAs[Double]("phi") == 1.0)
    // k=4: nobody qualifies → NULL φ
    assert(rows(4L).getAs[Long]("n_nodes") == 0L
      && rows(4L).isNullAt(rows(4L).fieldIndex("phi")))
  }

  test("hubRemovalRobustness: removing the star hub shatters it; baseline intact") {
    import spark.implicits._
    val edges = Seq(("h", "a"), ("h", "b"), ("h", "c"), ("d", "e"))
      .toDF("src", "dst")
    val r = GraphOps.hubRemovalRobustness(edges, removeTop = 1).head()
    assert(r.getAs[Long]("n_nodes") == 6L && r.getAs[Long]("n_removed") == 1L
      && r.getAs[Long]("n_rest") == 5L)
    // survivors a,b,c isolated + {d,e} → 4 components, giant share 2/5
    assert(r.getAs[Long]("n_components") == 4L
      && r.getAs[Long]("largest") == 2L
      && r.getAs[Double]("largest_share") == 0.4)
    val base = GraphOps.hubRemovalRobustness(edges, removeTop = 0).head()
    assert(base.getAs[Long]("n_components") == 2L
      && base.getAs[Long]("largest") == 4L
      && base.getAs[Double]("largest_share") == 0.666667)
  }

  test("apspStats: path-graph geodesics exact, disconnection counted, regimes agree") {
    import spark.implicits._
    // a—b—c: 6 ordered pairs, d = 1,1,1,1,2,2 → diameter 2,
    // mean 8/6, efficiency (4 + 2·½)/6 = 5/6
    val path = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val r = GraphOps.apspStats(path).head()
    assert(r.getAs[Long]("n_nodes") == 3L && r.getAs[Long]("n_pairs") == 6L
      && r.getAs[Long]("n_reachable") == 6L && r.getAs[Long]("diameter") == 2L)
    assert(r.getAs[Double]("mean_dist") == 1.333333)
    assert(r.getAs[Double]("efficiency") == 0.833333)
    val dist = GraphOps.apspStats(path, maxLocalEdges = 0).head()
    assert(dist == r) // two-regime contract
    // two components: unreachable pairs count in n_pairs and damp
    // efficiency, mean is over reachable only
    val split = Seq(("a", "b"), ("c", "d")).toDF("src", "dst")
    val s = GraphOps.apspStats(split).head()
    assert(s.getAs[Long]("n_pairs") == 12L && s.getAs[Long]("n_reachable") == 4L)
    assert(s.getAs[Double]("mean_dist") == 1.0
      && s.getAs[Double]("efficiency") == 0.333333)
    assert(GraphOps.apspStats(split, maxLocalEdges = 0).head() == s)
  }

  test("katzCentrality: hand star trace, +β keeps leaves alive, divergence guard") {
    import spark.implicits._
    val star = Seq(("h", "a"), ("h", "b"), ("h", "c")).toDF("src", "dst")
    val loc = GraphOps.katzCentrality(star, alphaMicro = 100000L, iters = 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val dist = GraphOps.katzCentrality(star, alphaMicro = 100000L, iters = 2,
        maxLocalEdges = 0).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._1)
    assert(loc == dist)
    // round 1: h = 3e6·0.1 + 1e6 = 1.3e6, leaf = 1e6·0.1 + 1e6 = 1.1e6
    // round 2: h = 3·1.1e6·0.1 + 1e6 = 1.33e6, leaf = 1.3e6·0.1 + 1e6
    val m = loc.toMap
    assert(m("h") == 1330000L && m("a") == 1130000L && m("a") == m("c"))
    // α·maxDegree ≥ 1 → the series diverges → loud refusal, nothing leaked
    refusesWithoutLeak {
      GraphOps.katzCentrality(star, alphaMicro = 500000L)
    }
    // the same on a graph no earlier call built: a relation another call
    // left cached would be shared, hiding a leak from the key diff
    refusesWithoutLeak {
      GraphOps.katzCentrality(star.union(Seq(("h", "d")).toDF("src", "dst")),
        alphaMicro = 500000L)
    }
  }

  test("modularity: two triangles + bridge — perfect split vs one blob") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("b", "c"), ("a", "c"),
      ("d", "e"), ("e", "f"), ("d", "f"), ("c", "d")).toDF("src", "dst")
    val split = Seq(("a", "1"), ("b", "1"), ("c", "1"),
      ("d", "2"), ("e", "2"), ("f", "2")).toDF("node", "label")
    val q = GraphOps.modularity(edges, split).head()
    assert(q.getAs[Long]("m") == 7L && q.getAs[Long]("within_edges") == 6L
      && q.getAs[Long]("n_communities") == 2L)
    // Q = (4·7·6 − (7² + 7²)) / (4·7²) = 70/196 = 0.357142857…
    assert(q.getAs[Double]("q") == 0.357143)
    val blob = split.select(col("node"), lit("1").as("label"))
    assert(GraphOps.modularity(edges, blob).head().getAs[Double]("q") == 0.0)
  }

  test("betweenness: path middle brokers, 4-cycle splits σ, regimes bit-agree") {
    import spark.implicits._
    def asMap(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // a—b—c: b carries the single (a,c) geodesic → 2 ordered terms of
    // 1e9, halved = 1e9; endpoints broker nothing
    val path = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val p = asMap(GraphOps.betweenness(path))
    assert(p == Map("a" -> 0L, "b" -> 1000000000L, "c" -> 0L))
    // 4-cycle a-b-c-d-a: (a,c) has σ=2 via b and d → each mid-node term
    // is (1·1·1e9) div 2 = 5e8; per node: 2 ordered pairs → 1e9/2… =
    // exactly 500000000 after the halving div
    val cyc = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")).toDF("src", "dst")
    val c = asMap(GraphOps.betweenness(cyc))
    assert(c.values.toSet == Set(500000000L) && c.size == 4)
    // two-regime contract: forcing the distributed branch is bit-identical
    assert(asMap(GraphOps.betweenness(cyc, maxLocalEdges = 0)) == c)
    // star: the hub carries every leaf pair — 3 leaves → 6 ordered pairs
    // → 3e9 after halving; maxHops honored (cap 1 sees no 2-hop pairs)
    val star = Seq(("h", "a"), ("h", "b"), ("h", "c")).toDF("src", "dst")
    val s = asMap(GraphOps.betweenness(star))
    assert(s("h") == 3000000000L && s("a") == 0L)
    assert(asMap(GraphOps.betweenness(star, maxLocalEdges = 0)) == s)
    val capped = asMap(GraphOps.betweenness(star, maxHops = 1))
    assert(capped("h") == 0L)
    assert(asMap(GraphOps.betweenness(star, maxHops = 1, maxLocalEdges = 0))
      == capped)
  }

  test("betweenness pivots: raw directed sums, all-sources = 2x exact, " +
      "regimes bit-agree, absent pivots inert") {
    import spark.implicits._
    def asMap(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // path a—b—c—d: exact (halved) bc is b=c=2e9 (b brokers (a,c),(a,d);
    // c brokers (a,d),(b,d) — 2 unordered pairs each)
    val path = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("src", "dst")
    val exact = asMap(GraphOps.betweenness(path))
    assert(exact == Map("a" -> 0L, "b" -> 2000000000L,
      "c" -> 2000000000L, "d" -> 0L))
    // pivots = ALL nodes -> raw directed sum = exactly 2x the halved bc
    val allPiv = asMap(GraphOps.betweenness(path,
      sources = Some(Seq("a", "b", "c", "d"))))
    assert(allPiv == exact.map { case (k, v) => k -> v * 2 })
    // single pivot a: δ_a(b) = terms (a,b,c)+(a,b,d) = 2e9;
    // δ_a(c) = (a,c,d) = 1e9; d-side sources unsampled
    val one = asMap(GraphOps.betweenness(path, sources = Some(Seq("a"))))
    assert(one == Map("a" -> 0L, "b" -> 2000000000L,
      "c" -> 1000000000L, "d" -> 0L))
    // distributed regime: bit-identical under the same pivot set
    assert(asMap(GraphOps.betweenness(path, maxLocalEdges = 0,
      sources = Some(Seq("a")))) == one)
    // duplicate + absent pivots change nothing; every node keeps a row
    assert(asMap(GraphOps.betweenness(path,
      sources = Some(Seq("a", "a", "zz")))) == one)
    assert(asMap(GraphOps.betweenness(path, maxLocalEdges = 0,
      sources = Some(Seq("a", "zz")))) == one)
    // σ-splitting under pivots: 4-cycle, pivot a — (a,c) runs σ=2 via
    // b and d: each mid-node gets (1·1·1e9) div 2 = 5e8 from t=c only
    val cyc = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")).toDF("src", "dst")
    val cp = asMap(GraphOps.betweenness(cyc, sources = Some(Seq("a"))))
    assert(cp == Map("a" -> 0L, "b" -> 500000000L, "c" -> 0L,
      "d" -> 500000000L))
    assert(asMap(GraphOps.betweenness(cyc, maxLocalEdges = 0,
      sources = Some(Seq("a")))) == cp)
    // empty pivot set refuses loudly
    intercept[IllegalArgumentException] {
      GraphOps.betweenness(path, sources = Some(Nil))
    }
  }

  test("closenessExact: path-graph hand values, disconnection, regimes bit-agree") {
    import spark.implicits._
    // a—b—c: a reaches {b:1, c:2} → total 3, mean 1.5, harmonic 1.5;
    // b reaches both at 1 → total 2, mean 1, harmonic 2
    val path = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val got = GraphOps.closenessExact(path).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))).toMap
    assert(got("a") == ((2L, 3L, 1.5, 1.5)))
    assert(got("b") == ((2L, 2L, 1.0, 2.0)))
    assert(got("c") == got("a"))
    val dist = GraphOps.closenessExact(path, maxLocalEdges = 0).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))).toMap
    assert(dist == got) // two-regime contract
    // disconnected component: reach counts only the own island
    val split = Seq(("a", "b"), ("c", "d")).toDF("src", "dst")
    val s = GraphOps.closenessExact(split).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(s.values.toSet == Set(1L) && s.size == 4)
  }

  test("moranI: perfect clustering +1, checkerboard -1, constant NULL, missing refuses") {
    import spark.implicits._
    def attr(xs: (String, Long)*) = xs.toSeq.toDF("node", "x")
    // two homophilous islands: every edge joins equal values → I = 1
    val islands = Seq(("a", "b"), ("c", "d")).toDF("src", "dst")
    val hi = GraphOps.moranI(islands, attr("a" -> 1L, "b" -> 1L, "c" -> 0L, "d" -> 0L)).head()
    assert(hi.getAs[Long]("n_nodes") == 4L && hi.getAs[Long]("w_edges") == 4L)
    assert(hi.getAs[Double]("moran_i") == 1.0)
    assert(hi.getAs[Double]("expected_i") == -0.333333)
    // one edge joining opposite values: checkerboard → I = −1
    val pair = Seq(("a", "b")).toDF("src", "dst")
    val lo = GraphOps.moranI(pair, attr("a" -> 1L, "b" -> 0L)).head()
    assert(lo.getAs[Double]("moran_i") == -1.0)
    // constant attribute: no variance → NULL I, counts still published
    val const = GraphOps.moranI(pair, attr("a" -> 5L, "b" -> 5L)).head()
    assert(const.isNullAt(2) && const.getAs[Long]("w_edges") == 2L)
    // a graph node without an attribute refuses loudly, nothing leaked
    refusesWithoutLeak {
      GraphOps.moranI(islands, attr("a" -> 1L, "b" -> 1L, "c" -> 0L))
    }
  }

  test("spectralGap: K3/K4 exact spectra, K2 bipartite trap reads ratio 1") {
    import spark.implicits._
    def gap(edges: Seq[(String, String)]) = {
      val r = GraphOps.spectralGap(edges.toDF("src", "dst")).head()
      (r.getAs[Double]("lambda1"), r.getAs[Double]("lambda2"),
        r.getAs[Double]("mixing_gap"), r.getAs[Double]("gap_ratio"))
    }
    // K3: eigenvalues {2, −1, −1} — uniform start IS the eigenvector,
    // deflation lands on the −1 plane
    assert(gap(Seq(("a", "b"), ("b", "c"), ("a", "c")))
      == ((2.0, -1.0, 1.0, 0.5)))
    // two-regime contract: the distributed branch is bit-identical
    assert(GraphOps.spectralGap(
        Seq(("a", "b"), ("b", "c"), ("a", "c")).toDF("src", "dst"),
        maxLocalEdges = 0).head() ==
      GraphOps.spectralGap(
        Seq(("a", "b"), ("b", "c"), ("a", "c")).toDF("src", "dst")).head())
    // K4: {3, −1, −1, −1}
    assert(gap(Seq(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"),
      ("b", "d"), ("c", "d"))) == ((3.0, -1.0, 2.0, 0.333333)))
    // K2 is bipartite: {1, −1} — |λ₂| = λ₁, the trapped-walk read
    assert(gap(Seq(("a", "b"))) == ((1.0, -1.0, 0.0, 1.0)))
  }

  test("kTruss: K4 kernel survives, pendant drops, removal cascades to empty") {
    import spark.implicits._
    def truss(edges: Seq[(String, String)], k: Int) =
      GraphOps.kTruss(edges.toDF("src", "dst"), k).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val k4pend = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"),
      ("b", "d"), ("c", "d"), ("d", "e"))
    // 4-truss: every K4 edge sits in 2 surviving triangles; the pendant
    // d—e sits in none and drops
    val t4 = truss(k4pend, 4)
    assert(t4.length == 6 && t4.forall(_._3 == 2L) && !t4.exists(_._2 == "e"))
    // 5-truss: K4 edges only reach support 2 → everything drops
    assert(truss(k4pend, 5).isEmpty)
    // cascade: two triangles sharing edge b—c; at k=4 only b—c survives
    // round 1, then its own support collapses → empty, not a leftover
    val twoTri = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("b", "d"))
    assert(truss(twoTri, 4).isEmpty)
    // 3-truss keeps both triangles with their exact supports
    val t3 = truss(twoTri, 3).map { case (aa, bb, sp) => (aa, bb) -> sp }.toMap
    assert(t3(("b", "c")) == 2L && t3(("a", "b")) == 1L && t3.size == 5)
  }

  test("mst: hand tree, composite tie-break, forest, duplicate-pair min, empty") {
    import graft.operators.GraphOps
    def run(es: Seq[(String, String, Long)]) =
      GraphOps.mst(es.toDF("s", "d", "w"), "s", "d", "w").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    // square + heavy diagonal: MST is {ab1, cd1, bc2}; ad3/ac5 cut
    val sq = Seq(("a", "b", 1L), ("b", "c", 2L), ("c", "d", 1L),
      ("a", "d", 3L), ("a", "c", 5L))
    assert(run(sq) == Seq(("a", "b", 1L), ("c", "d", 1L), ("b", "c", 2L)))
    // equal-weight 4-cycle: the lexicographic composite keeps
    // (a,b),(a,d),(b,c) — exactly what sequential Kruskal keeps
    val cyc = Seq(("a", "b", 1L), ("b", "c", 1L), ("c", "d", 1L),
      ("a", "d", 1L))
    assert(run(cyc) == Seq(("a", "b", 1L), ("a", "d", 1L), ("b", "c", 1L)))
    // disconnected input → spanning FOREST, one tree per component
    val forest = Seq(("a", "b", 2L), ("x", "y", 7L))
    assert(run(forest) == Seq(("a", "b", 2L), ("x", "y", 7L)))
    // duplicate/reversed pairs collapse to the canonical min weight
    val dup = Seq(("b", "a", 5L), ("a", "b", 2L), ("b", "c", 9L))
    assert(run(dup) == Seq(("a", "b", 2L), ("b", "c", 9L)))
    // no edges → empty forest with the output schema
    val e = GraphOps.mst(Seq.empty[(String, String, Long)].toDF("s", "d", "w"),
      "s", "d", "w")
    assert(e.columns.toSeq == Seq("src", "dst", "weight") && e.isEmpty)
  }
}
