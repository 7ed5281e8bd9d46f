package graft.vector

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/**
 * Graph-based ANN — the reference's ACTUAL vector index family
 * (Vamana-style "NGH" graph: greedy beam search + robust prune,
 * `lib/src/core/ngh_graph_engine.dart:14-23`, params maxDegree /
 * efSearch / pruneAlpha `lib/src/model/table_schema.dart:2542-2605`),
 * re-expressed for a shared-nothing engine:
 *
 *  - The corpus hash-shards by pk into `shards` PARTITION-LOCAL graphs.
 *    A single global graph cannot build or live on one executor at 100 TB;
 *    per-shard graphs bound memory (pick `shards` so a shard's
 *    vectors + R adjacency fit one executor) and build embarrassingly
 *    parallel — the same sharding DiskANN-family systems use for
 *    billion-scale corpora.
 *  - SEARCH fans each query to every shard (one stage, no shuffle of the
 *    graph), beam-searches each local graph from its stored medoid entry
 *    point, and merges the per-shard top-K with one tiny window — the
 *    `exactBatch` output contract (qid, pk, distance, score, rank).
 *    Cost per query: shards × O(efSearch · R) distance evaluations,
 *    independent of corpus size.
 *  - Construction is DETERMINISTIC (seeded insertion order, pk
 *    tie-breaks) and every node keeps a ring edge to its pk-successor, so
 *    each shard graph is strongly connected by construction: with
 *    `efSearch ≥ shard size` beam search provably degenerates to the
 *    exact scan — that is the correctness gate's regime, while
 *    `graphRecallReport` publishes recall@k + visited fraction for the
 *    approximate regime (the same honesty contract as the IVF/PQ family).
 *
 * Metric contract matches the PQ family: the graph ranks by L2 —
 * unit-normalize vectors before `graphBuild` and query with unit vectors
 * for cosine semantics (l2 order on the unit sphere IS cosine order).
 */
object GraphAnn {

  private val graphSchema = StructType(Seq(
    StructField("__shard", IntegerType, nullable = false),
    StructField("pk", LongType, nullable = false),
    StructField("vec", ArrayType(DoubleType), nullable = false),
    StructField("neighbors", ArrayType(LongType), nullable = false),
    StructField("__entry", BooleanType, nullable = false)))

  private def l2sq(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  private def toDoubles(v: Seq[Any]): Array[Double] =
    v.iterator.map {
      case f: Float => f.toDouble
      case d: Double => d
      case n: Number => n.doubleValue()
    }.toArray

  /** Beam search over one local graph: classic best-first with a bounded
    * result set of `ef`. Returns the result heap (dist², idx) sorted asc
    * and the count of nodes VISITED (the recall report's cost metric).
    * With `ef ≥ n` nothing is ever evicted, so the walk exhausts the
    * (strongly connected) graph — the exact-degeneration guarantee. */
  private def beam(vecs: Array[Array[Double]], adj: Int => Iterator[Int],
      entry: Int, q: Array[Double], ef: Int): (Array[(Double, Int)], Int) = {
    val visited = new java.util.HashSet[Integer]()
    val frontier = mutable.TreeSet.empty[(Double, Int)]
    val result = mutable.TreeSet.empty[(Double, Int)]
    val e0 = (l2sq(vecs(entry), q), entry)
    visited.add(entry); frontier += e0; result += e0
    var done = false
    while (!done && frontier.nonEmpty) {
      val cur = frontier.head
      frontier -= cur
      if (result.size >= ef && cur._1 > result.last._1) done = true
      else adj(cur._2).foreach { v =>
        if (visited.add(v)) {
          val dv = (l2sq(vecs(v), q), v)
          if (result.size < ef || Ordering[(Double, Int)].lt(dv, result.last)) {
            frontier += dv
            result += dv
            if (result.size > ef) result -= result.last
          }
        }
      }
    }
    (result.toArray, visited.size)
  }

  /** Vamana robust prune: keep up to `maxDegree` DIVERSE neighbors — the
    * closest candidate dominates (removes) any candidate `alpha`× closer
    * to it than to the node (ngh_graph_engine.dart "Robust Prune"). */
  private def robustPrune(vecs: Array[Array[Double]], u: Int,
      cands0: Iterable[Int], alpha: Double, maxDegree: Int): Array[Int] = {
    // alpha applies to DISTANCES; distances here are squared → alpha²
    val a2 = alpha * alpha
    var cands = cands0.iterator.filter(_ != u).toArray.distinct
      .map(c => (l2sq(vecs(c), vecs(u)), c)).sortBy(identity)
    val out = mutable.ArrayBuffer.empty[Int]
    while (cands.nonEmpty && out.size < maxDegree) {
      val c = cands.head._2
      out += c
      // keep only candidates NOT dominated by c
      cands = cands.tail.filter { case (dx, x) => l2sq(vecs(c), vecs(x)) * a2 > dx }
    }
    out.toArray
  }

  /** Build one shard's graph. Deterministic: nodes sort by pk, insertion
    * order comes from a seed-keyed shuffle, all ties break by index. */
  private def buildShard(pks: Array[Long], vecs: Array[Array[Double]],
      maxDegree: Int, efConstruction: Int, alpha: Double, seed: Long,
      passes: Int): (Array[Array[Int]], Int) = {
    val n = pks.length
    if (n == 1) return (Array(Array.empty[Int]), 0)
    // medoid: closest to the shard mean (deterministic entry point)
    val dim = vecs(0).length
    val mean = new Array[Double](dim)
    vecs.foreach { v => var i = 0; while (i < dim) { mean(i) += v(i); i += 1 } }
    var mi = 0
    while (mi < dim) { mean(mi) /= n; mi += 1 }
    var medoid = 0
    var best = Double.MaxValue
    var ni = 0
    while (ni < n) {
      val d = l2sq(vecs(ni), mean)
      if (d < best) { best = d; medoid = ni }
      ni += 1
    }
    // init: pk-ring (succ + pred) — strong connectivity by construction
    val adj = Array.tabulate(n)(i =>
      mutable.LinkedHashSet((i + 1) % n, (i + n - 1) % n).filter(_ != i))
    val order = new scala.util.Random(seed).shuffle((0 until n).toVector)
    var pass = 0
    while (pass < passes) {
      order.foreach { u =>
        val (found, _) = beam(vecs, i => adj(i).iterator, medoid, vecs(u), efConstruction)
        val cands = found.iterator.map(_._2).filter(_ != u).toSet ++ adj(u)
        val pruned = robustPrune(vecs, u, cands, alpha, maxDegree)
        adj(u).clear(); adj(u) ++= pruned
        pruned.foreach { v =>
          adj(v) += u
          if (adj(v).size > maxDegree) {
            val rp = robustPrune(vecs, v, adj(v), alpha, maxDegree)
            adj(v).clear(); adj(v) ++= rp
          }
        }
      }
      pass += 1
    }
    // re-arm the connectivity ring: robust prune may have dropped it
    { var i = 0; while (i < n) { adj(i) += (i + 1) % n; adj(i) -= i; i += 1 } }
    (adj.map(_.toArray), medoid)
  }

  /**
   * Build the sharded graph index. Output (one row per vector):
   * `(__shard, pk, vec, neighbors: ARRAY<BIGINT of pk>, __entry)`,
   * hash-partitioned so EVERY row of a shard lives in one partition —
   * the invariant `graphSearchBatch` relies on. Degree is bounded by
   * `maxDegree + 1` (the ring edge is re-armed after pruning).
   *
   * At 100 TB: sizing is per-shard — `shards ≈ corpus / targetShardRows`
   * with targetShardRows ~1M keeps a shard's vectors + adjacency a few
   * GB; build cost is `passes × n × beam(efConstruction)` per shard,
   * embarrassingly parallel across executors.
   */
  def graphBuild(embs: DataFrame, pkCol: String, vecCol: String,
      shards: Int = 8, maxDegree: Int = 16, efConstruction: Int = 64,
      alpha: Double = 1.2, seed: Long = 42L, passes: Int = 2,
      shardCol: Option[String] = None): DataFrame = {
    require(shards >= 1 && maxDegree >= 2 && efConstruction >= maxDegree,
      s"graphBuild: need shards>=1, maxDegree>=2, efConstruction>=maxDegree")
    // shardCol: CLUSTER-sharded graphs instead of hash shards — pass an
    // IVF cell assignment (`VectorSearch.ivfCell`) and each cell gets its
    // own graph; `graphSearchBatch(probeShards = ivf.nearestCells(q))`
    // then reads only the probed cells' graphs — the DiskANN×IVF hybrid
    // layout where query cost is nprobe cells, not the whole corpus.
    // `shards` stays the partition count (a partition may host several
    // small cells; a cell never splits).
    val shardExpr = shardCol.fold(
      pmod(xxhash64(col(pkCol)), lit(shards)).cast("int"))(c => col(c).cast("int"))
    val enc = org.apache.spark.sql.Encoders.row(graphSchema)
    embs
      .where(col(vecCol).isNotNull)
      .select(shardExpr.as("__shard"),
        col(pkCol).cast("long").as("pk"), col(vecCol).as("vec"))
      .repartition(shards, col("__shard"))
      .mapPartitions { it =>
        val byShard = it.map(r => (r.getInt(0), r.getLong(1),
            toDoubles(r.getSeq[Any](2)))).toVector.groupBy(_._1)
        byShard.iterator.flatMap { case (shard, rows) =>
          val sorted = rows.sortBy(_._2)
          val pks = sorted.map(_._2).toArray
          val vecs = sorted.map(_._3).toArray
          val (adj, medoid) = buildShard(pks, vecs, maxDegree, efConstruction,
            alpha, seed ^ shard, passes)
          pks.indices.iterator.map { i =>
            org.apache.spark.sql.Row(shard, pks(i), vecs(i).toSeq,
              adj(i).map(pks(_)).toSeq, i == medoid)
          }
        }
      }(enc)
  }

  /** Persist the graph index (staged, lease-guarded swap — a crashed save
    * keeps the prior serving index; same discipline as every managed
    * write). Layout is `partitionBy(__shard)` so a serving process reads
    * shard-clustered files. */
  def graphSave(graph: DataFrame, path: String): Unit =
    graft.write.Writes.lockedSwap(graph.sparkSession.sparkContext.hadoopConfiguration, path)(
      tmp => graph.write.partitionBy("__shard").parquet(tmp))

  /** Load a persisted graph for serving. Pass the result through
    * `graphSearchBatch` with `assumeColocated = false` (default): parquet
    * splits may separate a shard's rows, so the search re-co-locates
    * once per batch. */
  def graphLoad(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
      .select(col("__shard").cast("int"), col("pk"), col("vec"),
        col("neighbors"), col("__entry"))

  /** Per-shard candidates: (qid, pk, distance, __shard, __visited) where
    * `__visited` is the shard's visited-node count for that query. */
  private def searchCandidates(graph: DataFrame,
      queries: Seq[(Long, Seq[Double])], perShardK: Int, efSearch: Int,
      assumeColocated: Boolean): DataFrame = {
    val spark = graph.sparkSession
    val qArr = queries.sortBy(_._1).map { case (qid, qv) => (qid, qv.toArray) }
    val bq = spark.sparkContext.broadcast(qArr)
    val outSchema = StructType(Seq(
      StructField("qid", LongType, nullable = false),
      StructField("pk", LongType, nullable = false),
      StructField("distance", DoubleType, nullable = false),
      StructField("__shard", IntegerType, nullable = false),
      StructField("__visited", LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val colocated =
      if (assumeColocated) graph
      else {
        val nsh = graph.agg(max(col("__shard"))).head.getInt(0) + 1
        graph.repartition(math.max(1, nsh), col("__shard"))
      }
    colocated
      .select(col("__shard"), col("pk"), col("vec"), col("neighbors"), col("__entry"))
      .mapPartitions { it =>
        val byShard = it.map(r => (r.getInt(0), r.getLong(1),
            toDoubles(r.getSeq[Any](2)), r.getSeq[Long](3), r.getBoolean(4)))
          .toVector.groupBy(_._1)
        byShard.iterator.flatMap { case (shard, rows) =>
          val sorted = rows.sortBy(_._2)
          val pks = sorted.map(_._2).toArray
          val vecs = sorted.map(_._3).toArray
          val idxOf = pks.zipWithIndex.toMap
          val adj = sorted.map(_._4.iterator.flatMap(idxOf.get).toArray).toArray
          val entry = sorted.indexWhere(_._5) match { case -1 => 0; case i => i }
          val ef = math.max(efSearch, perShardK)
          bq.value.iterator.flatMap { case (qid, qv) =>
            val (found, visited) = beam(vecs, i => adj(i).iterator, entry, qv, ef)
            found.take(perShardK).iterator.map { case (d2, i) =>
              org.apache.spark.sql.Row(qid, pks(i), math.sqrt(d2),
                shard, visited.toLong)
            }
          }
        }
      }(enc)
  }

  /**
   * Batched graph search — `exactBatch`'s contract (qid, pk, distance,
   * score, rank), approximate per the published recall report. ONE stage
   * beam-searches every (query × shard) pair — no shuffle of the graph,
   * queries broadcast — then one window over shards × topK candidate
   * rows per query merges the global top-K.
   */
  def graphSearchBatch(graph: DataFrame, queries: Seq[(Long, Seq[Double])],
      topK: Int = 10, efSearch: Int = 64,
      assumeColocated: Boolean = false,
      probeShards: Option[Seq[Int]] = None): DataFrame = {
    // probeShards: with a cluster-sharded build (graphBuild(shardCol)),
    // restrict the search to the probed cells' graphs — a STATIC filter
    // on the shard column, so only those files are read
    val probed = probeShards.fold(graph)(ss =>
      graph.where(col("__shard").isin(ss.map(Integer.valueOf): _*)))
    val cands = searchCandidates(probed, queries, perShardK = topK,
      efSearch = efSearch, assumeColocated = assumeColocated)
      .select(col("qid"), col("pk"), round(col("distance"), 6).as("distance"))
    VectorSearch.rankPerQuery(cands, "l2", topK)
  }

  /**
   * Recall report for the graph path — the same honesty contract as
   * `ivfRecallReport`/`pqRecallReport`: builds a seeded graph, measures
   * recall@topK of `graphSearchBatch` against `exactBatch` per efSearch
   * value, and publishes the MEASURED mean fraction of nodes visited
   * (the graph path's cost metric — IO/CPU touched, not a window bound).
   * Output: (ef_search, recall_at_k, visited_frac, max_degree, shards).
   */
  def graphRecallReport(embs: DataFrame, pkCol: String, vecCol: String,
      queryIds: Seq[Long], efs: Seq[Int], topK: Int = 10, shards: Int = 4,
      maxDegree: Int = 16, efConstruction: Int = 64, alpha: Double = 1.2,
      seed: Long = 42L): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val graph = graphBuild(embs, pkCol, vecCol, shards, maxDegree,
      efConstruction, alpha, seed).cache()
    try {
      val total = math.max(1L, graph.count())
      val queries = embs.where(col(pkCol).isin(queryIds: _*))
        .select(col(pkCol).cast("long"), col(vecCol)).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
      def topSets(df: DataFrame): Map[Long, Set[Long]] =
        df.select("qid", "pk").collect().groupBy(_.getLong(0))
          .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val exactTop = topSets(VectorSearch.exactBatch(
        embs.withColumn(pkCol, col(pkCol).cast("long")), pkCol, vecCol,
        queries, topK, "l2"))
      val rows = efs.map { ef =>
        val cands = searchCandidates(graph, queries, perShardK = topK,
          efSearch = ef, assumeColocated = true).cache()
        try {
          val annTop = topSets(VectorSearch.rankPerQuery(
            cands.select(col("qid"), col("pk"),
              round(col("distance"), 6).as("distance")), "l2", topK))
          var hits = 0; var denom = 0
          queries.foreach { case (id, _) =>
            hits += (exactTop.getOrElse(id, Set.empty) & annTop.getOrElse(id, Set.empty)).size
            denom += exactTop.getOrElse(id, Set.empty).size
          }
          val visited = cands.select(col("qid"), col("__shard"), col("__visited"))
            .distinct().agg(sum(col("__visited"))).head.getLong(0)
          (ef,
            math.round(hits.toDouble / math.max(1, denom) * 10000) / 10000.0,
            math.round(visited.toDouble / (queries.size * total) * 10000) / 10000.0,
            maxDegree, shards)
        } finally { cands.unpersist(); () }
      }
      rows.toDF("ef_search", "recall_at_k", "visited_frac", "max_degree", "shards")
    } finally { graph.unpersist(); () }
  }
}
