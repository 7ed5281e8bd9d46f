package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Scale rehearsals: operator families measured past the largest test-data
 * scale factor (sf0.1), at the sizes and densities a real corpus has. Every family runs on
 * [[Graft.localSession]], the session the bench and the oracle gate use,
 * so a rehearsal number reads against the same configuration.
 *
 * Usage: runMain graft.Rehearse <family> [args…]
 *  - `ann [dir]`
 *  - `density [n1,n2,...] [famSize] [reps] [families]`
 *  - `phash [n1,n2,...] [famSize] [reps] [bandedCap]`
 *  - `pivot [n] [maxHops] [k1,k2,...] [reps]`
 *  - `stream [batchRows] [batches] [tokensPerDoc] [shufflePartitions]`
 *
 * Results go to stdout as JSON (pivot: one line per pivot count; the
 * others: one line). Timings are min-of-`reps` seconds ([[timed]]),
 * printed by the locale-independent [[num]].
 */
object Rehearse {
  private val families: Map[String, (SparkSession, Seq[String]) => Unit] = Map(
    "ann" -> (ann _), "density" -> (density _), "phash" -> (phash _),
    "pivot" -> (pivot _), "stream" -> (stream _))

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty && families.contains(args(0)),
      s"usage: Rehearse <${families.keys.toSeq.sorted.mkString("|")}> [args…]")
    val spark = Graft.localSession(s"graft-rehearse-${args(0)}")
    try families(args(0))(spark, args.toSeq.tail) finally spark.stop()
  }

  /** Decimal rendering for the JSON lines: `f"%.3f"` prints a comma
    * under comma-decimal default locales (de_DE), which is not JSON. */
  private[graft] def num(v: Double, scale: Int): String =
    BigDecimal(v).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toString

  /** Runs `f` `reps` times: the fastest run's wall seconds, and every
    * run's result in order. */
  private def timed[A](reps: Int)(f: => A): (Double, Seq[A]) = {
    val runs = (1 to reps.max(1)).map { _ =>
      val t0 = System.nanoTime()
      val a = f
      ((System.nanoTime() - t0) / 1e9, a)
    }
    (runs.map(_._1).min, runs.map(_._2))
  }

  /**
   * sf1 ANN-recall rehearsal (BASELINE.md "ANN contract floors" caveat):
   * the three recall reports (IVF / PQ / graph) on a ScaleGen fixture,
   * once with the gate-frozen index parameters and once with the index
   * sized per its own scale contract:
   *  - IVF: nlist=8 for both rows (cell count is a recall/scan-fraction
   *    trade, not a per-row budget);
   *  - PQ: codebook capacity grows with the corpus, scaled row k=64;
   *  - graph: shards = ceil(n / 500), per-shard rows held at the sf0.1
   *    gate's ~500 (a fixed beam cannot search a 10× shard at the same
   *    recall).
   * Also times each index BUILD in isolation at its contract-scaled
   * params. Run against both ScaleGen geometries ("clustered" =
   * production rehearsal, "hash" = adversarial isotropic twin).
   */
  private def ann(spark: SparkSession, args: Seq[String]): Unit = {
    val dir = args.lift(0).getOrElse("/tmp/graft_sf1c")
    val embs = spark.read.parquet(s"$dir/embeddings.parquet").cache()
    val n = embs.count()
    val scaledShards = math.ceil(n / 500.0).toInt

    def buildSec(f: => Any): String = num(timed(1)(f)._1, 1)
    val ivfBuild = buildSec {
      val m = graft.vector.VectorSearch.ivfTrain(embs, "embedding", nlist = 8)
      graft.vector.VectorSearch.ivfIndex(embs, m, "embedding").count()
    }
    val pqBuild = buildSec {
      graft.vector.VectorSearch.pqTrainCapped(embs, "vec_id", "embedding", m = 8, k = 64)
    }
    val graphBuild = buildSec {
      graft.vector.GraphAnn.graphBuild(embs, "vec_id", "embedding",
        shards = scaledShards, maxDegree = 8, efConstruction = 24).count()
    }

    def rows(df: DataFrame, by: String): String = df.orderBy(by).collect()
      .map(r => s"[${r.getInt(0)},${r.getDouble(1)},${r.getDouble(2)}]")
      .mkString("[", ",", "]")
    val ivf = rows(graft.vector.VectorSearch.ivfRecallReport(embs, "vec_id",
        "embedding", java.nio.file.Files.createTempDirectory("annscale").toString + "/emb",
        queryIds = 0L until 8L, nprobes = Seq(1, 2, 4, 8), topK = 10, nlist = 8),
      "nprobe")
    def pq(k: Int) = rows(graft.vector.VectorSearch.pqRecallReport(embs, "vec_id",
        "embedding", queryIds = 0L until 8L, rerankFactors = Seq(1, 2, 8, 20),
        topK = 10, m = 8, k = k), "rerank_factor")
    def graph(shards: Int) = rows(graft.vector.GraphAnn.graphRecallReport(embs,
        "vec_id", "embedding", queryIds = Seq(3L, 7L, 11L),
        efs = Seq(8, 32, 128), topK = 10, shards = shards, maxDegree = 8,
        efConstruction = 24), "ef_search")

    println(s"""{"dir":"$dir","n":$n,"scaled_shards":$scaledShards,""" +
      s""""build_sec":{"ivf_nlist8":$ivfBuild,"pq_m8_k64":$pqBuild,"graph_scaled":$graphBuild},""" +
      s""""ivf_nlist8":$ivf,""" +
      s""""pq_frozen_k16":${pq(16)},"pq_scaled_k64":${pq(64)},""" +
      s""""graph_frozen_sh4":${graph(4)},""" +
      s""""graph_scaled":${graph(scaledShards)}}""")
  }

  /** Pinned synthetic corpus: `n` ids in families of `famSize`, each
    * family a fresh xxhash64-random 64-bit (hi, lo) pattern whose
    * members flip one distinct low bit — members sit pairwise at
    * hamming 2, cross-family pairs at ≈ 32. */
  private def hammingCorpus(spark: SparkSession, n: Long, famSize: Int): DataFrame = {
    val fam = floor(col("id") / famSize)
    spark.range(n).select(col("id"),
      xxhash64(lit("hi"), fam).as("hi"),
      xxhash64(lit("lo"), fam)
        .bitwiseXOR(expr(s"shiftleft(1L, cast(id % $famSize as int))"))
        .as("lo"))
  }

  /**
   * Constant-cluster-density rehearsal for the caveat families whose
   * GATE fixtures densify by construction (BASELINE.md "Standing
   * caveats"): scale rows while holding cluster/block density constant.
   *  - `semantic` (q116 class): n/famSize planted clusters around fresh
   *    random 64-dim centroids, measuring [[pipeline.Dedup.cosinePairsWithin]];
   *    expected pairs exactly (n/fam)·C(fam,2).
   *  - `cluster` (q105 class): the phash family's corpus through pairs →
   *    [[pipeline.Dedup.dedupClusters]]; expected components n/famSize.
   *  - `grid` (q273 class, opt-in): n/famSize planted 5x4 blobs on a
   *    lattice that grows with n, through
   *    [[operators.Clustering.gridDbscan]]; one component per blob.
   *  - `entity` (q138 class): families share a hash-random 8-char stem
   *    and differ in one suffix char, through
   *    [[pipeline.EntityMatch.nameMatchBlocked]] at prefixLen=4; pairs ≈
   *    (n/fam)·C(fam,2) (birthday collisions bounded at +5%).
   * `cc_rounds` is the distributed connected-components round count,
   * the largest over the reps (0 = no CC or the driver union-find regime): at
   * constant density per-round cost is linear, so any super-linear
   * residual lives in the round count.
   */
  private def density(spark: SparkSession, args: Seq[String]): Unit = {
    val sizes = args.lift(0).getOrElse("60000,200000,600000")
      .split(",").toSeq.map(_.trim.toLong)
    val famSize = args.lift(1).map(_.toInt).getOrElse(20)
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val families = args.lift(3).getOrElse("semantic,cluster,entity")
      .split(",").toSet
    require(famSize >= 2 && famSize <= 64, "famSize in [2,64]")
    val dim = 64

    // member j perturbs coordinate (j mod dim) of its family centroid by
    // a small epsilon: cosine(members) ≈ 1 ≫ 0.4, cross-family ≈ 0
    def semanticCorpus(n: Long): DataFrame =
      spark.range(n).select(col("id"),
        expr(s"""transform(sequence(0, ${dim - 1}), i ->
            cast(cast(pmod(xxhash64('c', id div $famSize, i), 2001) - 1000 as double)
                 / 1000.0
               + if(i = cast(id % $dim as int), 0.05, 0.0) as float))""")
          .as("v"),
        expr(s"id div $famSize").as("cluster"))

    // 8-char base-26 stem per family (diversity grows with n), one
    // distinct lowercase suffix char per member: within-family JW ≈ 0.977
    def entityCorpus(n: Long): DataFrame =
      spark.range(n).select(col("id"),
        expr(s"""concat(
            concat_ws('', transform(sequence(0, 7), i ->
              char(97 + cast(pmod(xxhash64('s', id div $famSize, i), 26) as int)))),
            char(97 + cast(id % $famSize as int) % 26))""").as("nm"))

    def gridCorpus(n: Long): DataFrame =
      spark.range(n).select(col("id"),
        expr(s"((id div $famSize) % 1000) * 1000 + (id % $famSize) % 5").as("x"),
        expr(s"((id div $famSize) div 1000) * 1000 + (id % $famSize) div 5").as("y"))

    // family → (corpus, measured count, expected [lo, hi])
    def plan(name: String, n: Long): (DataFrame, DataFrame => Long, Long, Long) = {
      val expectPairs = (n / famSize) * (famSize.toLong * (famSize - 1) / 2)
      name match {
        case "semantic" => (semanticCorpus(n), df => pipeline.Dedup
            .cosinePairsWithin(df, "cluster", "id", "v", threshold = 0.4).count(),
          expectPairs, expectPairs)
        case "cluster" => (hammingCorpus(spark, n, famSize), df => {
            val pairs = pipeline.Dedup.hammingPairsBlocked(
              df, "id", "hi", "lo", maxHamming = 2)
            pipeline.Dedup.dedupClusters(df.select(col("id")), "id", pairs, "a", "b")
              .select(col("component")).distinct().count()
          }, n / famSize, n / famSize)
        case "grid" => (gridCorpus(n), df => operators.Clustering
            .gridDbscan(df, "id", "x", "y", eps = 5, minPts = 4)
            .where(col("component").isNotNull)
            .select(col("component")).distinct().count(),
          n / famSize, n / famSize)
        case "entity" => (entityCorpus(n), df => pipeline.EntityMatch
            .nameMatchBlocked(df, "id", "nm", minSim = 0.9, prefixLen = 4).count(),
          expectPairs, (expectPairs * 1.05).toLong)
      }
    }

    val results = sizes.flatMap { n =>
      Seq("semantic", "cluster", "grid", "entity").filter(families).map { name =>
        val (corpus, run, lo, hi) = plan(name, n)
        val df = corpus.localCheckpoint(true) // pin: exclude generation cost
        val (dt, runs) = timed(reps) {
          pipeline.Dedup.lastCcRounds.set(0)
          (run(df), pipeline.Dedup.lastCcRounds.get)
        }
        df.unpersist(false)
        val out = runs.head._1
        val rounds = runs.map(_._2).max
        if (out < lo || out > hi)
          System.err.println(
            s"[density-scale] WARNING $name n=$n out=$out expected=[$lo,$hi]")
        System.err.println(
          s"[density-scale] $name n=$n out=$out ${num(dt, 2)} s cc_rounds=$rounds")
        s"""{"family":"$name","n":$n,"out":$out,"sec":${num(dt, 3)},"cc_rounds":$rounds}"""
      }
    }
    println(s"""{"rehearsal":"density","famSize":$famSize,"reps":$reps,""" +
      s""""results":${results.mkString("[", ",", "]")}}""")
  }

  /**
   * 64-bit perceptual-hash near-dup operators at CONSTANT family density,
   * the regime a real image corpus lives in (the q103–q105 gate fixture
   * draws from a fixed pattern space, so past ~16k images its pair mass
   * grows quadratically by construction). Expected output is exactly
   * n/famSize · C(famSize, 2) pairs, linear in n. Compares
   * `Dedup.hammingPairs64` (4×16-bit bands, candidate mass O(n²/2¹⁶))
   * with `Dedup.hammingPairsBlocked` (C(6,3)-table ~32-bit block keys,
   * O(n²/2³²)); banded is skipped above `bandedCap` rows.
   */
  private def phash(spark: SparkSession, args: Seq[String]): Unit = {
    val sizes = args.lift(0).getOrElse("50000,500000,2000000,5000000")
      .split(",").toSeq.map(_.trim.toLong)
    val famSize = args.lift(1).map(_.toInt).getOrElse(20)
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val bandedCap = args.lift(3).map(_.toLong).getOrElse(2000000L)
    require(famSize <= 64, "flips must stay inside the lo half")

    val results = sizes.flatMap { n =>
      val df = hammingCorpus(spark, n, famSize).localCheckpoint(true)
      val expectPairs = (n / famSize) * (famSize.toLong * (famSize - 1) / 2)
      val variants: Seq[(String, () => DataFrame)] = Seq(
        "blocked" -> (() => pipeline.Dedup.hammingPairsBlocked(
          df, "id", "hi", "lo", maxHamming = 2)),
        "banded" -> (() => pipeline.Dedup.hammingPairs64(
          df, "id", "hi", "lo", maxHamming = 2)))
      val out = variants.filter(v => v._1 == "blocked" || n <= bandedCap)
        .map { case (name, mk) =>
          val (dt, runs) = timed(reps)(mk().count())
          val nPairs = runs.head
          if (nPairs != expectPairs)
            System.err.println(
              s"[phash-scale] WARNING $name n=$n pairs=$nPairs expected=$expectPairs")
          System.err.println(s"[phash-scale] $name n=$n pairs=$nPairs ${num(dt, 2)} s")
          s"""{"variant":"$name","n":$n,"pairs":$nPairs,"sec":${num(dt, 3)}}"""
        }
      df.unpersist()
      out
    }
    println(s"""{"rehearsal":"phash","famSize":$famSize,"reps":$reps,""" +
      s""""results":${results.mkString("[", ",", "]")}}""")
  }

  /**
   * [[operators.GraphOps.betweenness]]'s Brandes-pivot knob (`sources`)
   * in the distributed regime: wall time must scale with |pivots|, not
   * n². Fixture: node i joins i+1 and 7i+3 (mod n) — connected, degree
   * ≈ 4, so reach within `maxHops` is a constant r and composition mass
   * at k pivots is ≈ r²·k over a fixed BFS floor.
   */
  private def pivot(spark: SparkSession, args: Seq[String]): Unit = {
    val n = args.lift(0).map(_.toInt).getOrElse(4096)
    val maxHops = args.lift(1).map(_.toInt).getOrElse(3)
    val ks = args.lift(2).getOrElse("64,256,1024,4096")
      .split(",").toSeq.map(_.trim.toInt)
    val reps = args.lift(3).map(_.toInt).getOrElse(2)
    def nm(i: Long): String = f"n$i%07d"
    val edges = spark.range(n)
      .select(col("id"), pmod(col("id") + 1, lit(n.toLong)).as("r"),
        pmod(col("id") * 7 + 3, lit(n.toLong)).as("c"))
      .selectExpr(s"id", "stack(2, r, c) as dst")
      .select(udf(nm _).apply(col("id")).as("src"),
        udf(nm _).apply(col("dst")).as("dst"))
      .localCheckpoint(true)
    val edgeCount = edges.count()
    // JVM warm-up: one tiny all-sources run off the clock
    operators.GraphOps.betweenness(
      edges.where(col("src") < nm(64) && col("dst") < nm(64)),
      maxHops = maxHops, maxLocalEdges = 0).count()
    ks.foreach { k =>
      require(k >= 1 && k <= n, s"pivot count $k out of [1,$n]")
      val pivots = (0 until k).map(i => nm(i.toLong))
      val (sec, _) = timed(reps) {
        val rows = operators.GraphOps.betweenness(edges, maxHops = maxHops,
          maxLocalEdges = 0, // force the distributed regime
          sources = if (k == n) None else Some(pivots)).count()
        require(rows == n.toLong, s"expected $n node rows, got $rows")
      }
      val label = if (k == n) "all(exact)" else k.toString
      println(s"""{"family":"betweenness_pivots","n":$n,"edges":$edgeCount,""" +
        s""""max_hops":$maxHops,"pivots":"$label","sec":${num(sec, 2)}}""")
      System.out.flush()
    }
  }

  /**
   * Per-micro-batch cost curve of [[pipeline.Dedup.dedupStreamNear]]:
   * `batches` parquet files of `batchRows` hash-random docs (~no
   * near-dups, so state is maximal) fed with maxFilesPerTrigger=1. Flat
   * per-batch latency as state grows is the measured form of "state is
   * bounded per key". Each per-batch record carries Spark's duration
   * breakdown and the state operators' commit time. `shufflePartitions`
   * is the state-store partition count, set through
   * [[streaming.StreamTuning.sizedSession]] — the lever the gates use.
   */
  private def stream(spark: SparkSession, args: Seq[String]): Unit = {
    val batchRows = args.lift(0).map(_.toInt).getOrElse(2500)
    val batches = args.lift(1).map(_.toInt).getOrElse(16)
    val tokens = args.lift(2).map(_.toInt).getOrElse(40)
    val shufflePartitions = args.lift(3).map(_.toInt).getOrElse(32)
    val feed = java.nio.file.Files.createTempDirectory("streamscale").toString + "/feed"
    // one file per batch, mtimes ascending so maxFilesPerTrigger=1
    // replays them in batch order; timestamps inside a 1000 s window so
    // the 6 h watermark never evicts mid-run (the q88 construction)
    val t0 = 1700000000000L
    (0 until batches).foreach { b =>
      spark.range(b.toLong * batchRows, (b + 1).toLong * batchRows)
        .select(col("id").as("doc_id"),
          expr(s"""concat_ws(' ', transform(sequence(0, ${tokens - 1}),
            j -> concat('t', pmod(xxhash64(id, j), 5000))))""").as("text"),
          timestamp_seconds(lit(1767225600L) + pmod(col("id"), lit(1000)))
            .as("ts"))
        .coalesce(1).write.mode("append").parquet(feed)
      new java.io.File(feed).listFiles().filter(_.getName.endsWith(".parquet"))
        .filter(_.lastModified() > t0 + b.toLong * 60000L)
        .foreach(f => { f.setLastModified(t0 + b.toLong * 60000L): Unit })
    }
    // the query is built, started and read back in the sized session
    val sized = streaming.StreamTuning.sizedSession(spark, shufflePartitions)
    val input = sized.readStream.schema(sized.read.parquet(feed).schema)
      .option("maxFilesPerTrigger", "1").parquet(feed)
    val q = pipeline.Dedup.dedupStreamNear(input, "text", "ts",
        watermark = "6 hours", shingleN = 3, k = 12, bands = 4,
        oracleHash = true)
      .select("doc_id")
      .writeStream.format("memory").queryName("streamscale_mem")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    require(q.awaitTermination(600000), "streamscale: query did not finish within 600 s")
    // durationMs keys vary by phase; missing → 0 so rows stay rectangular
    val phases = Seq("triggerExecution", "queryPlanning", "addBatch",
      "walCommit", "commitOffsets", "latestOffset")
    val durs = q.recentProgress.toSeq.filter(_.numInputRows > 0).sortBy(_.batchId)
      .map { p =>
        val d = phases.map(k => Option(p.durationMs.get(k))
          .map(_.longValue).getOrElse(0L))
        val stateCommit = p.stateOperators.toSeq.map(_.commitTimeMs).sum
        s"""[${p.batchId},${d.mkString(",")},$stateCommit,${p.numInputRows}]"""
      }.mkString("[", ",", "]")
    q.stop()
    val survivors = sized.table("streamscale_mem").count()
    println(s"""{"family":"stream_neardup_batches","batch_rows":$batchRows,""" +
      s""""batches":$batches,"shuffle_partitions":$shufflePartitions,""" +
      s""""survivors":$survivors,""" +
      s""""per_batch_cols":"[id,${phases.mkString(",")},stateCommitMs,rows]",""" +
      s""""per_batch":$durs}""")
  }
}
