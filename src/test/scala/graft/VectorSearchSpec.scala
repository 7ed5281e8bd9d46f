package graft

import org.apache.spark.sql.functions._

import graft.vector.{GraphAnn, VectorSearch}

/** ANN paths vs the exact oracle on TESTDATA embeddings (SURVEY.md §2.10). */
class VectorSearchSpec extends SparkSpec {

  private lazy val embs = engine.table("embeddings")
  private lazy val query: Seq[Double] =
    embs.where(col("vec_id") === 3).select("embedding").head.getSeq[Float](0).map(_.toDouble)

  test("exact: self is nearest with distance 0 (cosine)") {
    val top = VectorSearch.exact(embs, "vec_id", "embedding", query, topK = 5, metric = "cosine")
      .collect()
    assert(top.head.getLong(0) == 3L)
    assert(top.head.getDouble(1) == 0.0)
    assert(top.map(_.getDouble(1)).sliding(2).forall(p => p(0) <= p(1)))
    assert(top.forall(r => r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0))
  }

  test("exact: distanceThreshold filters (tostore.dart:493-511)") {
    val all = VectorSearch.exact(embs, "vec_id", "embedding", query, topK = 100, metric = "l2")
    val thr = all.collect()(10).getDouble(1)
    val filtered = VectorSearch.exact(embs, "vec_id", "embedding", query,
      topK = 100, metric = "l2", distanceThreshold = Some(thr))
    assert(filtered.collect().forall(_.getDouble(1) <= thr))
  }

  test("all three metrics produce consistent top-1 = self") {
    Seq("l2", "cosine", "innerProduct").foreach { m =>
      val top = VectorSearch.exact(embs, "vec_id", "embedding", query, topK = 1, metric = m)
        .collect()
      assert(top.head.getLong(0) == 3L, s"metric $m")
    }
  }

  test("binarySearch: corpus-wide window degenerates to exact; self top-1; recall published") {
    val n = embs.count().toInt
    val exact = VectorSearch.exact(embs, "vec_id", "embedding", query,
      topK = 10, metric = "l2").collect().map(r => (r.getLong(0), r.getDouble(1)))
    // degeneration: window ≥ corpus ⇒ bit-for-bit the exact result
    val degen = VectorSearch.binarySearch(embs, "vec_id", "embedding", query,
      topK = 10, metric = "l2", rerankFactor = n / 10 + 1)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(degen.toSeq == exact.toSeq)
    // production factor: self (hamming 0) always survives the prefilter
    val prod = VectorSearch.binarySearch(embs, "vec_id", "embedding", query,
      topK = 10, metric = "l2", rerankFactor = 10)
      .collect().map(_.getLong(0))
    assert(prod.head == 3L)
    // measured recall@10 at rf=10 on TESTDATA (hash-random vectors are the
    // WORST case for direction-only quantization — real embeddings with
    // angular structure do far better; deterministic, so any drift is loud)
    val recall = prod.toSet.intersect(exact.map(_._1).toSet).size / 10.0
    assert(recall >= 0.1 && recall <= 1.0, s"recall@10=$recall")
  }

  test("IVF: recall@10 ≥ 0.7 with nprobe=3/nlist=8; full probe = exact") {
    val model = VectorSearch.ivfTrain(embs, "embedding", nlist = 8)
    val indexed = VectorSearch.ivfIndex(embs, model, "embedding").cache()
    val exact = VectorSearch.exact(embs, "vec_id", "embedding", query, topK = 10, metric = "cosine")
      .collect().map(_.getLong(0)).toSet
    val ann = VectorSearch.ivfSearch(indexed, model, "vec_id", "embedding", query,
      topK = 10, nprobe = 3).collect().map(_.getLong(0)).toSet
    assert((exact & ann).size >= 7, s"recall too low: ${(exact & ann).size}/10")
    val full = VectorSearch.ivfSearch(indexed, model, "vec_id", "embedding", query,
      topK = 10, nprobe = 8).collect().map(_.getLong(0)).toSet
    assert(full == exact) // probing every cell degenerates to exact
    indexed.unpersist()
  }

  test("filtered ANN: escalation terminates at exact-over-filter; probes post-filter in-scan") {
    val model = VectorSearch.ivfTrain(embs, "embedding", nlist = 8)
    val indexed = VectorSearch.ivfIndex(embs, model, "embedding").cache()
    val pred = col("label") === 3 // 43 rows at sf0.001, spread over cells
    // topK > |matches| forces the ladder to the terminal full-probe rung,
    // which must EQUAL the exact filtered scan (same rows, same order)
    val got = VectorSearch.ivfSearchFiltered(indexed, model, "vec_id",
      "embedding", pred, query, topK = 100, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val want = VectorSearch.exact(embs.where(pred), "vec_id", "embedding",
      query, topK = 100, metric = "cosine")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == want.toSeq)
    // approximate regime: small topK satisfiable within probed cells —
    // returns exactly topK rows, every one passing the predicate
    val approx = VectorSearch.ivfSearchFiltered(indexed, model, "vec_id",
      "embedding", pred, query, topK = 3, nprobe = 8).collect()
    assert(approx.length == 3)
    val labels = embs.where(pred).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(approx.forall(r => labels.contains(r.getLong(0))))
    indexed.unpersist()
  }

  test("hardNegatives: other-label only, below the near-dup ceiling, hardest first") {
    val got = VectorSearch.hardNegatives(embs, "vec_id", "embedding", "label",
      col("vec_id") < 3, topK = 4, nearDupCeil = 0.95).collect()
    assert(got.length == 12) // 3 anchors × 4
    val labelOf = embs.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.get(1).toString).toMap
    got.foreach { r =>
      val (qid, pk, sim) = (r.getAs[Long]("qid"), r.getAs[Long]("pk"),
        r.getAs[Double]("sim"))
      assert(labelOf(pk) != labelOf(qid), s"same-label negative $pk for $qid")
      assert(sim < 0.95)
    }
    // per anchor: ranked by sim desc; rank-1 is the global hardest eligible
    got.groupBy(_.getAs[Long]("qid")).foreach { case (_, rows) =>
      val sims = rows.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("sim"))
      assert(sims.sameElements(sims.sortBy(-(_: Double))))
    }
  }

  test("IVF clustered layout: probe prunes partitions PHYSICALLY; recall@10 ≥ 0.9 at nprobe=4") {
    val base = java.nio.file.Files.createTempDirectory("graft_ivf_spec").toString
    val model = VectorSearch.ivfTrain(embs, "embedding", nlist = 8)
    VectorSearch.ivfWriteClustered(embs, "embedding", model, s"$base/emb")
    val clustered = spark.read.parquet(s"$base/emb")
    val ann = VectorSearch.ivfSearch(clustered, model, "vec_id", "embedding", query,
      topK = 10, nprobe = 3)
    // the __ivf_cell IN-filter must land in PartitionFilters (file pruning),
    // not a post-scan Filter: assert on the scan node itself
    val scans = ann.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty, "no FileSourceScanExec in IVF probe plan")
    val scan = scans.head
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "__ivf_cell")),
      s"__ivf_cell not in partitionFilters: ${scan.partitionFilters}")
    assert(scan.selectedPartitions.partitionCount <= 3,
      s"probe read ${scan.selectedPartitions.partitionCount} partitions, expected ≤ nprobe=3")
    // published recall (SURVEY §7.3): ≥0.9 at nprobe=4, 1.0 at full probe,
    // monotone in nprobe, scanned fraction strictly < 1 while probing < nlist
    val report = VectorSearch.ivfRecallReport(embs, "vec_id", "embedding",
      s"$base/emb_rec", queryIds = 0L until 8L, nprobes = Seq(1, 2, 4, 8), nlist = 8)
      .orderBy("nprobe").collect()
    val byNp = report.map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(byNp(4)._1 >= 0.9, s"recall@10 at nprobe=4 = ${byNp(4)._1}")
    assert(byNp(8)._1 == 1.0, "full probe must equal exact")
    assert(report.map(_.getDouble(1)).sliding(2).forall(p => p(0) <= p(1)),
      "recall must be monotone in nprobe")
    assert(byNp(1)._2 < 1.0 && byNp(4)._2 < 1.0, "probe must scan a strict subset")
  }

  test("ivfSave/ivfLoad: persisted model probes identically (no retrain)") {
    val model = VectorSearch.ivfTrain(embs, "embedding", nlist = 8)
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_model").toString + "/m"
    VectorSearch.ivfSave(model, spark, path)
    assert(Seq(".staging", ".lock", ".old").forall(s => !java.nio.file.Files.exists(
      java.nio.file.Paths.get(path + s))), "swap debris beside path")
    val loaded = VectorSearch.ivfLoad(spark, path)
    assert(loaded.metric == model.metric)
    assert(loaded.centroids.length == model.centroids.length)
    // exact double round-trip → identical cell assignment and probe order
    assert(loaded.centroids.zip(model.centroids).forall { case (a, b) => a.sameElements(b) })
    assert(loaded.nearestCells(query, 4) == model.nearestCells(query, 4))
    val indexed = VectorSearch.ivfIndex(embs, model, "embedding")
    val a = VectorSearch.ivfSearch(indexed, model, "vec_id", "embedding", query, 10, 3)
      .collect().map(_.getLong(0)).toSeq
    val b = VectorSearch.ivfSearch(indexed, loaded, "vec_id", "embedding", query, 10, 3)
      .collect().map(_.getLong(0)).toSeq
    assert(a == b)
  }

  test("batched multi-query search matches the per-query operators") {
    def qv(id: Long): Seq[Double] =
      embs.where(col("vec_id") === id).select("embedding").head
        .getSeq[Float](0).map(_.toDouble).toSeq
    val queries = Seq(3L, 7L, 11L).map(id => id -> qv(id))
    val batch = VectorSearch.exactBatch(embs, "vec_id", "embedding", queries, topK = 5)
      .collect().groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getInt(4)).map(_.getLong(1)).toSeq).toMap
    queries.foreach { case (qid, v) =>
      val single = VectorSearch.exact(embs, "vec_id", "embedding", v, topK = 5,
        metric = "cosine").collect().map(_.getLong(0)).toSeq
      assert(batch(qid) == single, s"exactBatch diverges for qid=$qid")
    }
    val base = java.nio.file.Files.createTempDirectory("graft_ivf_batch").toString
    val model = VectorSearch.ivfTrain(embs, "embedding", nlist = 8)
    VectorSearch.ivfWriteClustered(embs, "embedding", model, s"$base/emb")
    val clustered = spark.read.parquet(s"$base/emb")
    val annBatch = VectorSearch.ivfSearchBatch(clustered, model, "vec_id", "embedding",
      queries, topK = 5, nprobe = 3)
      .collect().groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getInt(4)).map(_.getLong(1)).toSeq).toMap
    queries.foreach { case (qid, v) =>
      val single = VectorSearch.ivfSearch(clustered, model, "vec_id", "embedding", v,
        topK = 5, nprobe = 3).collect().map(_.getLong(0)).toSeq
      assert(annBatch(qid) == single, s"ivfSearchBatch diverges for qid=$qid")
    }
  }

  test("searchQuantized: int8 pre-filter + exact re-rank ≈ exact (reference PQ ADC shape)") {
    val quantized = embs.select(col("vec_id"), col("embedding"),
      VectorSearch.quantizeInt8(col("embedding")).as("q8"))
    val approx = VectorSearch.searchQuantized(quantized, "vec_id", "q8", "embedding",
      query, topK = 10, rerankFactor = 4).collect()
    val exact = VectorSearch.exact(embs, "vec_id", "embedding", query, topK = 10,
      metric = "cosine").collect()
    // distances come from the FULL-precision re-rank → exact values for
    // every candidate the int8 stage kept; top-1 is always self
    assert(approx.head.getLong(0) == 3L && approx.head.getDouble(1) == 0.0)
    val overlap = (approx.map(_.getLong(0)).toSet & exact.map(_.getLong(0)).toSet).size
    assert(overlap >= 9, s"int8 pre-filter recall too low: $overlap/10")
    val exactD = exact.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    approx.foreach(r => exactD.get(r.getLong(0)).foreach(d =>
      assert(r.getDouble(1) == d, s"re-rank distance must be exact for ${r.getLong(0)}")))
  }

  test("ivfCell assigns every row to a valid cell") {
    val model = VectorSearch.ivfTrain(embs, "embedding", nlist = 4)
    val cells = VectorSearch.ivfIndex(embs, model, "embedding")
      .select("__ivf_cell").distinct().collect().map(_.getInt(0)).toSet
    assert(cells.forall(c => c >= 0 && c < 4))
  }

  test("PQ: codes valid, ADC beats random ranking, re-rank recovers exact top-10") {
    val model = VectorSearch.pqTrain(embs, "embedding", m = 8, k = 16)
    assert(model.m == 8 && model.k == 16 && model.dsub == 8)
    val coded = embs.select(col("vec_id"), col("embedding"),
      VectorSearch.pqEncode(model, col("embedding")).as("pq"))
    // every code is a valid centroid index in every subspace
    val bad = coded.where(exists(col("pq"), c => c < 0 || c >= 16)).count()
    assert(bad == 0)
    // ADC approximation orders the true self-match first (its codes hit
    // the query's own nearest centroids → LUT sum is the minimal one)
    val adc = coded.select(col("vec_id"),
        VectorSearch.pqAdcDist(model, query, col("pq")).as("d"))
      .orderBy(col("d").asc, col("vec_id").asc).limit(40)
      .collect().map(_.getLong(0)).toSet
    assert(adc.contains(3L), "ADC candidate set must contain the true match")
    // full pipeline: two-stage PQ search == exact search at rerankFactor 8
    val approx = VectorSearch.pqSearch(coded, "vec_id", "pq", "embedding",
      model, query, topK = 10, metric = "l2", rerankFactor = 8).collect()
    val exact = VectorSearch.exact(embs, "vec_id", "embedding", query,
      topK = 10, metric = "l2").collect()
    val overlap = (approx.map(_.getLong(0)).toSet & exact.map(_.getLong(0)).toSet).size
    assert(overlap >= 9, s"PQ recall too low: $overlap/10")
    assert(approx.head.getLong(0) == 3L && approx.head.getDouble(1) == 0.0)
    // determinism: retraining with the same seed yields identical codebooks
    val model2 = VectorSearch.pqTrain(embs, "embedding", m = 8, k = 16)
    assert(model.codebooks.flatten.flatten.toSeq == model2.codebooks.flatten.flatten.toSeq)
  }

  test("pqTrainCapped: sub-cap passthrough bit-identical; above-cap samples and trains") {
    // sub-cap: must be the SAME model as pqTrain (no sampling applied)
    val direct = VectorSearch.pqTrain(embs, "embedding", m = 8, k = 16)
    val capped = VectorSearch.pqTrainCapped(embs, "vec_id", "embedding", m = 8, k = 16)
    assert(direct.codebooks.flatten.flatten.toSeq ==
      capped.codebooks.flatten.flatten.toSeq)
    // above-cap: a tiny cap forces the deterministic hash sample; train
    // succeeds where pqTrain would refuse, and the sample is stable
    val n = embs.count()
    val small = VectorSearch.pqTrainCapped(embs, "vec_id", "embedding",
      m = 8, k = 4, maxTrainRows = (n / 4).toInt)
    val small2 = VectorSearch.pqTrainCapped(embs, "vec_id", "embedding",
      m = 8, k = 4, maxTrainRows = (n / 4).toInt)
    assert(small.codebooks.flatten.flatten.toSeq ==
      small2.codebooks.flatten.flatten.toSeq)
    intercept[IllegalArgumentException] {
      VectorSearch.pqTrain(embs.limit((n / 4).toInt + 1), "embedding",
        m = 8, k = 4, maxTrainRows = (n / 4).toInt)
    }
  }

  test("IVF-PQ composition: cell pruning + ADC + re-rank, distances stay exact") {
    val ivf = VectorSearch.ivfTrain(embs, "embedding", nlist = 4, metric = "l2")
    val pq = VectorSearch.pqTrain(embs, "embedding", m = 8, k = 16)
    val indexed = VectorSearch.ivfIndex(embs, ivf, "embedding")
      .withColumn("pq", VectorSearch.pqEncode(pq, col("embedding")))
    // all cells probed → identical to plain pqSearch
    val all = VectorSearch.ivfPqSearch(indexed, ivf, pq, "vec_id", "pq",
      "embedding", query, topK = 10, nprobe = 4, rerankFactor = 8).collect()
    val plain = VectorSearch.pqSearch(indexed, "vec_id", "pq", "embedding",
      pq, query, topK = 10, metric = "l2", rerankFactor = 8).collect()
    assert(all.map(_.getLong(0)).toSeq == plain.map(_.getLong(0)).toSeq)
    // narrow probe: the query's own cell is probed first → self always found,
    // and every returned distance is the full-precision exact value
    val narrow = VectorSearch.ivfPqSearch(indexed, ivf, pq, "vec_id", "pq",
      "embedding", query, topK = 10, nprobe = 1, rerankFactor = 8).collect()
    assert(narrow.head.getLong(0) == 3L && narrow.head.getDouble(1) == 0.0)
    val exactD = VectorSearch.exact(embs, "vec_id", "embedding", query,
      topK = 2000, metric = "l2").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    narrow.foreach(r => assert(r.getDouble(1) == exactD(r.getLong(0))))
  }

  test("pqSave/pqLoad: persisted codebooks encode and rank identically (no retrain)") {
    val model = VectorSearch.pqTrain(embs, "embedding", m = 8, k = 16)
    val path = java.nio.file.Files.createTempDirectory("graft_pq_model").toString + "/m"
    VectorSearch.pqSave(model, spark, path)
    assert(Seq(".staging", ".lock", ".old").forall(s => !java.nio.file.Files.exists(
      java.nio.file.Paths.get(path + s))), "swap debris beside path")
    val loaded = VectorSearch.pqLoad(spark, path)
    assert(loaded.m == model.m && loaded.k == model.k && loaded.dim == model.dim)
    // exact double round-trip → bit-identical codebooks
    assert(loaded.codebooks.flatten.flatten.toSeq == model.codebooks.flatten.flatten.toSeq)
    val coded = embs.select(col("vec_id"), col("embedding"),
      VectorSearch.pqEncode(model, col("embedding")).as("pq"))
    val a = VectorSearch.pqSearch(coded, "vec_id", "pq", "embedding",
      model, query, topK = 10, metric = "l2").collect().map(_.getLong(0)).toSeq
    val b = VectorSearch.pqSearch(coded, "vec_id", "pq", "embedding",
      loaded, query, topK = 10, metric = "l2").collect().map(_.getLong(0)).toSeq
    assert(a == b)
  }

  test("pqSearchBatch / ivfPqSearchBatch match the per-query operators") {
    def qv(id: Long): Seq[Double] =
      embs.where(col("vec_id") === id).select("embedding").head
        .getSeq[Float](0).map(_.toDouble).toSeq
    val queries = Seq(3L, 7L, 11L).map(id => id -> qv(id))
    val pq = VectorSearch.pqTrain(embs, "embedding", m = 8, k = 16)
    val coded = embs.select(col("vec_id"), col("embedding"),
      VectorSearch.pqEncode(pq, col("embedding")).as("pq"))
    def byQid(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      df.collect().groupBy(_.getLong(0)).view
        .mapValues(_.sortBy(_.getInt(4)).map(_.getLong(1)).toSeq).toMap
    val batch = byQid(VectorSearch.pqSearchBatch(coded, "vec_id", "pq", "embedding",
      pq, queries, topK = 5, rerankFactor = 8))
    queries.foreach { case (qid, v) =>
      val single = VectorSearch.pqSearch(coded, "vec_id", "pq", "embedding",
        pq, v, topK = 5, metric = "l2", rerankFactor = 8)
        .collect().map(_.getLong(0)).toSeq
      assert(batch(qid) == single, s"pqSearchBatch diverges for qid=$qid")
    }
    // IVF-PQ batch over a physically clustered layout
    val ivf = VectorSearch.ivfTrain(embs, "embedding", nlist = 4, metric = "l2")
    val base = java.nio.file.Files.createTempDirectory("graft_ivfpq_batch").toString
    graft.operators.Scale.writeClustered(
      VectorSearch.ivfIndex(coded, ivf, "embedding"), s"$base/emb", "__ivf_cell")
    val clustered = spark.read.parquet(s"$base/emb")
    val annBatch = byQid(VectorSearch.ivfPqSearchBatch(clustered, ivf, pq,
      "vec_id", "pq", "embedding", queries, topK = 5, nprobe = 2, rerankFactor = 8))
    queries.foreach { case (qid, v) =>
      val single = VectorSearch.ivfPqSearch(clustered, ivf, pq, "vec_id", "pq",
        "embedding", v, topK = 5, nprobe = 2, rerankFactor = 8)
        .collect().map(_.getLong(0)).toSeq
      assert(annBatch(qid) == single, s"ivfPqSearchBatch diverges for qid=$qid")
    }
    // plan shape: the batch probe's scans stay inside the probed-cell
    // UNION — __ivf_cell lands in partitionFilters (file pruning), and
    // with nlist=4 / nprobe=2 / 3 queries the union must stay < nlist
    // unless the queries genuinely cover all cells
    val batchDf = VectorSearch.ivfPqSearchBatch(clustered, ivf, pq,
      "vec_id", "pq", "embedding", queries, topK = 5, nprobe = 1, rerankFactor = 8)
    val scans = batchDf.queryExecution.sparkPlan.collect {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc
    }
    assert(scans.nonEmpty)
    scans.foreach { sc =>
      assert(sc.partitionFilters.exists(_.references.exists(_.name == "__ivf_cell")),
        s"__ivf_cell not in partitionFilters: ${sc.partitionFilters}")
      assert(sc.selectedPartitions.partitionCount <= 3,
        s"nprobe=1 × 3 queries must touch ≤ 3 cells, saw ${sc.selectedPartitions.partitionCount}")
    }
  }

  test("PqAdcExpr kernel == HOF formulation (byte-identity incl. null codes)") {
    val model = VectorSearch.pqTrain(embs, "embedding", m = 8, k = 16)
    // null vectors encode to null codes — the kernel must null-propagate
    // exactly like the HOF chain
    val coded = embs.select(col("vec_id"),
        when(col("vec_id") % 97 === 0, lit(null)).otherwise(col("embedding")).as("v"))
      .select(col("vec_id"), VectorSearch.pqEncode(model, col("v")).as("pq"))
    val cmp = coded.select(col("vec_id"),
      VectorSearch.pqAdcDist(model, query, col("pq")).as("kern"))
    // rebuild the HOF form against the same literal LUT via the public twin
    val lutCol = {
      val dsub = model.dsub
      array(model.codebooks.zipWithIndex.map { case (book, s) =>
        val qs = query.slice(s * dsub, (s + 1) * dsub)
        array(book.map(c => lit(qs.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum)): _*)
      }: _*)
    }
    val hof = coded.select(col("vec_id"),
      VectorSearch.adcDistFromLutHof(lutCol, col("pq"), model.m).as("hof"))
    val joined = cmp.join(hof, "vec_id")
    assert(joined.where(col("kern").isNull =!= col("hof").isNull).count() == 0)
    assert(joined.where(col("kern") =!= col("hof")).count() == 0)
    assert(joined.where(col("kern").isNull).count() > 0, "null-code rows must exist")
  }

  test("DequantizeInt8Expr kernel == HOF formulation (byte-identity incl. null vectors)") {
    val quant = embs.select(col("vec_id"),
        when(col("vec_id") % 97 === 0, lit(null)).otherwise(col("embedding")).as("v"))
      .select(col("vec_id"), VectorSearch.quantizeInt8(col("v")).as("q8"))
    val cmp = quant.select(col("vec_id"),
      VectorSearch.dequantizeInt8(col("q8")).as("kern"),
      VectorSearch.dequantizeInt8Hof(col("q8")).as("hof"))
    assert(cmp.where(col("kern").isNull =!= col("hof").isNull).count() == 0)
    assert(cmp.where(col("kern") =!= col("hof")).count() == 0)
  }

  test("pqRecallReport: monotone recall in rerankFactor, ≥0.9 at 20, true compression") {
    val report = VectorSearch.pqRecallReport(embs, "vec_id", "embedding",
      queryIds = 0L until 8L, rerankFactors = Seq(1, 2, 8, 20), topK = 10)
      .orderBy("rerank_factor").collect()
    val recalls = report.map(_.getDouble(1)).toSeq
    assert(recalls.sliding(2).forall(p => p(0) <= p(1)), s"recall not monotone: $recalls")
    // near-isotropic TESTDATA embeddings (q55's documented regime): the
    // report EXPOSES the tradeoff; the q90 gate separately pins exact
    // recovery for its query set at rf=20
    assert(recalls.last >= 0.9, s"rerankFactor 20 recall floor: $recalls")
    // candidate_frac grows with the window and stays a strict subset
    val fracs = report.map(_.getDouble(2)).toSeq
    assert(fracs.sliding(2).forall(p => p(0) <= p(1)) && fracs.forall(_ < 1.0))
    // dim=64 float32 vectors vs m=8 byte codes → 32× smaller
    assert(report.forall(_.getDouble(3) == 32.0))
  }

  test("LSH similarity join returns only pairs within maxL2, a<b") {
    val out = VectorSearch.lshSimilarityJoin(embs.limit(200), "vec_id", "embedding",
      maxL2 = 1.2).collect()
    assert(out.forall(_.getDouble(2) <= 1.2))
    assert(out.forall(r => r.getLong(0) < r.getLong(1)))
  }

  private def graphQueries(ids: Seq[Long]): Seq[(Long, Seq[Double])] = ids.map { id =>
    id -> embs.where(col("vec_id") === id).select("embedding").head
      .getSeq[Float](0).map(_.toDouble).toSeq
  }

  test("GraphAnn: efSearch ≥ shard size degenerates to EXACT (ring connectivity), deterministic build") {
    val graph = GraphAnn.graphBuild(embs, "vec_id", "embedding",
      shards = 4, maxDegree = 8, efConstruction = 24)
    // bounded degree (maxDegree + re-armed ring edge), every pk present once
    val rows = graph.collect()
    assert(rows.length == embs.count())
    assert(rows.forall(_.getSeq[Long](3).size <= 9))
    assert(rows.map(_.getLong(1)).distinct.length == rows.length)
    // one entry point per shard
    val entries = rows.filter(_.getBoolean(4)).groupBy(_.getInt(0))
    assert(entries.values.forall(_.length == 1) && entries.size == 4)
    // exact degeneration: generous beam == exactBatch, row for row
    val queries = graphQueries(Seq(3L, 7L, 11L))
    val ann = GraphAnn.graphSearchBatch(graph, queries, topK = 10,
        efSearch = 100000, assumeColocated = true)
      .collect().map(r => (r.getLong(0), r.getInt(4), r.getLong(1), r.getDouble(2)))
    val exact = VectorSearch.exactBatch(embs, "vec_id", "embedding", queries,
        topK = 10, metric = "l2")
      .collect().map(r => (r.getLong(0), r.getInt(4), r.getLong(1), r.getDouble(2)))
    assert(ann.sorted.toSeq == exact.sorted.toSeq,
      "generous-beam graph search must equal the exact scan")
    // deterministic: same seed → identical adjacency
    val again = GraphAnn.graphBuild(embs, "vec_id", "embedding",
      shards = 4, maxDegree = 8, efConstruction = 24)
      .collect().map(r => r.getLong(1) -> r.getSeq[Long](3)).toMap
    assert(rows.forall(r => again(r.getLong(1)) == r.getSeq[Long](3)))
  }

  test("GraphAnn: save/load round-trip serves identically; staged artifacts clean") {
    val graph = GraphAnn.graphBuild(embs, "vec_id", "embedding",
      shards = 4, maxDegree = 8, efConstruction = 24)
    val base = java.nio.file.Files.createTempDirectory("graft_graph").toString
    GraphAnn.graphSave(graph, s"$base/g")
    assert(!new java.io.File(s"$base/g.staging").exists())
    assert(!new java.io.File(s"$base/g.lock").exists())
    val loaded = GraphAnn.graphLoad(spark, s"$base/g")
    val queries = graphQueries(Seq(3L, 11L))
    def res(g: org.apache.spark.sql.DataFrame, colocated: Boolean) =
      GraphAnn.graphSearchBatch(g, queries, topK = 5, efSearch = 32,
        assumeColocated = colocated)
        .collect().map(r => (r.getLong(0), r.getInt(4), r.getLong(1))).sorted.toSeq
    assert(res(loaded, colocated = false) == res(graph, colocated = true),
      "persisted graph must serve the same results (incl. re-co-location)")
  }

  test("GraphAnn × IVF: cluster-sharded graphs, probed-cell search reads only probed graphs") {
    val model = VectorSearch.ivfTrain(embs, "embedding", nlist = 8)
    val celled = embs.withColumn("__cell",
      VectorSearch.ivfCell(model, col("embedding")))
    val graph = GraphAnn.graphBuild(celled, "vec_id", "embedding",
      shards = 8, maxDegree = 8, efConstruction = 24, shardCol = Some("__cell"))
    // shard ids ARE the ivf cells
    val cells = graph.select("__shard").distinct().collect().map(_.getInt(0)).toSet
    assert(cells.subsetOf((0 until 8).toSet) && cells.size > 1)
    val queries = graphQueries(Seq(3L, 11L))
    // full probe + generous beam == exact (sharding never affects the merge)
    val full = GraphAnn.graphSearchBatch(graph, queries, topK = 10,
        efSearch = 100000, assumeColocated = true)
      .collect().map(r => (r.getLong(0), r.getInt(4), r.getLong(1))).sorted.toSeq
    val exact = VectorSearch.exactBatch(embs, "vec_id", "embedding", queries,
        topK = 10, metric = "l2")
      .collect().map(r => (r.getLong(0), r.getInt(4), r.getLong(1))).sorted.toSeq
    assert(full == exact)
    // probed search: results come ONLY from the probed cells' vectors,
    // and probing each query's nearest cells keeps high recall
    val probe = queries.flatMap { case (_, qv) => model.nearestCells(qv, 3) }.distinct
    val pkCell = celled.select(col("vec_id"), col("__cell")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val probedRes = GraphAnn.graphSearchBatch(graph, queries, topK = 10,
      efSearch = 100000, assumeColocated = true, probeShards = Some(probe))
      .collect()
    assert(probedRes.forall(r => probe.contains(pkCell(r.getLong(1)))),
      "probed search must not touch unprobed cells")
    val probedTop = probedRes.groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(1)).toSet).toMap
    val exactTop = exact.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val recall = queries.map { case (qid, _) =>
      (probedTop.getOrElse(qid, Set.empty) & exactTop(qid)).size.toDouble / 10
    }.sum / queries.size
    assert(recall >= 0.8, s"nprobe=3/nlist=8 recall too low: $recall")
  }

  test("graphRecallReport: exact at generous ef, visited_frac measured < 1 at tight ef") {
    val report = GraphAnn.graphRecallReport(embs, "vec_id", "embedding",
      queryIds = Seq(3L, 7L, 11L), efs = Seq(4, 32, 100000), topK = 10,
      shards = 4, maxDegree = 8, efConstruction = 24).collect()
    val recalls = report.map(_.getDouble(1)).toSeq
    assert(recalls.last == 1.0, s"generous beam must be exact: $recalls")
    assert(recalls.head <= recalls.last)
    val fracs = report.map(_.getDouble(2)).toSeq
    // tight beam touches a strict subset; generous beam touches all nodes
    assert(fracs.head < 1.0, s"ef=4 must prune: $fracs")
    assert(fracs.last == 1.0, s"ef=∞ visits everything (connected): $fracs")
  }
}
