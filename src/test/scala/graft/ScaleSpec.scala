package graft

import org.apache.spark.sql.functions._

import graft.operators.Scale

/** Scale-pattern utilities: salted join correctness, skew diagnostic,
  * clustered/sorted writes with partition pruning. */
class ScaleSpec extends SparkSpec {

  test("saltedJoin == plain join result (inner + left), salt columns dropped") {
    val orders = engine.table("orders").limit(2000).cache()
    val customer = engine.table("customer")
    val plain = orders.join(customer,
      orders("o_custkey") === customer("c_custkey")).count()
    val salted = Scale.saltedJoin(orders, customer, "o_custkey", "c_custkey", salt = 4)
    assert(salted.count() == plain)
    assert(!salted.columns.contains("__salt"))
    val plainLeft = orders.join(customer,
      orders("o_custkey") === customer("c_custkey"), "left").count()
    val saltedLeft = Scale.saltedJoin(orders, customer, "o_custkey", "c_custkey",
      salt = 4, joinType = "left").count()
    assert(saltedLeft == plainLeft)
    orders.unpersist()
  }

  test("keySkew surfaces the heavy keys with shares summing ≤ 1") {
    val skew = Scale.keySkew(engine.table("lineitem"), "l_returnflag", topN = 5).collect()
    assert(skew.nonEmpty && skew.length <= 5)
    assert(skew.map(_.getAs[Double]("share")).sum <= 1.000001)
    // ordered desc
    assert(skew.map(_.getAs[Long]("cnt")).sliding(2).forall(p => p.head >= p.last))
  }

  test("writeClustered: partition pruning on the cluster key") {
    val dir = java.nio.file.Files.createTempDirectory("graft_clustered").toString + "/t"
    Scale.writeClustered(engine.table("orders"), dir, "o_orderstatus")
    val back = spark.read.parquet(dir).where(col("o_orderstatus") === "F")
    val scan = back.queryExecution.executedPlan.toString()
    assert(back.count() == engine.table("orders").where(col("o_orderstatus") === "F").count())
    // the directory layout exposes the partition filter to the scan
    assert(scan.contains("PartitionFilters") || scan.contains("o_orderstatus"))
  }

  test("writeClustered: filesPerPartition fans each directory out") {
    val base = java.nio.file.Files.createTempDirectory("graft_fanout").toString
    // AQE coalesces the tiny sf0.001 shuffle into one partition, hiding the
    // fan-out this spec observes — disable it for the write (at scale the
    // salt splits hot directories regardless)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try Scale.writeClustered(engine.table("orders"), s"$base/t", "o_orderstatus",
      filesPerPartition = 3)
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val dirs = new java.io.File(s"$base/t").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("o_orderstatus="))
    assert(dirs.nonEmpty)
    val counts = dirs.map(d => d.getName ->
      d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    // cluster parallelism is NOT capped at filesPerPartition (the key stays
    // in the repartition hash); each directory holds ≤ filesPerPartition
    // files, and the big ones actually fan out
    assert(counts.values.max >= 2 && counts.values.max <= 3, counts.toString)
    assert(spark.read.parquet(s"$base/t").count() == engine.table("orders").count())
  }

  test("writeBucketed: co-bucketed join runs with NO shuffle exchange") {
    Scale.writeBucketed(engine.table("orders")
      .select("o_orderkey", "o_custkey", "o_totalprice"), "b_orders", Seq("o_custkey"), 4)
    Scale.writeBucketed(engine.table("customer")
      .select("c_custkey", "c_name"), "b_customer", Seq("c_custkey"), 4)
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    try {
      val joined = spark.table("b_orders").join(spark.table("b_customer"),
        col("o_custkey") === col("c_custkey"))
      val n = joined.count()
      assert(n == engine.table("orders").join(engine.table("customer"),
        col("o_custkey") === col("c_custkey")).count() && n > 0)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("writeSorted: range-partitioned files carry min/max for pruning") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sorted").toString + "/t"
    Scale.writeSorted(engine.table("lineitem"), dir, Seq("l_orderkey"), partitions = 4)
    assert(Seq(".staging", ".lock", ".old").forall(s => !java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir + s))), "swap debris beside dir")
    val back = spark.read.parquet(dir)
    assert(back.count() == engine.table("lineitem").count())
    val filtered = back.where(col("l_orderkey") === 1L)
    assert(filtered.count() ==
      engine.table("lineitem").where(col("l_orderkey") === 1L).count())
  }

  test("zOrderKey: bit interleave hand-checked; writeZOrdered bounds BOTH dims per file") {
    // interleave sanity: 2 cols, identity bounds → z(x=0b10, y=0b01) with
    // 2 bits = bits x1 y1 x0 y0 = 0b1001 = 9
    val z = spark.createDataFrame(Seq((2L, 1L))).toDF("x", "y")
      .select(Scale.zOrderKey(Seq(col("x"), col("y")),
        Seq((0.0, 3.0), (0.0, 3.0)), bits = 2))
      .collect()(0).getLong(0)
    assert(z == 9L)

    // 256×256 grid → 16 z-range files: each file must stay a tight patch
    // in BOTH x and y (a 1-D sort bounds only its leading column)
    val grid = spark.range(0, 65536).selectExpr(
      "id % 256 AS x", "id DIV 256 AS y", "id AS payload")
    val dir = java.nio.file.Files.createTempDirectory("graft_z").toString + "/t"
    Scale.writeZOrdered(grid, dir, Seq("x", "y"), bits = 8, partitions = 16)
    val back = spark.read.parquet(dir)
    assert(back.count() == 65536L)
    assert(back.agg(org.apache.spark.sql.functions.sum("payload")).head().getLong(0)
      == 65536L * 65535 / 2)
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.getAbsolutePath)
    assert(files.length > 8)
    val spreads = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(org.apache.spark.sql.functions.max("x") - org.apache.spark.sql.functions.min("x"),
             org.apache.spark.sql.functions.max("y") - org.apache.spark.sql.functions.min("y"))
        .head()
      (r.getLong(0), r.getLong(1))
    }
    // Morton locality is aggregate, not per-file: a z-range crossing a
    // top-level quadrant boundary legitimately spans that dim once. Claim
    // the AVERAGE envelope stays tight in BOTH dims — and beat the 1-D
    // control, whose every file spans the full non-leading dimension.
    val (avgX, avgY) = (spreads.map(_._1).sum.toDouble / spreads.length,
      spreads.map(_._2).sum.toDouble / spreads.length)
    assert(avgX < 128 && avgY < 128,
      s"average per-file spread too wide: $avgX × $avgY (${spreads.mkString(", ")})")

    val dir1 = java.nio.file.Files.createTempDirectory("graft_z1").toString + "/t"
    Scale.writeSorted(grid, dir1, Seq("x"), partitions = 16)
    val control = new java.io.File(dir1).listFiles()
      .filter(_.getName.endsWith(".parquet")).map { f =>
        spark.read.parquet(f.getAbsolutePath)
          .agg(org.apache.spark.sql.functions.max("y") - org.apache.spark.sql.functions.min("y"))
          .head().getLong(0)
      }
    assert(control.forall(_ == 255L)) // 1-D sort: y unbounded in every file
  }

  test("ScaleGen clustered geometry: deterministic, hierarchical, bridged") {
    import spark.implicits._
    val ids = (0L until 400L).map(i => (i, 0)).toDF("vec_id", "label")
    val a = ScaleGen.clusteredEmbedding(ids, 64).orderBy("vec_id")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val b = ScaleGen.clusteredEmbedding(ids, 64).orderBy("vec_id")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    assert(a.map(_._2.toSeq).toSeq == b.map(_._2.toSeq).toSeq) // pure function
    assert(a.forall(_._2.length == 64))
    // replicate the kernel's own id hashing to label each point
    def h(v: Long, salt: Long): Long = {
      // xxhash64 via a one-row Spark eval — the SAME function the kernel uses
      spark.range(1).select(pmod(xxhash64(lit(v), lit(salt)),
        lit(if (salt == 31L) 5L else 1024L))).head().getLong(0)
    }
    val meta = a.map { case (id, vec) =>
      val u = h(id, 9901L); val bg = h(id, 31L) == 0L
      (id, u, u % 16L, bg, vec)
    }
    def d2(x: Array[Float], y: Array[Float]): Double =
      x.zip(y).map { case (p, q) => (p - q).toDouble * (p - q) }.sum
    val core = meta.filter(!_._4) // non-bridge points
    // hierarchy: every same-micro distance is below every cross-macro
    // distance (the separation the ANN recall rehearsal rides on)
    val byMicro = core.groupBy(_._2).filter(_._2.length >= 2)
    assert(byMicro.nonEmpty, "fixture too small to form micro pairs")
    val sameMicro = byMicro.values.flatMap(g =>
      g.combinations(2).map(p => d2(p(0)._5, p(1)._5))).toSeq
    val crossMacro = core.combinations(2).filter(p => p(0)._3 != p(1)._3)
      .take(2000).map(p => d2(p(0)._5, p(1)._5)).toSeq
    assert(sameMicro.max < crossMacro.min,
      s"hierarchy broken: same-micro max ${sameMicro.max} >= cross-macro min ${crossMacro.min}")
    // bridges exist at roughly the designed 20% rate (hash-binomial band)
    val bgFrac = meta.count(_._4).toDouble / meta.length
    assert(bgFrac > 0.12 && bgFrac < 0.28, s"bridge fraction $bgFrac")
  }
}
