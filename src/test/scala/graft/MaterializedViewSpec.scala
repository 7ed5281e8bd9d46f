package graft

import org.apache.spark.sql.functions._

import graft.plans.MaterializedViews

class MaterializedViewSpec extends SparkSpec {

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"mvspec_$name")
    d.toFile.deleteOnExit()
    d.toString
  }

  /** Root paths of every file scan in the optimized plan. */
  private def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
    }.flatten

  test("aggregate over a registered base rewrites to the summary and stays exact") {
    val base = tmp("base")
    engine.table("lineitem")
      .select("l_returnflag", "l_linestatus", "l_quantity")
      .write.mode("overwrite").parquet(base)
    val mv = tmp("mv")
    MaterializedViews.create(spark, base, mv,
      dims = Seq("l_returnflag", "l_linestatus"),
      aggSpecs = Seq(("sum", "l_quantity"), ("count", "*"),
        ("min", "l_quantity"), ("max", "l_quantity")))
    val q = spark.read.parquet(base).groupBy("l_returnflag")
      .agg(sum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("cnt"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"))
    // rewrite engaged: the optimized plan scans the summary, not the base
    val paths = scanPaths(q)
    assert(paths.exists(_.contains(mv)), s"expected MV scan, got $paths")
    assert(!paths.exists(_.contains(base)))
    // and is EXACT vs the direct base aggregation (computed without the
    // rewrite by grouping on a derived column the rule won't touch)
    val direct = spark.read.parquet(base)
      .withColumn("rf", col("l_returnflag"))
      .groupBy("rf")
      .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("cnt"),
        min(col("l_quantity")).as("min_qty"), max(col("l_quantity")).as("max_qty"))
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    val got = q.collect().map(r => r.getString(0) ->
      ((r.getDouble(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got == direct)
  }

  test("post-agg projection collapsed into the Aggregate still rewrites (q139 regression)") {
    val base = tmp("base5")
    engine.table("lineitem")
      .select("l_returnflag", "l_quantity")
      .write.mode("overwrite").parquet(base)
    val mv = tmp("mv5")
    MaterializedViews.create(spark, base, mv,
      dims = Seq("l_returnflag"), aggSpecs = Seq(("sum", "l_quantity"), ("count", "*")))
    // CollapseProject merges the outer cast/arithmetic into the Aggregate:
    // alias bodies become Cast(agg) / agg+agg expressions, not bare aggs
    val q = spark.read.parquet(base).groupBy("l_returnflag")
      .agg(sum(col("l_quantity")).as("s"), count(lit(1)).as("c"))
      .select(col("l_returnflag"),
        col("s").cast("string").as("s_str"),
        (col("c") + lit(1)).as("c1"))
      .orderBy("l_returnflag")
    assert(scanPaths(q).exists(_.contains(mv)),
      "collapsed-projection aggregate must still redirect to the summary")
    assert(q.count() > 0)
  }

  test("avg rewrites to sum/count over the summary (double only)") {
    val base = tmp("base4")
    engine.table("orders")
      .select("o_orderstatus", "o_totalprice")
      .write.mode("overwrite").parquet(base)
    val mv = tmp("mv4")
    MaterializedViews.create(spark, base, mv,
      dims = Seq("o_orderstatus"),
      aggSpecs = Seq(("sum", "o_totalprice"), ("count", "*")))
    val q = spark.read.parquet(base).groupBy("o_orderstatus")
      .agg(avg(col("o_totalprice")).as("a"))
    assert(scanPaths(q).exists(_.contains(mv)), "avg must redirect to the summary")
    val direct = spark.read.parquet(base)
      .withColumn("st", col("o_orderstatus")).groupBy("st")
      .agg(avg(col("o_totalprice")).as("a"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    q.collect().foreach { r =>
      val d = direct(r.getString(0))
      assert(math.abs(r.getDouble(1) - d) <= math.abs(d) * 1e-12,
        s"avg drifted beyond partial-sum ulp class for ${r.getString(0)}")
    }
  }

  test("incremental refresh equals full rebuild; emptied groups vanish") {
    import spark.implicits._
    val base = tmp("base3")
    val oldDf = Seq(
      (1L, "a", 10.0), (2L, "a", 20.0),   // group a: one row updated
      (3L, "b", 5.0),                     // group b: row deleted -> vanishes
      (4L, "c", 7.0)                      // group c: untouched
    ).toDF("id", "g", "v")
    oldDf.write.mode("overwrite").parquet(base)
    val mv = tmp("mv3")
    MaterializedViews.create(spark, base, mv,
      dims = Seq("g"), aggSpecs = Seq(("sum", "v"), ("count", "*")))
    val newDf = Seq(
      (1L, "a", 10.0), (2L, "a", 25.0),
      (4L, "c", 7.0), (5L, "d", 3.0)      // group d: inserted
    ).toDF("id", "g", "v")
    val got = MaterializedViews.refreshIncremental(
        spark.read.parquet(base), newDf, "id",
        spark.read.parquet(mv), dims = Seq("g"), sumCols = Seq("v"))
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getLong(2)))).toMap
    assert(got == Map("a" -> ((35.0, 2L)), "c" -> ((7.0, 1L)), "d" -> ((3.0, 1L))))
  }

  test("cdcFeed carries before/after images; applyCdc == full rebuild; batch split commutes") {
    import spark.implicits._
    val v0 = Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 5.0))
      .toDF("id", "g", "v")
    val v1 = Seq((1L, "a", 10.0), (2L, "a", 25.0), (4L, "c", 7.0))
      .toDF("id", "g", "v")
    val v2 = Seq((2L, "b", 25.0), (4L, "c", 9.0), (5L, "c", 1.0))
      .toDF("id", "g", "v") // note: id 2 MOVES group a→b (dim change)
    val feed01 = MaterializedViews.cdcFeed(v0, v1, "id", Seq("g", "v"))
    val types = feed01.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(types == Map(2L -> "updated", 3L -> "deleted", 4L -> "inserted"))
    val mv0 = v0.groupBy(col("g")).agg(sum(col("v")).as("mv_sum_v"),
      count(lit(1)).as("mv_cnt"))
    def summarize(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    // sequential application v0→v1→v2
    val mv1 = MaterializedViews.applyCdc(mv0, feed01, Seq("g"), Seq("v"))
    val mv2 = MaterializedViews.applyCdc(mv1,
      MaterializedViews.cdcFeed(v1, v2, "id", Seq("g", "v")), Seq("g"), Seq("v"))
    val rebuild = v2.groupBy(col("g")).agg(sum(col("v")).as("mv_sum_v"),
      count(lit(1)).as("mv_cnt"))
    assert(summarize(mv2) == summarize(rebuild))
    // one-shot application of the NET change commutes to the same summary
    val direct = MaterializedViews.applyCdc(mv0,
      MaterializedViews.cdcFeed(v0, v2, "id", Seq("g", "v")), Seq("g"), Seq("v"))
    assert(summarize(direct) == summarize(rebuild))
    assert(!summarize(mv2).contains("a")) // group a netted to zero → vanished
  }

  test("maintainStream: file-fed CDC batches converge the published summary") {
    import spark.implicits._
    val base = tmp("mvs")
    val v0 = Seq((1L, "x", 3.0), (2L, "y", 4.0)).toDF("id", "g", "v")
    val v1 = Seq((1L, "x", 5.0), (3L, "y", 1.0)).toDF("id", "g", "v")
    val mvPath = base + "/mv"
    v0.groupBy(col("g")).agg(sum(col("v")).as("mv_sum_v"), count(lit(1)).as("mv_cnt"))
      .coalesce(1).write.mode("overwrite").parquet(mvPath)
    val feedDf = MaterializedViews.cdcFeed(v0, v1, "id", Seq("g", "v"))
    feedDf.coalesce(1).write.mode("overwrite").parquet(base + "/feed")
    val q = MaterializedViews.maintainStream(
        spark.readStream.schema(feedDf.schema).parquet(base + "/feed"),
        mvPath, Seq("g"), Seq("v"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", base + "/ck").start()
    q.awaitTermination()
    val got = spark.read.parquet(mvPath).collect()
      .map(r => r.getAs[String]("g") ->
        ((r.getAs[Double]("mv_sum_v"), r.getAs[Long]("mv_cnt")))).toMap
    // v1 rebuild: x = {id1: 5.0}, y = {id3: 1.0} (id2 deleted)
    assert(got == Map("x" -> ((5.0, 1L)), "y" -> ((1.0, 1L))))
    assert(Seq(".staging", ".lock", ".old").forall(s => !java.nio.file.Files.exists(
      java.nio.file.Paths.get(mvPath + s))), "swap debris beside mvPath")
  }

  test("non-matching shapes fall through: unknown dim, distinct agg, filters") {
    val base = tmp("base2")
    engine.table("orders")
      .select("o_orderstatus", "o_orderpriority", "o_totalprice")
      .write.mode("overwrite").parquet(base)
    val mv = tmp("mv2")
    MaterializedViews.create(spark, base, mv,
      dims = Seq("o_orderstatus"), aggSpecs = Seq(("sum", "o_totalprice")))

    // group by a column that is not a registered dim -> base scan stays
    val q1 = spark.read.parquet(base).groupBy("o_orderpriority")
      .agg(sum(col("o_totalprice")).as("s"))
    assert(!scanPaths(q1).exists(_.contains(mv)))

    // distinct aggregate -> base scan stays
    val q2 = spark.read.parquet(base).groupBy("o_orderstatus")
      .agg(countDistinct(col("o_totalprice")).as("d"))
    assert(!scanPaths(q2).exists(_.contains(mv)))

    // residual filter -> base scan stays (and result is correct)
    val q3 = spark.read.parquet(base).where(col("o_totalprice") > 1000)
      .groupBy("o_orderstatus").agg(sum(col("o_totalprice")).as("s"))
    assert(!scanPaths(q3).exists(_.contains(mv)))
    assert(q3.count() > 0)
  }
}
