package graft

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.functions.col

/** Physical-plan shape contracts for the round-11 data-bound additions
  * (the DistDriftSpec window-partitioning discipline, widened): the three
  * operators whose cost class most invites an accidental cartesian or a
  * single-task window must provably not contain one. Asserted on the
  * EXECUTED plan (AQE finalized), subqueries included. */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private def offenders(df: DataFrame,
      allowScalarBnl: Boolean): Seq[String] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.execution.window.WindowExec
    df.collect() // materialize so AQE finalizes the executed plan
    val expanded: Seq[SparkPlan] =
      df.queryExecution.executedPlan.collectWithSubqueries {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
    expanded.flatMap(_.collectWithSubqueries {
      case w: WindowExec if w.partitionSpec.isEmpty =>
        Some(s"unpartitioned window: $w")
      case _: CartesianProductExec => Some("cartesian product")
      case b: BroadcastNestedLoopJoinExec if !allowScalarBnl =>
        Some(s"broadcast nested loop: $b")
      case _ => None
    }.flatten)
  }

  test("adamicAdar plan: no cartesian, no BNL, no unpartitioned window") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"))
      .toDF("src", "dst")
    val bad = offenders(graft.operators.GraphOps.adamicAdar(edges, topK = 10),
      allowScalarBnl = false)
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("paged QueryBuilder read: offset without an unpartitioned window") {
    val paged = engine.query("lineitem").orderByAsc("l_orderkey", "l_linenumber")
      .limit(10).offset(20).toDF
    val bad = offenders(paged, allowScalarBnl = false)
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("phraseSearch plan: no cartesian, no BNL, no unpartitioned window") {
    val docs = Seq((1L, "the cat sat on the mat"), (2L, "cat sat alone"))
      .toDF("doc_id", "text")
    val bad = offenders(
      graft.pipeline.CorpusStats.phraseSearch(docs, "doc_id", "text", "cat sat"),
      allowScalarBnl = false)
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("decisionStump plan: no cartesian, no unpartitioned window " +
      "(the 1-row totals broadcast is the allowed scalar BNL)") {
    val df = (1 to 200).map(i => (i.toDouble, i % 3 == 0)).toDF("s", "y")
    val bad = offenders(
      graft.operators.FeatureEng.decisionStump(df, col("s"), F.col("y")),
      allowScalarBnl = true)
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("unionCoverage / stateRuns plans: key-partitioned windows only") {
    val iv = Seq(("k", 1L, 3L), ("k", 2L, 5L), ("m", 0L, 2L))
      .toDF("g", "st", "en")
    val b1 = offenders(graft.operators.Intervals.unionCoverage(iv,
      col("g"), col("st"), col("en")), allowScalarBnl = false)
    assert(b1.isEmpty, b1.mkString("; "))
    val ev = Seq((1L, "a", 10L, 1L), (1L, "b", 20L, 2L), (2L, "a", 5L, 3L))
      .toDF("u", "s", "t", "id")
    val b2 = offenders(graft.operators.Intervals.stateRuns(ev,
      col("u"), col("s"), col("t"), col("id")), allowScalarBnl = false)
    assert(b2.isEmpty, b2.mkString("; "))
  }

  test("attribution plan: one user-partitioned RANGE window, no cartesian") {
    val ev = Seq((1L, 10L, "view", 1L), (1L, 30L, "purchase", 2L),
      (2L, 5L, "click", 3L), (2L, 50L, "purchase", 4L))
      .toDF("u", "ts", "t", "id")
    val bad = offenders(graft.operators.EventPaths.attribution(ev,
      "u", "ts", "t", "id", "purchase", 100L), allowScalarBnl = false)
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("stlDecompose plan: key-partitioned RANGE window, no cartesian") {
    val df = (0 until 20).map(i => ("k", i.toLong * 86400L, (i % 7 + 1).toLong))
      .toDF("k", "t", "units")
    val bad = offenders(graft.operators.TimeSeries.stlDecompose(
      df, "k", "t", "units"), allowScalarBnl = false)
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("bestThreshold plan: prefix-sum windows partitioned, TakeOrdered picks") {
    val df = Seq((1.0, false), (2.0, false), (3.0, true), (4.0, true))
      .toDF("s", "y")
    val bad = offenders(graft.operators.Experiment.bestThreshold(df,
      col("s"), F.col("y")), allowScalarBnl = false)
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("concentration / woeEncode plans: prefix-sum windows partitioned; " +
      "the 1-row totals broadcasts are the allowed scalar BNLs") {
    val v = (1 to 300).map(i => Tuple1((i % 41).toLong)).toDF("v")
    val b1 = offenders(graft.operators.Profile.concentration(v, col("v")),
      allowScalarBnl = true)
    assert(b1.isEmpty, b1.mkString("; "))
    val cat = (1 to 300).map(i => (s"c${i % 7}", i % 3 == 0)).toDF("c", "y")
    val b2 = offenders(graft.operators.FeatureEng.woeEncode(cat,
      col("c"), F.col("y")), allowScalarBnl = true)
    assert(b2.isEmpty, b2.mkString("; "))
  }

  test("attributionWeighted / behavioralEntropy plans: user-partitioned " +
      "windows only, no cartesian") {
    val ev = Seq((1L, 899L, "ad", 1L), (1L, 999L, "email", 2L),
      (1L, 1000L, "purchase", 3L), (2L, 998L, "ad", 4L),
      (2L, 1000L, "purchase", 5L))
      .toDF("u", "ts", "t", "id")
    val b1 = offenders(graft.operators.EventPaths.attributionWeighted(ev,
      "u", "ts", "t", "id", "purchase", 700L, 100L), allowScalarBnl = false)
    assert(b1.isEmpty, b1.mkString("; "))
    val b2 = offenders(graft.operators.EventPaths.behavioralEntropy(ev,
      "u", "t"), allowScalarBnl = false)
    assert(b2.isEmpty, b2.mkString("; "))
  }

  test("degreeAssortativity / embeddingCentroidDrift / stlAnomalies plans: " +
      "keyed joins and key-partitioned windows, no cartesian") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("src", "dst")
    val b1 = offenders(
      graft.operators.GraphOps.degreeAssortativity(edges),
      allowScalarBnl = false)
    assert(b1.isEmpty, b1.mkString("; "))
    val v0 = Seq((1, Seq(1f, 0f)), (2, Seq(0f, 1f))).toDF("label", "embedding")
    val v1 = Seq((1, Seq(1f, 1f)), (2, Seq(0f, 2f))).toDF("label", "embedding")
    val b2 = offenders(graft.pipeline.CorpusStats.embeddingCentroidDrift(
      v0, v1, "label", "embedding"), allowScalarBnl = false)
    assert(b2.isEmpty, b2.mkString("; "))
    val daily = (0 until 20).map(i =>
      ("k", i.toLong * 86400L, (i % 7 + 1).toLong)).toDF("g", "t", "units")
    val b3 = offenders(graft.operators.TimeSeries.stlAnomalies(
      daily, "g", "t", "units"), allowScalarBnl = false)
    assert(b3.isEmpty, b3.mkString("; "))
  }

  test("cvm / andersonDarling / naiveBayes / dtw / mst plans: no cartesian, " +
      "no unpartitioned window (scalar/broadcast BNLs allowed)") {
    // the pooledCdf ladder exists precisely to avoid the single-task
    // window; the 1-row totals / |C|-row class tables ride as broadcast
    // nested loops by design
    val a = (1 to 40).map(i => (i % 7).toDouble).toDF("v")
    val b = (1 to 40).map(i => (i % 5).toDouble).toDF("v")
    val b1 = offenders(graft.operators.DistDrift.cramerVonMises(a, b, "v"),
      allowScalarBnl = true)
    assert(b1.isEmpty, b1.mkString("; "))
    val b2 = offenders(graft.operators.DistDrift.andersonDarling(a, b, "v"),
      allowScalarBnl = true)
    assert(b2.isEmpty, b2.mkString("; "))
    val docs = ((0 until 10).map(i => (i.toLong, "apple pear", "f"))
      ++ (10 until 20).map(i => (i.toLong, "dog cat", "a")))
      .toDF("doc_id", "text", "lab")
    val b4 = offenders(graft.pipeline.Classify.naiveBayes(
      docs, "doc_id", "text", "lab", trainFrac = 0.5), allowScalarBnl = true)
    assert(b4.isEmpty, b4.mkString("; "))
    val s1 = (0 until 8).map(i => (i.toLong, (i % 3).toLong)).toDF("t", "x")
    val b5 = offenders(graft.operators.TimeSeries.dtw(s1, s1, "t", "x"),
      allowScalarBnl = true)
    assert(b5.isEmpty, b5.mkString("; "))
    val edges = Seq(("a", "b", 1L), ("b", "c", 2L), ("c", "d", 1L))
      .toDF("s", "d", "w")
    val b6 = offenders(graft.operators.GraphOps.mst(edges, "s", "d", "w"),
      allowScalarBnl = true)
    assert(b6.isEmpty, b6.mkString("; "))
  }
}
