package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{EqualNullSafe, EqualTo, Literal}
import org.apache.spark.sql.execution.{ApplyColumnarRulesAndInsertTransitions, CollapseCodegenStages, FilterExec, SparkPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.plans.{BindLiterals, BoundLiteral}
import graft.query.Agg
import graft.schema._

/** `BindLiterals` (registered by `Graft.localSession`): a query shape run
  * again with new key values compiles no class, scans keep their pushed
  * literal filters, results and explain text match the literal plan. */
class BindLiteralsSpec extends SparkSpec {

  /** Janino compiles `body` makes. */
  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** Runs the shape with `a` (compiling it), then counts the compiles of
    * the same shape with `b`. */
  private def recompiles[A](a: A, b: A)(shape: A => DataFrame): Long = {
    shape(a).collect()
    compiles { shape(b).collect(); () }
  }

  test("a new point key, range bound, page offset or group-by bound compiles no class") {
    def point(k: Long) = engine.query("orders").where("o_orderkey", "=", k).toDF
    assert(recompiles(1L, 7L)(point) == 0)
    assert(point(7L).queryExecution.executedPlan.toString.contains("EqualTo(o_orderkey,7)"))
    assert(recompiles((3L, 10), (5L, 20)) { case (k, o) =>
      engine.query("lineitem").where("l_orderkey", ">", k)
        .orderByAsc("l_orderkey", "l_linenumber").limit(10).offset(o).toDF
    } == 0)
    assert(recompiles(150000.0, 90000.0) { p =>
      engine.query("orders").where("o_totalprice", "<", p).groupBy("o_orderstatus")
        .agg(Agg.count("o_orderkey", "n")).toDF
    } == 0)
  }

  test("vectorSearch with a new query vector compiles no class") {
    val embs = engine.table("embeddings")
    def vec(id: Long) = embs.where(col("vec_id") === id).select("embedding")
      .head.getSeq[Float](0).map(_.toDouble)
    assert(recompiles(vec(3L), vec(5L)) { q =>
      engine.vectorSearch("embeddings", "embedding", q, 5, pkField = "vec_id")
    } == 0)
  }

  test("the update read-back's nation filter compiles no class for a new nation") {
    val e = Graft.withWarehouse(spark, sfDir, Files.createTempDirectory("graft_bind").toString)
    e.createTable(TableSchema("accounts", PrimaryKeyConfig("a_id", PkStrategy.None), Seq(
      FieldSchema("a_nation", GType.GInteger), FieldSchema("a_segment", GType.GText))))
    e.batchInsert("accounts", (1 to 6).map(i => Map("a_id" -> s"a$i", "a_nation" -> i % 3)))
    def updated(n: Long) = {
      e.update("accounts").set("a_segment", s"s$n").where("a_nation", "=", n).apply()
      e.query("accounts").where("a_nation", "=", n).select("a_id", "a_segment").toDF
    }
    updated(1L).collect()
    val df = updated(2L)
    assert(compiles { df.collect(); () } == 0)
    assert(df.collect().map(_.getString(1)).toSet == Set("s2"))
  }

  /** The query's physical plan prepared into codegen stages as Spark
    * prepares a one-stage plan, with or without `BindLiterals`. */
  private def prepared(df: DataFrame, bind: Boolean): SparkPlan = {
    val rules = if (bind) Seq(BindLiterals) else Nil
    CollapseCodegenStages()(ApplyColumnarRulesAndInsertTransitions(rules, outputsColumnar = false)(
      df.queryExecution.sparkPlan))
  }

  private def rows(p: SparkPlan): Seq[String] =
    p.executeCollect().toSeq.map(_.toSeq(p.schema).map(String.valueOf).mkString(","))

  test("bound and literal plans return the same rows and explain the same") {
    val dir = Files.createTempDirectory("graft_bind_edge").toString + "/t"
    spark.sql("""SELECT * FROM VALUES
      (double('NaN'), -9223372036854775808L, 2147483647, DATE'2024-01-10', TIMESTAMP'2024-01-10 00:00:00.000001'),
      (-0.0D, 0L, 0, DATE'1970-01-01', TIMESTAMP'1970-01-01 00:00:00'),
      (0.0D, 9223372036854775807L, -2147483648, DATE'1899-12-31', TIMESTAMP'2024-01-10 00:00:00'),
      (1.5D, -1L, 7, DATE'2024-01-11', TIMESTAMP'2038-01-19 03:14:08')
      AS t(d, l, i, dt, ts)""").write.parquet(dir)
    val t = spark.read.parquet(dir)
    val queries = Seq(
      t.where(col("d") === Double.NaN), t.where(col("d") === -0.0), t.where(col("d") > 0.0),
      t.where(col("d") < Double.NaN), t.select(col("d") * -0.0, col("d") + Double.NaN),
      t.where(col("l") === Long.MinValue), t.where(col("l") > Long.MinValue),
      t.where(col("i") === Int.MaxValue), t.where(col("i") < Int.MaxValue),
      t.where(col("dt") === java.sql.Date.valueOf("2024-01-10")),
      t.where(col("dt") >= java.sql.Date.valueOf("1970-01-01")),
      t.where(col("ts") === java.sql.Timestamp.valueOf("2024-01-10 00:00:00.000001")),
      t.where(col("ts") < java.sql.Timestamp.valueOf("2024-01-10 00:00:00.000001")))
    queries.foreach { q =>
      val (bound, literal) = (prepared(q, bind = true), prepared(q, bind = false))
      assert(bound.exists(_.expressions.exists(_.exists(_.isInstanceOf[BoundLiteral]))),
        s"nothing bound in\n$bound")
      assert(rows(bound).sorted == rows(literal).sorted, s"rows differ for\n$literal")
      assert(bound.treeString(verbose = true) == literal.treeString(verbose = true))
    }
  }

  test("a null literal stays a Literal; a non-null one is bound") {
    val child = spark.range(3).queryExecution.sparkPlan
    def cond(l: Literal) = BindLiterals.preColumnarTransitions(
      FilterExec(EqualNullSafe(child.output.head, l), child)).asInstanceOf[FilterExec].condition
    assert(cond(Literal(null, LongType)) == EqualNullSafe(child.output.head, Literal(null, LongType)))
    assert(cond(Literal(2L)) == EqualNullSafe(child.output.head, BoundLiteral(Literal(2L))))
    assert(EqualTo(child.output.head, BoundLiteral(Literal(2L))).toString ==
      EqualTo(child.output.head, Literal(2L)).toString)
  }
}
