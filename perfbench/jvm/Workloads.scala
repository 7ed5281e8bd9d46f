package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{Graft, SparkEntry}
import graft.query.{Agg, QueryBuilder}
import graft.schema._

/** Phase marks of one op, in System.nanoTime. */
final class OpClock {
  val marks = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
  def phase[A](name: String)(body: => A): A = {
    val t = System.nanoTime()
    try body finally marks += ((name, t, System.nanoTime()))
  }
}

/** One workload: how to seed a fresh session from the set-up data and how to
  * run one op of the op list, both of which run.py generated from the seed.
  * `run` returns the op's output for the correctness check (null when it is
  * checked elsewhere). */
sealed trait Workload {
  def setup(spark: SparkSession, setupData: JsonNode): Unit
  def run(op: JsonNode, clock: OpClock): JsonNode
  /** Warehouse root, when the workload writes one. */
  def warehouse: Option[String] = None
  /** Payload bytes the caller handed to a write op: text as UTF-8, numbers
    * as 8 bytes. */
  def userBytes(op: JsonNode): Long = op.get("kind").asText match {
    case "kvset" => (op.get("key").asText + op.get("value").asText).getBytes("UTF-8").length.toLong
    case "insert" | "upsert" => op.get("rows").elements.asScala.flatMap(_.elements.asScala)
      .map(v => if (v.isTextual) v.asText.getBytes("UTF-8").length.toLong else 8L).sum
    case _ => 0L
  }
  /** Off-clock dumps after the timed loop. */
  def finish(work: String): Unit = ()
}

object Workload {
  def apply(name: String, data: String, work: String, instance: Int): Workload = name match {
    case "lookup" => new Lookup(data, s"$work/warehouse-$instance")
    case "analytics" => new Analytics(data, work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  val nodes: JsonNodeFactory = JsonNodeFactory.instance

  def value(v: JsonNode): Any =
    if (v.isIntegralNumber) v.asLong else if (v.isNumber) v.asDouble else v.asText

  def rowsJson(df: DataFrame, rows: Array[Row]): ObjectNode = {
    val o = nodes.objectNode()
    val cs = o.putArray("cols")
    df.columns.foreach(cs.add)
    val rs = o.putArray("rows")
    rows.foreach { r =>
      val a = rs.addArray()
      r.toSeq.foreach {
        case null => a.addNull()
        case x: java.lang.Long => a.add(x.longValue)
        case x: java.lang.Integer => a.add(x.longValue)
        case x: java.lang.Double => a.add(x.doubleValue)
        case x => a.add(x.toString)
      }
    }
    o
  }

  def count(n: Long): JsonNode = nodes.numberNode(n)
  def text(s: Option[String]): JsonNode = s.fold[JsonNode](nodes.nullNode())(nodes.textNode)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Small fixed warm-up every setup pays: one aggregate through codegen. */
  def warmUp(spark: SparkSession): Unit = noop(spark.range(100000).selectExpr("sum(id)"))

  /** JSON objects as the loosely-typed rows the facade's writes take. */
  def rows(a: JsonNode): Seq[Map[String, Any]] =
    a.elements.asScala.map(_.fields.asScala.map(e => e.getKey -> value(e.getValue)).toMap).toSeq
}

/** Short reads through the chain API, vector search and KV gets, with one
  * write of each kind per block on a small warehouse (accounts and their
  * holdings) that later reads query. */
final class Lookup(data: String, wh: String) extends Workload {
  import Workload._
  private var g: Graft = _
  override def warehouse: Option[String] = Some(wh)

  def setup(spark: SparkSession, setupData: JsonNode): Unit = {
    warmUp(spark)
    g = Graft.withWarehouse(spark, data, wh)
    g.kv.setMany(setupData.get("kv").elements.asScala.map(kv => kv.get(0).asText -> kv.get(1).asText).toSeq)
    g.createTables(Lookup.accounts, Lookup.holdings)
    Seq("accounts", "holdings").foreach { t =>
      val rs = rows(setupData.get(t))
      written(g.batchInsert(t, rs), rs.size)
    }
  }

  private def written(r: graft.write.WriteReport, n: Int): Unit =
    if (r.successCount != n || r.failedCount != 0)
      throw new IllegalStateException(s"write reported ${r.successCount} ok / ${r.failedCount} failed of $n")

  /** Rows of `accounts` whose `field` equals `v`, read back after a write. */
  private def readBack(clock: OpClock, field: String, v: Any): JsonNode = {
    val df = clock.phase("construct")(g.query("accounts").where(field, "=", v)
      .select("a_id", "a_name", "a_nation", "a_balance", "a_segment").toDF)
    rowsJson(df, clock.phase("exec")(df.collect()))
  }

  private def build(q: JsonNode): QueryBuilder = {
    def strs(k: String) = Option(q.get(k)).toSeq.flatMap(_.elements.asScala.map(_.asText))
    def arrs(k: String) = Option(q.get(k)).toSeq.flatMap(_.elements.asScala.map(_.elements.asScala.toSeq))
    var b = g.query(q.get("table").asText)
    arrs("joins").foreach(j => b = b.join(j(0).asText, j(1).asText, j(2).asText, j(3).asText))
    arrs("where").foreach { w =>
      val (f, op) = (w(0).asText, w(1).asText)
      b = if (op == "BETWEEN") b.whereBetween(f, value(w(2)), value(w(3))) else b.where(f, op, value(w(2)))
    }
    if (strs("group").nonEmpty) b = b.groupBy(strs("group"): _*)
    arrs("aggs").foreach { a =>
      val (f, alias) = (a(1).asText, a(2).asText)
      b = b.agg(a(0).asText match {
        case "count" => Agg.count(f, alias)
        case "sum" => Agg.sum(f, alias)
        case "avg" => Agg.avg(f, alias)
        case "min" => Agg.min(f, alias)
        case "max" => Agg.max(f, alias)
      })
    }
    if (strs("select").nonEmpty) b = b.select(strs("select"): _*)
    arrs("order").foreach(o => b = if (o(1).asBoolean) b.orderByAsc(o(0).asText) else b.orderByDesc(o(0).asText))
    Option(q.get("limit")).foreach(n => b = b.limit(n.asInt))
    Option(q.get("offset")).foreach(n => b = b.offset(n.asInt))
    b
  }

  def run(op: JsonNode, clock: OpClock): JsonNode = op.get("kind").asText match {
    case "kv" => text(clock.phase("exec")(g.kv.get(op.get("key").asText)))
    case "kvset" =>
      val k = op.get("key").asText
      clock.phase("write")(g.kv.set(k, op.get("value").asText))
      text(clock.phase("exec")(g.kv.get(k)))
    case "insert" =>
      val rs = rows(op.get("rows"))
      written(clock.phase("write")(g.batchInsert("accounts", rs)), rs.size)
      readBack(clock, "a_id", rs.head("a_id"))
    case "upsert" =>
      val rs = rows(op.get("rows"))
      written(clock.phase("write")(g.batchUpsert("accounts", rs)), rs.size)
      readBack(clock, "a_id", rs.head("a_id"))
    case "update" =>
      val n = op.get("nation").asLong
      clock.phase("write")(g.update("accounts").set("a_segment", op.get("segment").asText)
        .increment("a_balance", op.get("by").asDouble).where("a_nation", "=", n).apply())
      readBack(clock, "a_nation", n)
    case "delete" =>
      val k = op.get("key").asText
      clock.phase("write")(g.deleteEnforced("accounts", graft.expr.Cond.Leaf("a_id", "=", k)))
      count(clock.phase("exec")(g.query("accounts").where("a_id", "=", k).count() +
        g.query("holdings").where("h_account", "=", k).count()))
    case kind =>
      val df = clock.phase("construct") {
        if (kind == "vector")
          g.vectorSearch(op.get("table").asText, op.get("field").asText,
            op.get("vector").elements.asScala.map(_.asDouble).toSeq, op.get("topK").asInt,
            pkField = op.get("pk").asText)
        else build(op.get("q")).toDF
      }
      rowsJson(df, clock.phase("exec")(df.collect()))
  }
}

/** The heavy eager gates, called through the gate registry. */
final class Analytics(data: String, work: String) extends Workload {
  import Workload._
  private var spark: SparkSession = _
  private val oracle = scala.collection.mutable.LinkedHashMap.empty[String, String]

  def setup(s: SparkSession, setupData: JsonNode): Unit = { spark = s; warmUp(s) }

  /** Ops write to the noop sink, except in block 0 (untimed), which writes
    * each gate's output as parquet for run.py's DuckDB oracle compare. */
  def run(op: JsonNode, clock: OpClock): JsonNode = {
    val name = op.get("name").asText
    val df = clock.phase("construct")(SparkEntry.queries(name)(spark, data))
    clock.phase("exec") {
      if (op.get("block").asInt != 0) noop(df)
      else {
        oracle(name) = SparkEntry.oracleSql(name)
        df.coalesce(1).write.mode("overwrite").parquet(s"$work/check/$name")
      }
    }
    null
  }

  override def finish(work: String): Unit = {
    val o = nodes.objectNode()
    oracle.foreach { case (k, v) => o.put(k, v) }
    new com.fasterxml.jackson.databind.ObjectMapper().writeValue(new java.io.File(s"$work/oracle_sql.json"), o)
  }
}

object Lookup {
  val accounts: TableSchema = TableSchema("accounts",
    PrimaryKeyConfig("a_id", PkStrategy.None), Seq(
      FieldSchema("a_name", GType.GText), FieldSchema("a_nation", GType.GInteger),
      FieldSchema("a_balance", GType.GDouble), FieldSchema("a_segment", GType.GText)))

  val holdings: TableSchema = TableSchema("holdings",
    PrimaryKeyConfig("h_id", PkStrategy.None), Seq(
      FieldSchema("h_account", GType.GText), FieldSchema("h_qty", GType.GInteger)),
    foreignKeys = Seq(ForeignKeySchema(Seq("h_account"), "accounts", Seq("a_id"),
      onDelete = FkAction.Cascade)))
}
