package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** The nanos-timestamp predicate rewrite must (a) restore parquet
  * pushdown on the raw int64 column and (b) not change results.
  *
  * The driver's testdata carries `ts` as TIMESTAMP(MICROS) since the
  * round-9 regeneration, so the nanos path is exercised against a
  * self-written TIMESTAMP(NANOS) fixture (Spark cannot write nanos;
  * parquet-java's example writer can). The micros path is asserted
  * against the real testdata: native pushdown plus the engine's
  * NTZ -> TimestampType normalization.
  */
class NanosPushdownSpec extends SparkSpec {

  import NanosPushdownSpec._

  private lazy val nanosDir: String = writeFixture()

  private lazy val nanosEngine = Graft(spark, nanosDir)

  test("micros ts: range filter reaches the parquet scan as PushedFilters") {
    val df = engine.table("events").where(col("ts") >= cut)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts,"),
      s"expected pushdown on ts, plan:\n${plan.take(2000)}")
  }

  test("micros ts: engine normalizes NTZ to TimestampType") {
    assert(engine.table("events").schema("ts").dataType == TimestampType)
  }

  test("nanos ts: rewritten range filter reaches the parquet scan as PushedFilters") {
    val df = nanosEngine.table("events").where(col("ts") >= cut)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts,"),
      s"expected pushdown on raw nanos ts, plan:\n${plan.take(2000)}")
  }

  test("nanos ts: rewrite preserves results vs unconverted long comparison") {
    val raw = spark.read.parquet(s"$nanosDir/events.parquet") // ts stays long
    assert(raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
    Seq[(String, Long => org.apache.spark.sql.Column)](
      (">", n => col("ts") > lit(n + 999L)),
      (">=", n => col("ts") >= lit(n)),
      ("<", n => col("ts") < lit(n)),
      ("<=", n => col("ts") <= lit(n + 999L))
    ).foreach { case (op, longPred) =>
      val viaEngine = nanosEngine.table("events").where(
        expr(s"ts $op TIMESTAMP '$cut'")).count()
      val viaRaw = raw.where(longPred(cutNanos)).count()
      assert(viaEngine == viaRaw, s"op $op: engine $viaEngine vs raw $viaRaw")
    }
    // sub-micro rows: >= cut keeps +0/+1/+999/+1000/+1h (5), > cut keeps
    // only rows past the whole micro bucket (+1000ns and +1h)
    assert(nanosEngine.table("events").where(expr(s"ts >= TIMESTAMP '$cut'")).count() == 5L)
    assert(nanosEngine.table("events").where(expr(s"ts > TIMESTAMP '$cut'")).count() == 2L)
    // equality on the cut micro matches every row inside its 1000-nanos
    // bucket: offsets +0, +1, +999 (but not +1000, the next bucket)
    assert(nanosEngine.table("events").where(expr(s"ts = TIMESTAMP '$cut'")).count() == 3L)
  }
}

object NanosPushdownSpec {

  val cut = "2024-01-10 00:00:00"
  val cutNanos = java.sql.Timestamp.valueOf(cut).getTime * 1000000L

  /** Temp table dir holding a single-file events.parquet with
    * required int64 event_id + required TIMESTAMP(NANOS) ts.
    * Rows straddle the cut, including sub-microsecond offsets
    * (+1ns, +999ns, +1000ns) that only exact integer bounds keep. */
  def writeFixture(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-nanos").toFile
    dir.deleteOnExit()
    val schema = Types.buildMessage()
      .required(PrimitiveTypeName.INT64).named("event_id")
      .required(PrimitiveTypeName.INT64)
      .as(LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.NANOS))
      .named("ts")
      .named("events")
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withConf(new Configuration()).withType(schema).build()
    val offsets = Seq(-3600L * 1000000000L, -1000L, -1L, 0L, 1L, 999L, 1000L,
      3600L * 1000000000L)
    offsets.zipWithIndex.foreach { case (off, i) =>
      val g = new SimpleGroup(schema)
      g.add("event_id", i.toLong)
      g.add("ts", cutNanos + off)
      writer.write(g)
    }
    writer.close()
    dir.toString
  }
}
