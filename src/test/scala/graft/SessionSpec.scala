package graft

import java.util.Locale
import org.apache.spark.sql.functions._

/** Pins the one session policy every graft entry point shares
  * (`Graft.localSession`), the tripwire that keeps it the only session
  * builder in the main sources, and the rehearsals' JSON number
  * rendering. */
class SessionSpec extends SparkSpec {

  test("localSession: AQE, shuffle width = cores, codegen cache, nanos, UTC, no UI") {
    val conf = spark.conf
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get("spark.sql.shuffle.partitions") == "4") // TestSpark: cores = 4
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "8192")
    // the live JVM-wide class cache holds as many, whenever CodeGenerator loaded
    assert(graft.plans.CodegenCache.capacity >= conf.get("spark.sql.codegen.cache.maxEntries").toLong)
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }

  test("localSession installs the graft nanos-pushdown extension") {
    val dir = java.nio.file.Files.createTempDirectory("session_nanos").toString + "/t"
    spark.range(3).select((col("id") * 1000000000L).as("n")).write.parquet(dir)
    // n holds nanos 0, 1e9, 2e9: timestamp_micros(n div 1000) > 1 s keeps one row
    val df = spark.read.parquet(dir)
      .where(expr("timestamp_micros(n div 1000) > TIMESTAMP '1970-01-01 00:00:01'"))
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("GreaterThan(n,1000000999)"),
      s"expected the rewrite onto the raw nanos column, plan:\n${plan.take(2000)}")
    assert(df.count() == 1L)
  }

  test("exactly one SparkSession.builder in the main sources: Graft.localSession") {
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    val hits = files(new java.io.File("src/main/scala")).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        case (line, i) if line.contains("SparkSession.builder") => s"${f.getPath}:${i + 1}"
      }.toList
      finally src.close()
    }
    assert(hits.size == 1 && hits.head.startsWith("src/main/scala/graft/Graft.scala:"),
      s"session builders outside Graft.localSession: ${hits.mkString(", ")}")
  }

  test("rehearsal numbers render with a decimal point under a comma-decimal locale") {
    val saved = Locale.getDefault
    try {
      Locale.setDefault(Locale.GERMANY)
      assert(f"${1.5}%.1f" == "1,5") // the default locale really is comma-decimal
      assert(Rehearse.num(1.2345, 3) == "1.235")
      assert(Rehearse.num(0.0, 3) == "0.000")
      assert(Rehearse.num(12.96, 1) == "13.0")
    } finally Locale.setDefault(saved)
  }
}
