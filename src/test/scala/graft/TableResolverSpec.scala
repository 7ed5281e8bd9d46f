package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import graft.expr.Cond
import graft.schema._

/** The session's table resolver: an unchanged table reopens with zero
  * Spark jobs, and every change to a table's files (facade writes, drops,
  * restores, external replacement) is seen by the next read. */
class TableResolverSpec extends SparkSpec {

  private val groups = new java.util.concurrent.atomic.AtomicInteger()

  /** Runs `body` under a fresh job group and returns the number of Spark
    * jobs it launched. The listener bus delivers events in order, so once
    * a marker job's start has arrived, every job of `body` has been seen. */
  private def jobsOf[A](body: => A): (Int, A) = {
    val sc = spark.sparkContext
    val group = s"table-resolver-${groups.incrementAndGet()}"
    val marker = group + "-marker"
    val seen = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 60000L
      while (!seen.contains(marker) && System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(seen.contains(marker), "listener bus did not deliver the marker job")
      (seen.asScala.count(_ == group), out)
    } finally sc.removeSparkListener(listener)
  }

  private def rows(df: DataFrame): Seq[Seq[String]] =
    df.orderBy("id").collect().map(_.toSeq.map(String.valueOf)).toSeq

  test("an unchanged dataDir table reopens with zero jobs; so does a 2-way join") {
    engine.table("orders").schema
    engine.table("customer").schema
    val (reopen, df) = jobsOf(engine.table("orders"))
    assert(reopen == 0)
    assert(df.count() == spark.read.parquet(s"$sfDir/orders.parquet").count())
    val (join, joined) = jobsOf(engine.query("orders")
      .join("customer", "orders.o_custkey", "=", "customer.c_custkey").toDF)
    assert(join == 0)
    assert(joined.columns.contains("c_name") && joined.columns.contains("o_orderkey"))
  }

  test("every facade write is seen, rows and schema, by the next read") {
    val e = Graft.withWarehouse(spark, sfDir,
      Files.createTempDirectory("graft_resolver").toString)
    val emp = TableSchema("emp", PrimaryKeyConfig("id", PkStrategy.None),
      Seq(FieldSchema("ename", GType.GText, nullable = false),
        FieldSchema("dept_id", GType.GText), FieldSchema("qty", GType.GInteger)),
      foreignKeys = Seq(ForeignKeySchema(Seq("dept_id"), "dept", Seq("id"),
        onDelete = FkAction.Cascade)))
    e.createTable(TableSchema("dept", PrimaryKeyConfig("id", PkStrategy.None),
      Seq(FieldSchema("dname", GType.GText, nullable = false))))
    e.createTable(emp)
    def check(t: String, cols: Seq[String], expected: Seq[Seq[String]]): Unit = {
      val df = e.table(t)
      assert(df.columns.toSeq == cols, s"$t schema")
      assert(rows(df) == expected, s"$t rows")
    }
    val empCols = Seq("id", "ename", "dept_id", "qty")

    e.batchInsert("dept", Seq(Map("id" -> "d1", "dname" -> "eng"),
      Map("id" -> "d2", "dname" -> "ops")))
    e.batchInsert("emp", Seq(
      Map("id" -> "e1", "ename" -> "ada", "dept_id" -> "d1", "qty" -> 1),
      Map("id" -> "e2", "ename" -> "bob", "dept_id" -> "d1", "qty" -> 2),
      Map("id" -> "e3", "ename" -> "cyd", "dept_id" -> "d2", "qty" -> 3)))
    check("emp", empCols, Seq(Seq("e1", "ada", "d1", "1"), Seq("e2", "bob", "d1", "2"),
      Seq("e3", "cyd", "d2", "3")))
    // a cached entry exists now; an unchanged reopen costs nothing
    assert(jobsOf(e.table("emp"))._1 == 0)

    e.batchUpsert("emp", Seq(
      Map("id" -> "e3", "ename" -> "cy", "dept_id" -> "d2", "qty" -> 30),
      Map("id" -> "e4", "ename" -> "dan", "dept_id" -> "d2", "qty" -> 4)))
    check("emp", empCols, Seq(Seq("e1", "ada", "d1", "1"), Seq("e2", "bob", "d1", "2"),
      Seq("e3", "cy", "d2", "30"), Seq("e4", "dan", "d2", "4")))

    e.update("emp").set("qty", 10).where("id", "=", "e1").apply()
    check("emp", empCols, Seq(Seq("e1", "ada", "d1", "10"), Seq("e2", "bob", "d1", "2"),
      Seq("e3", "cy", "d2", "30"), Seq("e4", "dan", "d2", "4")))

    e.delete("emp").where("id", "=", "e4").apply()
    check("emp", empCols, Seq(Seq("e1", "ada", "d1", "10"), Seq("e2", "bob", "d1", "2"),
      Seq("e3", "cy", "d2", "30")))

    e.deleteEnforced("dept", Cond.Leaf("id", "=", "d1")) // cascades to e1, e2
    check("dept", Seq("id", "dname"), Seq(Seq("d2", "ops")))
    check("emp", empCols, Seq(Seq("e3", "cy", "d2", "30")))

    e.migrateTable(emp.copy(fields = emp.fields :+
      FieldSchema("note", GType.GText, defaultValue = Some("n"))))
    val migrated = Seq(Seq("e3", "cy", "d2", "30", "n"))
    check("emp", empCols :+ "note", migrated)

    val backup = Files.createTempDirectory("graft_resolver_bak").toString
    e.backup(backup)
    e.clear("emp")
    check("emp", empCols :+ "note", Nil)
    e.restore(backup)
    check("emp", empCols :+ "note", migrated)

    e.dropTable("dept")
    e.createTable(TableSchema("dept", PrimaryKeyConfig("id", PkStrategy.None),
      Seq(FieldSchema("dname", GType.GText, nullable = false),
        FieldSchema("floor", GType.GInteger))))
    e.batchInsert("dept", Seq(Map("id" -> "d7", "dname" -> "lab", "floor" -> 3)))
    check("dept", Seq("id", "dname", "floor"), Seq(Seq("d7", "lab", "3")))
  }

  test("an external file replacement under dataDir re-infers on the next read") {
    val dir = Files.createTempDirectory("graft_resolver_ext")
    val s = spark
    import s.implicits._
    def put(df: DataFrame): Unit = {
      val stage = dir.resolve("stage").toString
      df.coalesce(1).write.parquet(stage)
      val part = Files.list(Paths.get(stage)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, dir.resolve("t.parquet"), StandardCopyOption.REPLACE_EXISTING)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(stage))
    }
    put(Seq((1L, "a")).toDF("id", "s"))
    val e = Graft(spark, dir.toString)
    assert(rows(e.table("t")) == Seq(Seq("1", "a")))
    assert(jobsOf(e.table("t"))._1 == 0)
    put(Seq((2L, "b", 3.5)).toDF("id", "s", "x"))
    val (n, df) = jobsOf(e.table("t"))
    assert(n >= 1, "a replaced file must be re-inferred")
    assert(df.columns.toSeq == Seq("id", "s", "x"))
    assert(rows(df) == Seq(Seq("2", "b", "3.5")))
  }

  test("a TIMESTAMP(NANOS) table reads value-identically cold and cached") {
    val e = Graft(spark, NanosPushdownSpec.writeFixture())
    val (cold, coldDf) = jobsOf(e.table("events"))
    val (cached, cachedDf) = jobsOf(e.table("events"))
    assert(cold >= 1 && cached == 0)
    assert(cachedDf.schema == coldDf.schema)
    assert(rows(cachedDf.withColumnRenamed("event_id", "id")) ==
      rows(coldDf.withColumnRenamed("event_id", "id")))
    assert(cachedDf.where(s"ts >= TIMESTAMP '${NanosPushdownSpec.cut}'").count() == 5L)
  }
}
