package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.expr.{Cond, UExpr}
import graft.write.Writes

/** Write-path semantics (SURVEY.md §2.1, §2.9). */
class WritesSpec extends SparkSpec {

  test("updatePreview: Expr AST applies only to matching rows (expr.dart:29-342)") {
    import UExpr._
    val out = Writes.updatePreview(engine.table("lineitem"),
      Seq("l_quantity" -> clamp(field("l_quantity") * value(2), value(0), value(75))),
      Cond.Leaf("l_returnflag", "=", "R"))
    val changed = out.where(col("l_returnflag") === "R")
      .agg(org.apache.spark.sql.functions.max("l_quantity")).collect()(0).getDouble(0)
    assert(changed <= 75.0)
    val untouchedIn = engine.table("lineitem").where(col("l_returnflag") =!= "R")
      .agg(sum("l_quantity")).collect()(0).getDouble(0)
    val untouchedOut = out.where(col("l_returnflag") =!= "R")
      .agg(sum("l_quantity")).collect()(0).getDouble(0)
    assert(math.abs(untouchedIn - untouchedOut) < 1e-6)
  }

  test("deletePreview removes only matching rows; guards condition-less") {
    val before = engine.table("orders").count()
    val matching = engine.table("orders").where(col("o_orderstatus") === "F").count()
    val out = Writes.deletePreview(engine.table("orders"), Cond.Leaf("o_orderstatus", "=", "F"))
    assert(out.count() == before - matching)
    intercept[IllegalArgumentException] { Writes.deletePreview(engine.table("orders"), Cond.True) }
  }

  test("upsertMerge: updates matched, inserts new, untouched rows intact (data_store_impl.dart:2229)") {
    val target = engine.table("customer")
    val n = target.count()
    val staged = target.where(col("c_custkey") <= 3)
      .select(col("c_custkey"), lit("UPDATED").as("c_name"), col("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment"))
      .union(target.limit(2).select(col("c_custkey") + 900000, lit("NEW"),
        col("c_nationkey"), lit(0.0), lit("SEG")))
    val out = Writes.upsertMerge(target, staged, Seq("c_custkey"))
    assert(out.count() == n + 2)
    assert(out.where(col("c_name") === "UPDATED").count() ==
      target.where(col("c_custkey") <= 3).count())
    assert(out.where(col("c_name") === "NEW").count() == 2)
  }

  test("upsertMerge with isUpdate/isInsert branch (expr.dart:121-158)") {
    import UExpr._
    val target = engine.table("customer")
    val staged = target.where(col("c_custkey") <= 2)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment"))
    val out = Writes.upsertMerge(target, staged, Seq("c_custkey"),
      sets = Seq("c_acctbal" -> IfElse(IsUpdate, field("c_acctbal") + value(1000), value(0))))
    val bumped = out.as("o").join(target.as("t"), col("o.c_custkey") === col("t.c_custkey"))
      .where(col("t.c_custkey") <= 2)
      .select(col("o.c_acctbal") - col("t.c_acctbal")).collect()
    assert(bumped.forall(_.getDouble(0) == 1000.0))
  }

  test("validateRows splits good/bad (allowPartialErrors, tostore.dart:586-597)") {
    val staged = engine.table("customer")
      .withColumn("c_name", when(col("c_custkey") % 10 === 0, lit(null)).otherwise(col("c_name")))
    val (good, bad) = Writes.validateRows(staged, notNull = Seq("c_name"),
      checks = Seq(col("c_acctbal") >= -1000))
    assert(good.count() + bad.count() == staged.count())
    assert(bad.where(col("c_name").isNull).count() == bad.count() ||
      bad.where(col("c_acctbal") < -1000).count() > 0)
  }

  test("overwrite is atomic swap; table() resolves managed over dataDir") {
    val wh = Files.createTempDirectory("graft_wh").toString
    val e = Graft.withWarehouse(spark, sfDir, wh)
    import graft.schema._
    e.createTable(TableSchema("scratch", PrimaryKeyConfig("id", PkStrategy.None),
      Seq(FieldSchema("v", GType.GInteger))))
    Writes.overwrite(e, "scratch",
      spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row("a", 1L), org.apache.spark.sql.Row("b", 2L)), 1),
        e.registry.get("default", "scratch").get.sparkSchema))
    assert(e.table("scratch").count() == 2)
    Writes.overwrite(e, "scratch", e.table("scratch").where(col("id") === "a"))
    assert(e.table("scratch").count() == 1)
  }

  test("crashed-writer staging debris self-heals under the write lease") {
    val wh = Files.createTempDirectory("graft_stale_staging").toString
    val e = Graft.withWarehouse(spark, sfDir, wh)
    import graft.schema._
    e.createTable(TableSchema("scratch", PrimaryKeyConfig("id", PkStrategy.None),
      Seq(FieldSchema("v", GType.GInteger))))
    def two = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      org.apache.spark.sql.Row("a", 1L), org.apache.spark.sql.Row("b", 2L)), 1),
      e.registry.get("default", "scratch").get.sparkSchema)
    Writes.overwrite(e, "scratch", two)
    // crash debris: a staging dir with NO live lease holder. The lease
    // proves no cooperating writer is mid-flight, so the write heals it
    // and proceeds (the pre-lease probe required manual deletion here)
    val staging = java.nio.file.Paths.get(e.managedPath("scratch") + ".staging")
    Files.createDirectories(staging)
    Writes.overwrite(e, "scratch", two.where(col("id") === "a"))
    assert(e.table("scratch").count() == 1)
    assert(!Files.exists(staging), "debris healed, then consumed by the swap")
    // an in-JVM FAILED staging write cleans up after itself too
    val boomUdf = org.apache.spark.sql.functions.udf((x: Long) => {
      if (x >= 0) throw new RuntimeException("boom"); x
    })
    val bad = two.withColumn("v", boomUdf(col("v"))) // fails mid-staging-write
    intercept[Exception] { Writes.overwrite(e, "scratch", bad) }
    assert(!Files.exists(staging), "failed staging write must clean its debris")
    assert(!Files.exists(java.nio.file.Paths.get(e.managedPath("scratch") + ".lock")),
      "lease released after a failed write")
    Writes.overwrite(e, "scratch", two)
    assert(e.table("scratch").count() == 2)
    // KV writes share the lease-guarded swap
    val kv = new graft.kv.KvStore(e)
    kv.set("k", "v")
    val kvStaging = new java.io.File(wh + "/default/_kv_store.staging")
    assert(kvStaging.mkdirs())
    kv.set("k2", "v2")
    assert(!kvStaging.exists(), "KV debris healed under the lease")
    assert(kv.keys().toSet == Set("k", "k2"))
  }

  test("write lease: second process waits for release or fails predictably; stale lease taken over") {
    import org.apache.hadoop.fs.{FileSystem, Path}
    import graft.write.WriteLease
    val wh = Files.createTempDirectory("graft_lease").toString
    val e = Graft.withWarehouse(spark, sfDir, wh)
    import graft.schema._
    e.createTable(TableSchema("scratch", PrimaryKeyConfig("id", PkStrategy.None),
      Seq(FieldSchema("v", GType.GInteger))))
    def row(id: String) = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      org.apache.spark.sql.Row(id, 1L)), 1),
      e.registry.get("default", "scratch").get.sparkSchema)
    Writes.overwrite(e, "scratch", row("a"))
    val path = e.managedPath("scratch")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // "process B" holds the lease directly (bypasses this JVM's stripes —
    // exactly what a second engine process looks like on disk)
    val b = WriteLease.acquire(fs, path, staleMs = 60000, waitMs = 1000)
    // A with a short wait FAILS PREDICTABLY — and the table is untouched
    System.setProperty("graft.write.lease.waitMs", "400")
    System.setProperty("graft.write.lease.pollMs", "50")
    try {
      val ex = intercept[IllegalStateException] { Writes.overwrite(e, "scratch", row("b")) }
      assert(ex.getMessage.contains("write lease"))
      assert(e.table("scratch").collect().map(_.getString(0)).toSeq == Seq("a"))
      // A with a longer wait SUCCEEDS once B releases mid-wait
      System.setProperty("graft.write.lease.waitMs", "10000")
      val releaser = new Thread(() => { Thread.sleep(300); b.close() })
      releaser.start()
      Writes.overwrite(e, "scratch", row("b"))
      releaser.join()
      assert(e.table("scratch").collect().map(_.getString(0)).toSeq == Seq("b"))
    } finally {
      System.clearProperty("graft.write.lease.waitMs")
      System.clearProperty("graft.write.lease.pollMs")
    }
    // STALE lease (dead holder: no heartbeat): acquire takes over...
    val lockFile = new java.io.File(path + ".lock")
    java.nio.file.Files.write(lockFile.toPath, "dead-owner pid=0 ts=0\n".getBytes)
    assert(lockFile.setLastModified(System.currentTimeMillis() - 120000))
    val c = WriteLease.acquire(fs, path, staleMs = 60000, waitMs = 1000)
    c.close()
    // ...and a holder whose lease WAS taken over finds out at release
    val d = WriteLease.acquire(fs, path, staleMs = 500, waitMs = 1000, pollMs = 50)
    // simulate heartbeat stall + takeover: replace the lock body under d
    java.nio.file.Files.write(lockFile.toPath, "usurper pid=0 ts=0\n".getBytes)
    val tex = intercept[IllegalStateException] { d.close() }
    assert(tex.getMessage.contains("taken over"))
    assert(lockFile.delete(), "usurper's lock stays (d must not delete it)")
  }

  test("concurrent writers on one table serialize: no lost updates, no staging collisions") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import graft.schema._
    val wh = Files.createTempDirectory("graft_cc_writes").toString
    val e = Graft.withWarehouse(spark, sfDir, wh)
    e.createTable(TableSchema("cc", PrimaryKeyConfig("id", PkStrategy.None),
      Seq(FieldSchema("qty", GType.GInteger))))
    e.batchInsert("cc", (1 to 8).map(i => Map("id" -> i, "qty" -> 0)))
    // 8 concurrent read-modify-write updates on DISTINCT rows: without the
    // per-path lock each writer snapshots the pre-state and the last swap
    // wins, silently reverting the others (plus .staging collisions)
    Await.result(Future.sequence((1 to 8).map(i => Future {
      e.update("cc").set("qty", i * 10).where("id", "=", i).apply()
    })), 120.seconds)
    val got = e.query("cc").noDefaultLimit.toDF.collect()
      .map(r => r.getString(0).toInt -> r.getLong(1)).toMap
    assert((1 to 8).forall(i => got(i) == i * 10L),
      s"lost concurrent updates: $got")
    // concurrent appends through the insert path
    Await.result(Future.sequence((0 until 4).map(t => Future {
      e.batchInsert("cc", (1 to 10).map(j => Map("id" -> (100 + t * 10 + j), "qty" -> 1)))
    })), 120.seconds)
    assert(e.table("cc").count() == 48)
  }

  test("concurrent upserts of ONE key collapse to one row (flow-level lock)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import graft.schema._
    val wh = Files.createTempDirectory("graft_cc_upsert").toString
    val e = Graft.withWarehouse(spark, sfDir, wh)
    e.createTable(TableSchema("u", PrimaryKeyConfig("id", PkStrategy.None),
      Seq(FieldSchema("v", GType.GInteger))))
    // 6 racing upserts of the same key: without serializing the WHOLE
    // flow, several see "not present" simultaneously and all insert
    Await.result(Future.sequence((1 to 6).map(i => Future {
      e.batchUpsert("u", Seq(Map("id" -> 7, "v" -> i)))
    })), 120.seconds)
    val rows = e.table("u").collect()
    assert(rows.length == 1, s"duplicate upserts landed: ${rows.mkString(",")}")
    assert((1 to 6).map(_.toLong).contains(rows(0).getLong(1)))
  }

  /** Spark jobs `body` launches, counted by job group (the listener bus
    * delivers in order, so a marker job after it flushes every event). */
  private def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"writes-jobs-${System.nanoTime()}"
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
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 60000L
      while (!seen.contains(marker) && System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(seen.contains(marker), "listener bus did not deliver the marker job")
      seen.asScala.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }

  test("one-row facade writes stay under their job ceilings") {
    import graft.schema._
    val e = Graft.withWarehouse(spark, sfDir,
      Files.createTempDirectory("graft_jobs").toString)
    e.createTable(TableSchema("acc", PrimaryKeyConfig("id", PkStrategy.None),
      Seq(FieldSchema("name", GType.GText, nullable = false))))
    e.createTable(TableSchema("hold", PrimaryKeyConfig("id", PkStrategy.None),
      Seq(FieldSchema("acc_id", GType.GText)),
      foreignKeys = Seq(ForeignKeySchema(Seq("acc_id"), "acc", Seq("id"),
        onDelete = FkAction.Cascade))))
    e.batchInsert("acc", Seq(Map("id" -> "1", "name" -> "a"), Map("id" -> "2", "name" -> "b")))
    e.batchInsert("hold", Seq(Map("id" -> "h1", "acc_id" -> "1"),
      Map("id" -> "h2", "acc_id" -> "1"), Map("id" -> "h3", "acc_id" -> "2")))
    val insert = jobsOf(e.batchInsert("acc", Seq(Map("id" -> "3", "name" -> "c"))))
    val upsert = jobsOf(e.batchUpsert("acc", Seq(Map("id" -> "2", "name" -> "b2"))))
    val delete = jobsOf(e.deleteEnforced("acc", Cond.Leaf("id", "=", "1")))
    e.kv.set("k0", "v0")
    val kvSet = jobsOf(e.kv.set("k1", "v1"))
    // the ceilings are the measured counts: a rise is job creep on the
    // one-row write path
    assert(insert <= 4, s"one-row batchInsert started $insert jobs")
    assert(upsert <= 6, s"one-row batchUpsert started $upsert jobs")
    assert(delete <= 9, s"one-row deleteEnforced cascade started $delete jobs")
    assert(kvSet <= 2, s"one-row kv.set started $kvSet jobs")
    assert(e.table("acc").collect().map(_.getString(0)).sorted.toSeq == Seq("2", "3"))
    assert(e.table("hold").collect().map(_.getString(0)).toSeq == Seq("h3"))
  }

  test("a NoAction child FK adds no job to a one-row deleteEnforced") {
    import graft.schema._
    def engine(fks: Seq[ForeignKeySchema]): Graft = {
      val e = Graft.withWarehouse(spark, sfDir,
        Files.createTempDirectory("graft_noaction").toString)
      e.createTable(TableSchema("acc", PrimaryKeyConfig("id", PkStrategy.None),
        Seq(FieldSchema("name", GType.GText))))
      e.createTable(TableSchema("note", PrimaryKeyConfig("id", PkStrategy.None),
        Seq(FieldSchema("acc_id", GType.GText)), foreignKeys = fks))
      e.batchInsert("acc", Seq(Map("id" -> "1", "name" -> "a"), Map("id" -> "2", "name" -> "b")))
      e.batchInsert("note", Seq(Map("id" -> "n1", "acc_id" -> "9")))
      e
    }
    val plain = engine(Nil)
    val noAction = engine(Seq(ForeignKeySchema(Seq("acc_id"), "acc", Seq("id"),
      onDelete = FkAction.NoAction)))
    val base = jobsOf(plain.deleteEnforced("acc", Cond.Leaf("id", "=", "1")))
    val withFk = jobsOf(noAction.deleteEnforced("acc", Cond.Leaf("id", "=", "1")))
    assert(withFk == base, s"NoAction FK: $withFk jobs, none: $base")
    assert(noAction.table("acc").collect().map(_.getString(0)).toSeq == Seq("2"))
    assert(noAction.table("note").count() == 1)
  }

  test("a partial batchInsert's report reads the same after a later overwrite") {
    import graft.schema._
    val e = Graft.withWarehouse(spark, sfDir,
      Files.createTempDirectory("graft_report").toString)
    e.createTable(TableSchema("acc", PrimaryKeyConfig("id", PkStrategy.None),
      Seq(FieldSchema("name", GType.GText, nullable = false), FieldSchema("qty", GType.GInteger))))
    e.batchInsert("acc", Seq(Map("id" -> "1", "name" -> "a", "qty" -> 1)))
    val rep = e.batchInsert("acc", Seq(
      Map("id" -> "1", "name" -> "dup", "qty" -> "x"), // unparseable AND a stored key
      Map("id" -> "2", "name" -> "b", "qty" -> 2),
      Map("id" -> "3", "qty" -> 3),                     // null non-null name
      Map("id" -> "4", "name" -> "d", "qty" -> 4)), allowPartialErrors = true)
    def failedRows = rep.failed.collect().map(r => (r.getString(0), Option(r.getString(1))))
      .sortBy(_._1).toSeq
    val before = (rep.successCount, rep.failedCount, rep.successKeys, rep.failedKeys, failedRows)
    assert(before == (2L, 2L, Seq("2", "4"), Seq("1", "3"),
      Seq(("1", Some("dup")), ("3", None))), before.toString)
    // swap the table's files out from under the report, twice
    e.update("acc").set("name", "z").where("id", "=", "2").apply()
    e.clear("acc")
    assert((rep.successCount, rep.failedCount, rep.successKeys, rep.failedKeys, failedRows) ==
      before)
    assert(rep.failed.count() == 2)
  }

  test("a within-batch duplicate on a non-string unique key is rejected") {
    import graft.schema._
    val e = Graft.withWarehouse(spark, sfDir,
      Files.createTempDirectory("graft_numkey").toString)
    e.createTable(TableSchema("m", PrimaryKeyConfig("id", PkStrategy.None),
      Seq(FieldSchema("score", GType.GDouble, unique = true))))
    // Spark's key equality: -0.0 is 0.0, NaN is NaN
    val r = e.batchInsert("m", Seq(Map("id" -> "a", "score" -> 0.0),
      Map("id" -> "b", "score" -> -0.0), Map("id" -> "c", "score" -> Double.NaN),
      Map("id" -> "d", "score" -> Double.NaN)), allowPartialErrors = true)
    assert(r.failedKeys == Seq("b", "d"))
    assert(e.table("m").collect().map(_.getString(0)).sorted.toSeq == Seq("a", "c"))
  }
}
