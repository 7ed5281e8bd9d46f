package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.schema._

/** Engine facade surface: CRUD chains, KV wiring, vectorSearch entry,
  * streamQuery, spaces, backup/restore (lib/tostore.dart surface). */
class FacadeSpec extends SparkSpec {

  private def freshEngine(): Graft = {
    val wh = Files.createTempDirectory("graft_facade").toString
    val e = Graft.withWarehouse(spark, sfDir, wh)
    e.createTable(TableSchema("items", PrimaryKeyConfig("id", PkStrategy.Sequential),
      Seq(
        FieldSchema("name", GType.GText, nullable = false),
        FieldSchema("qty", GType.GInteger),
        FieldSchema("price", GType.GDouble))))
    e
  }

  test("insert/batchInsert with loose typing + partial errors (tostore.dart:586-597)") {
    val e = freshEngine()
    e.insert("items", Map("id" -> "1", "name" -> "bolt", "qty" -> 5, "price" -> 0.25))
    // loose typing: qty as string, id as int → coerced to declared types
    e.insert("items", Map("id" -> 2, "name" -> "nut", "qty" -> "7", "price" -> "0.10"))
    assert(e.table("items").count() == 2)
    intercept[IllegalArgumentException] {
      e.batchInsert("items", Seq(Map("id" -> "3", "name" -> null)))
    }
    val rep = e.batchInsert("items",
      Seq(Map("id" -> "3", "name" -> null), Map("id" -> "4", "name" -> "washer")),
      allowPartialErrors = true)
    assert(rep.successCount == 1 && rep.failedCount == 1)
    // DbResult surface (db_result.dart): predicates + bounded key lists
    assert(rep.isPartialSuccess && !rep.isSuccess && !rep.isFailed)
    assert(rep.failedKeys == Seq("3"))
    assert(rep.successKeys == Seq("4"))
    assert(e.table("items").count() == 3)
    // unparseable value → failed split, not a driver exception
    val rep2 = e.batchInsert("items",
      Seq(Map("id" -> "5", "name" -> "ok", "qty" -> "not-a-number"),
        Map("id" -> "6", "name" -> "fine", "qty" -> 1)),
      allowPartialErrors = true)
    assert(rep2.successCount == 1 && rep2.failedCount == 1)
  }

  test("PK generation: sequential continues from max; time-based shapes (id_generator.dart)") {
    import graft.schema.{IdGen, PkStrategy}
    val e = freshEngine() // "items" uses PkStrategy.Sequential
    e.batchInsert("items", Seq(
      Map("id" -> "1", "name" -> "a"), Map("id" -> "2", "name" -> "b")))
    e.batchInsert("items", Seq(Map("name" -> "genA"), Map("name" -> "genB"))) // no ids
    val ids = e.table("items").orderBy(length(col("id")), col("id"))
      .collect().map(_.getAs[String]("id")).toSeq
    assert(ids == Seq("1", "2", "3", "4")) // continues from existing max
    // value shapes
    val ts = IdGen.generate(PkStrategy.TimestampBased, 2, nowMs = 1755000000000L)
    assert(ts == Seq("131323680000000", "131323680000001")) // (secs-epoch1984)*1e5+seq
    val dp = IdGen.generate(PkStrategy.DatePrefixed, 1, nowMs = 1755000000000L)
    assert(dp.head == "2025081200000") // yyyyMMdd * 1e5 + seq (UTC)
    val sc = IdGen.generate(PkStrategy.ShortCode, 1, nowMs = 1755000000000L)
    assert(IdGen.Base62.decode(sc.head) == BigInt("131323680000000"))
    // Base62 golden + roundtrip (id_generator.dart:255-310)
    assert(IdGen.Base62.encode(0) == "0" && IdGen.Base62.encode(61) == "z"
      && IdGen.Base62.encode(62) == "10")
    Seq(BigInt(1), BigInt(123456789), BigInt("99999999999999999")).foreach(v =>
      assert(IdGen.Base62.decode(IdGen.Base62.encode(v)) == v))
    // cross-batch continuity: two batches in the same second/day must not
    // restart the sequence (reference keeps per-table sequence state)
    val b1 = IdGen.generateFor("xbt", PkStrategy.DatePrefixed, 2, nowMs = 1755000000000L)
    val b2 = IdGen.generateFor("xbt", PkStrategy.DatePrefixed, 2, nowMs = 1755000000000L)
    assert((b1 ++ b2).distinct.size == 4 && b2.head == "2025081200002")
  }

  test("clear() restarts a sequential PK sequence (TRUNCATE identity semantics)") {
    val e = freshEngine() // "items" uses PkStrategy.Sequential
    e.batchInsert("items", Seq(Map("name" -> "a"), Map("name" -> "b"))) // ids 1,2
    assert(e.table("items").select("id").collect().map(_.getString(0)).toSet == Set("1", "2"))
    e.clear("items")
    e.batchInsert("items", Seq(Map("name" -> "c")))
    // without the seqState reset the id would continue at 3
    assert(e.table("items").select("id").collect().map(_.getString(0)).toSeq == Seq("1"))
    // deleteDatabase + recreate restarts too (resetPrefix over the warehouse)
    e.deleteDatabase()
    e.createTable(TableSchema("items", PrimaryKeyConfig("id", PkStrategy.Sequential),
      Seq(FieldSchema("name", GType.GText, nullable = false))))
    e.batchInsert("items", Seq(Map("name" -> "z")))
    assert(e.table("items").select("id").collect().map(_.getString(0)).toSeq == Seq("1"))
  }

  test("unique constraint: NULL keys never collide (SQL-standard)") {
    val wh = Files.createTempDirectory("graft_un").toString
    val e = Graft.withWarehouse(spark, sfDir, wh)
    e.createTable(TableSchema("un", PrimaryKeyConfig("id", PkStrategy.None),
      Seq(FieldSchema("code", GType.GText, unique = true))))
    val rep = e.batchInsert("un", Seq(
      Map("id" -> "1", "code" -> null), Map("id" -> "2", "code" -> null)),
      allowPartialErrors = true)
    assert(rep.successCount == 2 && rep.failedCount == 0) // same batch
    val rep2 = e.batchInsert("un", Seq(Map("id" -> "3", "code" -> null)),
      allowPartialErrors = true)
    assert(rep2.successCount == 1) // vs existing rows
  }

  test("declared constraints enforced on insert: length/range/unique (table_schema.dart:1177-1216)") {
    val wh = Files.createTempDirectory("graft_cons").toString
    val e = Graft.withWarehouse(spark, sfDir, wh)
    e.createTable(TableSchema("cx", PrimaryKeyConfig("id", PkStrategy.None),
      Seq(
        FieldSchema("name", GType.GText, nullable = false, maxLength = Some(5), minLength = Some(2)),
        FieldSchema("qty", GType.GInteger, minValue = Some(0), maxValue = Some(100)),
        FieldSchema("code", GType.GText, unique = true))))
    val rep = e.batchInsert("cx", Seq(
      Map("id" -> "1", "name" -> "ok", "qty" -> 5, "code" -> "a"),       // good
      Map("id" -> "2", "name" -> "toolongname", "qty" -> 5, "code" -> "b"), // maxLength
      Map("id" -> "3", "name" -> "x", "qty" -> 5, "code" -> "c"),        // minLength
      Map("id" -> "4", "name" -> "neg", "qty" -> -1, "code" -> "d"),     // minValue
      Map("id" -> "5", "name" -> "big", "qty" -> 200, "code" -> "e"),    // maxValue
      Map("id" -> "6", "name" -> "nulls", "qty" -> null, "code" -> "f"), // null passes range checks
      Map("id" -> "7", "name" -> "dupe", "qty" -> 1, "code" -> "a"),     // within-batch unique: first wins
      Map("id" -> "1", "name" -> "dupk", "qty" -> 1, "code" -> "g")),    // within-batch PK dupe
      allowPartialErrors = true)
    assert(rep.successCount == 2 && rep.failedCount == 6) // ids 1 and 6 survive
    assert(e.table("cx").count() == 2)
    // collision with EXISTING rows (anti-join path, data_store_impl.dart:1527→2229)
    val rep2 = e.batchInsert("cx", Seq(
      Map("id" -> "9", "name" -> "newc", "qty" -> 1, "code" -> "a"), // existing code
      Map("id" -> "1", "name" -> "newk", "qty" -> 1, "code" -> "z"), // existing PK
      Map("id" -> "10", "name" -> "good", "qty" -> 1, "code" -> "h")),
      allowPartialErrors = true)
    assert(rep2.successCount == 1 && rep2.failedCount == 2)
    // strict mode refuses the whole batch on any constraint violation
    intercept[IllegalArgumentException] {
      e.batchInsert("cx", Seq(Map("id" -> "11", "name" -> "toolongname", "qty" -> 1)))
    }
  }

  test("insertFrom: 1M-row DataFrame ingest with executor-side PK assignment (no driver rows)") {
    val wh = Files.createTempDirectory("graft_bulk").toString
    val e = Graft.withWarehouse(spark, sfDir, wh)
    e.createTable(TableSchema("bulk", PrimaryKeyConfig("id", PkStrategy.Sequential),
      Seq(FieldSchema("v", GType.GInteger, nullable = false))))
    val rep = e.insertFrom("bulk",
      spark.range(1000000).select(col("id").cast("int").as("v")))
    assert(rep.successCount == 1000000L && rep.failedCount == 0L)
    val t = e.table("bulk")
    assert(t.select(countDistinct(col("id"))).head.getLong(0) == 1000000L)
    assert(t.agg(min(col("id").cast("long")), max(col("id").cast("long")))
      .head.toSeq == Seq(1L, 1000000L)) // sequential block: max+1 .. max+N
    // next batch continues from the stored max
    assert(e.insertFrom("bulk",
      spark.range(10).select(col("id").cast("int").as("v"))).successCount == 10L)
    assert(e.table("bulk").agg(max(col("id").cast("long"))).head.getLong(0) == 1000010L)
    // unique-collision split: explicit ids overlapping existing rows fail
    val dup = spark.range(5)
      .select((col("id") + 1).cast("string").as("id"), col("id").cast("int").as("v"))
    val rep3 = e.insertFrom("bulk", dup, allowPartialErrors = true)
    assert(rep3.successCount == 0L && rep3.failedCount == 5L)
    // parse failure + nullability land in the failed split, not an exception
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val mixed = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row("notanum"), Row("7"), Row(null))),
      StructType(Seq(StructField("v", StringType))))
    val rep4 = e.insertFrom("bulk", mixed, allowPartialErrors = true)
    assert(rep4.successCount == 1L && rep4.failedCount == 2L)
  }

  test("reserveFor: a later time base inside a prior large block continues past it") {
    import graft.schema.{IdGen, PkStrategy}
    val t0 = 1755000000000L
    val s1 = IdGen.reserveFor("ovl_t", PkStrategy.TimestampBased, 10000000L, nowMs = t0)
    // 30 s later the fresh base is s1 + 3e6 — INSIDE the reserved block
    // (1e5 ids/second × 30); the reservation must jump past the block end
    val s2 = IdGen.reserveFor("ovl_t", PkStrategy.TimestampBased, 10L, nowMs = t0 + 30000L)
    assert(s2 >= s1 + 10000000L, s"block overlap: $s2 inside [$s1, ${s1 + 10000000L})")
    // and a base AFTER the block end wins over the stored bound
    val s3 = IdGen.reserveFor("ovl_t", PkStrategy.TimestampBased, 10L, nowMs = t0 + 7200000L)
    assert(s3 == s1 + BigInt(7200L * 100000L))
  }

  test("insertFrom: timestampBased PKs are distinct across executors and batches") {
    val wh = Files.createTempDirectory("graft_bulkt").toString
    val e = Graft.withWarehouse(spark, sfDir, wh)
    e.createTable(TableSchema("bulkt", PrimaryKeyConfig("id", PkStrategy.TimestampBased),
      Seq(FieldSchema("v", GType.GInteger))))
    e.insertFrom("bulkt", spark.range(5000).select(col("id").cast("int").as("v")))
    e.insertFrom("bulkt", spark.range(5000).select(col("id").cast("int").as("v")))
    assert(e.table("bulkt").select(countDistinct(col("id"))).head.getLong(0) == 10000L)
  }

  test("failedCount counts rows once even when a row trips several checks") {
    val wh = Files.createTempDirectory("graft_multi").toString
    val e = Graft.withWarehouse(spark, sfDir, wh)
    e.createTable(TableSchema("mx", PrimaryKeyConfig("id", PkStrategy.None),
      Seq(
        FieldSchema("code", GType.GText, unique = true),
        FieldSchema("tag", GType.GText, unique = true))))
    e.batchInsert("mx", Seq(Map("id" -> "1", "code" -> "a", "tag" -> "x")))
    // collides on PK + BOTH unique keys → one failed row, not three
    val rep = e.batchInsert("mx", Seq(
      Map("id" -> "1", "code" -> "a", "tag" -> "x"),
      Map("id" -> "2", "code" -> "b", "tag" -> "y")),
      allowPartialErrors = true)
    assert(rep.successCount == 1 && rep.failedCount == 1)
    assert(rep.failed.count() == 1)
  }

  test("batchInsert and batchUpsert decide one batch by the same rules, upsert's merge key aside") {
    def seeded(): Graft = {
      val e = Graft.withWarehouse(spark, sfDir,
        Files.createTempDirectory("graft_modes").toString)
      e.createTable(TableSchema("bm", PrimaryKeyConfig("id", PkStrategy.None),
        Seq(
          FieldSchema("name", GType.GText, nullable = false, maxLength = Some(5)),
          FieldSchema("qty", GType.GInteger, minValue = Some(0), maxValue = Some(100)),
          FieldSchema("email", GType.GText, unique = true))))
      e.batchInsert("bm", Seq(
        Map("id" -> "1", "name" -> "ann", "qty" -> 1, "email" -> "a@x"),
        Map("id" -> "2", "name" -> "bob", "qty" -> 2, "email" -> "b@x")))
      e
    }
    val batch = Seq(
      Map("id" -> "3", "name" -> "cat", "qty" -> "notnum", "email" -> "c@x"), // parse failure
      Map("id" -> "4", "qty" -> 4, "email" -> "d@x"),                  // null in non-null name
      Map("id" -> "5", "name" -> "toolong", "qty" -> 5, "email" -> "e@x"), // maxLength
      Map("id" -> "10", "name" -> "big", "qty" -> 500),                // maxValue
      Map("id" -> "6", "name" -> "fay", "qty" -> 6, "email" -> "f@x"),
      Map("id" -> "6", "name" -> "fay2", "qty" -> 7, "email" -> "f@x"), // PK dup, same email
      Map("id" -> "1", "name" -> "ann2", "qty" -> 10, "email" -> "a@x"), // stored PK, own email
      Map("id" -> "7", "name" -> "gil", "qty" -> 8, "email" -> "b@x"), // stored email, other PK
      Map("id" -> "2", "qty" -> 20),                                   // stored PK, no name
      Map("id" -> "8", "name" -> "hal", "qty" -> 1, "email" -> "h@x"),
      Map("id" -> "9", "name" -> "ivy", "qty" -> 2, "email" -> "h@x")) // batch email, other PK
    def ids(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.getAs[String]("id")).toSet
    def contents(e: Graft): Set[(String, String, Long, String)] =
      e.table("bm").collect().map(r => (r.getAs[String]("id"), r.getAs[String]("name"),
        r.getAs[Long]("qty"), r.getAs[String]("email"))).toSet

    val ins = seeded()
    val ir = ins.batchInsert("bm", batch, allowPartialErrors = true)
    assert(ir.successCount == 2 && ir.failedCount == 9, ir.toString)
    assert(ids(ir.failed) == Set("3", "4", "5", "10", "6", "1", "7", "2", "9"))
    assert(ir.failed.collect().map(_.getAs[String]("name")).count(_ == "fay2") == 1)
    assert(ir.successKeys.sorted == Seq("6", "8"))
    assert(ir.failedKeys.sorted == Seq("1", "10", "2", "3", "4", "5", "6", "7", "9"))
    assert(contents(ins) == Set(("1", "ann", 1L, "a@x"), ("2", "bob", 2L, "b@x"),
      ("6", "fay", 6L, "f@x"), ("8", "hal", 1L, "h@x")))

    val ups = seeded()
    val ur = ups.batchUpsert("bm", batch)
    assert(ur.successCount == 5 && ur.failedCount == 6, ur.toString)
    assert(ids(ur.failed) == Set("3", "4", "5", "10", "7", "9"))
    assert(ur.successKeys.isEmpty && ur.failedKeys.isEmpty)
    assert(contents(ups) == Set(("1", "ann2", 10L, "a@x"), ("2", "bob", 20L, "b@x"),
      ("6", "fay2", 7L, "f@x"), ("8", "hal", 1L, "h@x")))
  }

  test("importFrom: CSV and JSON land through declared-schema coercion") {
    val wh = Files.createTempDirectory("graft_import").toString
    val e = Graft.withWarehouse(spark, sfDir, wh)
    e.createTable(TableSchema("imp", PrimaryKeyConfig("id", PkStrategy.None),
      Seq(FieldSchema("name", GType.GText, nullable = false),
        FieldSchema("qty", GType.GInteger))))
    val dir = Files.createTempDirectory("graft_files").toString
    // CSV: everything arrives as strings → try_cast coerces to declared types
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/rows.csv"),
      "id,name,qty\n1,bolt,5\n2,nut,notanum\n3,washer,7\n".getBytes)
    val rep = e.importFrom("imp", s"$dir/rows.csv", "csv", allowPartialErrors = true)
    assert(rep.successCount == 2 && rep.failedCount == 1) // bad qty parse
    assert(rep.failedKeys == Seq("2"))
    // JSON with an extra field (ignored) and a missing nullable field
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/rows.json"),
      """{"id":"4","name":"rivet","qty":9,"junk":true}
        |{"id":"5","name":"pin"}
        |""".stripMargin.getBytes)
    val rep2 = e.importFrom("imp", s"$dir/rows.json", "json")
    assert(rep2.successCount == 2 && rep2.isSuccess)
    val rows = e.table("imp").orderBy(col("id").cast("long")).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("1", "3", "4", "5"))
    assert(rows.map(r => Option(r.get(2))).toSeq == Seq(Some(5L), Some(7L), Some(9L), None))
    // export roundtrip: csv out, re-import into a fresh table
    e.exportTo("imp", s"$dir/out_csv", "csv")
    e.createTable(TableSchema("imp2", PrimaryKeyConfig("id", PkStrategy.None),
      Seq(FieldSchema("name", GType.GText, nullable = false),
        FieldSchema("qty", GType.GInteger))))
    assert(e.importFrom("imp2", s"$dir/out_csv", "csv").successCount == 4)
    assert(e.table("imp2").count() == 4)
  }

  test("instance/space diagnostics + lifecycle (tostore.dart:905-1160)") {
    val e = freshEngine()
    assert(e.tableExists("items") && e.tableExists("customer") && !e.tableExists("nope"))
    assert(e.getTableSchema("items").exists(_.primaryKey.name == "id"))
    e.batchInsert("items", Seq(Map("id" -> "1", "name" -> "a")))
    val ti = e.getTableInfo("items")
    assert(ti.totalRecords == 1 && ti.fileSizeInBytes > 0 && ti.schema.isDefined)
    val si = e.getSpaceInfo
    assert(si.spaceName == "default" && si.tableCount == 1 &&
      si.recordCount == 1 && si.tables == Seq("items"))
    // spaces lifecycle: list includes created spaces; default/active refuse deletion
    val alt = e.switchSpace("alt")
    alt.createTable(TableSchema("t2", PrimaryKeyConfig("id", PkStrategy.None),
      Seq(FieldSchema("x", GType.GText))))
    alt.batchInsert("t2", Seq(Map("id" -> "9", "x" -> "v")))
    assert(e.listSpaces.contains("alt") && e.listSpaces.contains("default"))
    assert(!e.deleteSpace("default") && !alt.deleteSpace("alt"))
    assert(e.deleteSpace("alt") && !e.listSpaces.contains("alt"))
    // user-maintained version (KV-backed, no engine semantics)
    assert(e.getVersion == 0L)
    e.setVersion(7)
    assert(e.getVersion == 7L)
    e.flush() // documented no-op: writes are atomic swaps, nothing buffers
    e.close() // shared session stays up
    assert(!spark.sparkContext.isStopped)
    e.deleteDatabase()
    assert(!e.tableExists("items")) // schema + warehouse gone; dataDir untouched
    assert(e.tableExists("customer"))
  }

  test("kv watchValues (plural): one emission carries every watched key (tostore.dart:758-791)") {
    val wh = Files.createTempDirectory("graft_kvwv").toString
    val e = Graft.withWarehouse(spark, sfDir, wh)
    val hub = new graft.streaming.WatchHub
    val kv = e.kvWatched(hub)
    kv.setMany(Seq("a" -> "1", "b" -> "2"))
    var emissions = Vector.empty[Map[String, String]]
    val sub = kv.watchValues(Seq("a", "b"))(m => emissions :+= m)
    assert(emissions.lastOption.contains(Map("a" -> "1", "b" -> "2"))) // initial emission
    kv.set("a", "9")
    assert(emissions.lastOption.contains(Map("a" -> "9", "b" -> "2")))
    kv.set("unrelated", "x") // watched values unchanged → deduped
    assert(emissions.count(_ == Map("a" -> "9", "b" -> "2")) == 1)
    sub.close()
  }

  test("update chain sugar + apply; delete chain (update_builder.dart:32-209)") {
    val e = freshEngine()
    e.batchInsert("items", Seq(
      Map("id" -> "1", "name" -> "a", "qty" -> 10, "price" -> 1.0),
      Map("id" -> "2", "name" -> "b", "qty" -> 20, "price" -> 2.0)))
    e.update("items").increment("qty", 5).multiply("price", 2)
      .where("id", "=", "1").apply()
    val r = e.table("items").where(col("id") === "1").collect()(0)
    assert(r.getAs[Long]("qty") == 15L && r.getAs[Double]("price") == 2.0)
    intercept[IllegalArgumentException] { e.update("items").increment("qty").preview }
    e.delete("items").where("id", "=", "2").apply()
    assert(e.table("items").count() == 1)
    e.clear("items")
    assert(e.table("items").count() == 0)
  }

  test("upsert uses registered unique key; errors without one (tostore.dart:605)") {
    val e = freshEngine()
    e.batchInsert("items", Seq(Map("id" -> "1", "name" -> "a", "qty" -> 1, "price" -> 1.0)))
    val staged = spark.createDataFrame(Seq(("1", "a2", 9L, 9.0), ("5", "new", 5L, 5.0)))
      .toDF("id", "name", "qty", "price")
    e.upsert("items", staged) // key from schema PK
    assert(e.table("items").count() == 2)
    assert(e.table("items").where(col("id") === "1").collect()(0).getString(1) == "a2")
    val e2 = Graft.withWarehouse(spark, sfDir,
      Files.createTempDirectory("graft_nokey").toString)
    intercept[IllegalArgumentException] { e2.upsert("unregistered", staged) }
  }

  test("spaces isolate managed tables; global KV crosses (tostore.dart:529-532)") {
    val e = freshEngine()
    e.kv.set("k", "space-default")
    e.kvGlobal.set("g", "everywhere")
    val other = e.switchSpace("tenant2")
    assert(other.kv.get("k").isEmpty)
    assert(other.kvGlobal.get("g").contains("everywhere"))
  }

  test("vectorSearch facade returns (pk, distance, score) (tostore.dart:493-511)") {
    val q = engine.table("embeddings").where(col("vec_id") === 1)
      .select("embedding").head.getSeq[Float](0).map(_.toDouble)
    val out = engine.vectorSearch("embeddings", "embedding", q, topK = 3, pkField = "vec_id")
    assert(out.columns.toSeq == Seq("pk", "distance", "score"))
    assert(out.collect().head.getLong(0) == 1L)
  }

  test("streamQuery iterates without full collect; queryEachBatch runs per partition") {
    val it = engine.streamQuery(engine.query("nation").orderByAsc("n_nationkey"))
    assert(it.take(3).size == 3)
    val acc = spark.sparkContext.longAccumulator("rows")
    engine.queryEachBatch(engine.query("region").noDefaultLimit)(
      rows => rows.foreach(_ => acc.add(1)))
    assert(acc.value == 5L)
  }

  test("backup/restore roundtrip (tostore.dart:817-839)") {
    val e = freshEngine()
    e.batchInsert("items", Seq(Map("id" -> "1", "name" -> "x", "qty" -> 1, "price" -> 1.0)))
    val dest = Files.createTempDirectory("graft_bak").toString
    e.backup(dest)
    e.delete("items").allowDeleteAll.apply()
    assert(e.table("items").count() == 0)
    e.restore(dest)
    assert(e.table("items").count() == 1)
  }

  test("batchUpdate patches by PK, ignores unknown keys, keeps other fields") {
    val e = freshEngine()
    e.batchInsert("items", Seq(
      Map("id" -> "1", "name" -> "a", "qty" -> 10, "price" -> 1.0),
      Map("id" -> "2", "name" -> "b", "qty" -> 20, "price" -> 2.0)))
    val patch = spark.createDataFrame(Seq(("1", 99L), ("777", 5L))).toDF("id", "qty")
    e.batchUpdate("items", patch)
    val rows = e.table("items").orderBy(col("id")).collect()
    assert(rows.length == 2) // unknown PK 777 NOT inserted
    assert(rows(0).getAs[Long]("qty") == 99L && rows(0).getAs[String]("name") == "a")
    assert(rows(1).getAs[Long]("qty") == 20L)
  }

  test("kv watchValue: initial emission + change notifications, deduped (tostore.dart:758-791)") {
    val wh = Files.createTempDirectory("graft_kvw").toString
    val e = Graft.withWarehouse(spark, sfDir, wh)
    val hub = new graft.streaming.WatchHub
    val kv = e.kvWatched(hub)
    val seen = scala.collection.mutable.ArrayBuffer.empty[Option[String]]
    kv.set("k", "v1")
    val sub = kv.watchValue("k")(v => seen += v)
    assert(seen.toSeq == Seq(Some("v1"))) // initial emission
    kv.set("k", "v2")
    kv.set("other", "x") // same kv table → refire, but value unchanged → deduped
    assert(seen.toSeq == Seq(Some("v1"), Some("v2")))
    kv.remove("k")
    assert(seen.last.isEmpty)
    sub.close()
  }

  test("compactTtl physically drops expired rows (ttl_cleanup_manager.dart:40-60)") {
    val wh = Files.createTempDirectory("graft_ttl").toString
    val e = Graft.withWarehouse(spark, sfDir, wh)
    e.createTable(TableSchema("ev", PrimaryKeyConfig("id", PkStrategy.None),
      Seq(FieldSchema("seen_at", GType.GDateTime, nullable = false)),
      ttl = Some(TtlConfig(3600000L, Some("seen_at")))))
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    val old = new java.sql.Timestamp(System.currentTimeMillis() - 7200000L)
    e.batchInsert("ev", Seq(Map("id" -> "live", "seen_at" -> now),
      Map("id" -> "stale", "seen_at" -> old)))
    assert(e.table("ev").count() == 1) // scan-time expiry filter
    e.compactTtl("ev")
    val raw = spark.read.parquet(s"$wh/default/ev")
    assert(raw.count() == 1 && raw.collect()(0).getString(0) == "live")
  }

  test("int8 quantization roundtrip keeps cosine ranking (table_schema.dart:2481-2498)") {
    import graft.vector.VectorSearch._
    val embs = engine.table("embeddings").limit(50)
      .select(col("vec_id"), col("embedding"), quantizeInt8(col("embedding")).as("q8"))
    val rows = embs.select(col("vec_id"), col("embedding"),
      dequantizeInt8(col("q8")).as("deq")).collect()
    rows.foreach { r =>
      val orig = r.getSeq[Float](1)
      val deq = r.getSeq[Float](2)
      assert(orig.length == deq.length)
      val halfStep = orig.map(x => math.abs(x.toDouble)).max / 254.0 + 1e-6
      orig.zip(deq).foreach { case (a, b) => assert(math.abs(a - b) <= halfStep) }
    }
  }

  test("sql() passthrough resolves engine tables (managed over dataDir)") {
    val direct = engine.sql("SELECT count(*) AS c FROM lineitem WHERE l_quantity > 45")
      .collect()(0).getLong(0)
    assert(direct == engine.table("lineitem").where(col("l_quantity") > 45).count())
    // managed tables resolve too
    val e = freshEngine()
    e.batchInsert("items", Seq(Map("id" -> "1", "name" -> "a", "qty" -> 2, "price" -> 1.5)))
    assert(e.sql("SELECT sum(qty) FROM items").collect()(0).getLong(0) == 2L)
  }

  test("applyAsync migrates every space holding the table; " +
      "queryMigrationTaskStatus reports the completed task; unknown id -> None") {
    val wh = Files.createTempDirectory("graft_mig_async").toString
    val e = Graft.withWarehouse(spark, sfDir, wh)
    for ((sp, base) <- Seq("default" -> 0, "alpha" -> 10)) {
      val se = e.switchSpace(sp)
      se.createTable(TableSchema("m", PrimaryKeyConfig("id", PkStrategy.None),
        Seq(FieldSchema("v", GType.GInteger))))
      se.batchInsert("m", (1 to 3).map(i =>
        Map[String, Any]("id" -> s"$i", "v" -> (base + i))))
    }
    val tid = e.updateSchema("m").renameField("v", "val")
      .addField("flag", GType.GText, defaultValue = Some("y")).applyAsync()
    val st = e.queryMigrationTaskStatus(tid).get
    assert(st.isCompleted && st.taskId == tid)
    assert(st.processedSpacesCount == 2 && st.totalSpacesCount == 2)
    assert(st.pendingSpaces.isEmpty && st.totalRecordsProcessed == 6L)
    assert(st.progressPercentage == 100.0 && st.throughput > 0.0)
    // both spaces migrated: rename preserved data, added column defaulted
    for ((sp, base) <- Seq("default" -> 0, "alpha" -> 10)) {
      val rows = e.switchSpace(sp).table("m").orderBy(col("id")).collect()
      assert(rows.map(_.getAs[Long]("val")).toSeq == Seq(base + 1L, base + 2L, base + 3L))
      assert(rows.forall(_.getAs[String]("flag") == "y"))
    }
    assert(e.queryMigrationTaskStatus("nope").isEmpty)
    // a second task gets a distinct id and its own ledger entry
    val tid2 = e.updateSchema("m").removeField("flag").applyAsync()
    assert(tid2 != tid && e.queryMigrationTaskStatus(tid2).get.isCompleted)
    assert(e.queryMigrationTaskStatus(tid).get.isCompleted) // first still queryable
  }

  test("dropTable removes data + schema") {
    val e = freshEngine()
    e.batchInsert("items", Seq(Map("id" -> "1", "name" -> "x", "qty" -> 1, "price" -> 1.0)))
    e.dropTable("items")
    assert(e.registry.get("default", "items").isEmpty)
    // falls back to dataDir resolution → items.parquet does not exist there
    intercept[Exception] { e.table("items").count() }
  }
}
