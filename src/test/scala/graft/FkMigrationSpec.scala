package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.expr.Cond
import graft.schema._

/** FK delete enforcement (foreign_key_manager.dart) + schema
  * auto-migration ("Instance Schema Auto Upgrade" reference suite). */
class FkMigrationSpec extends SparkSpec {

  private def engineWith(onDelete: FkAction): Graft = {
    val wh = Files.createTempDirectory("graft_fk").toString
    val e = Graft.withWarehouse(spark, sfDir, wh)
    e.createTable(TableSchema("dept", PrimaryKeyConfig("id", PkStrategy.None),
      Seq(FieldSchema("dname", GType.GText, nullable = false))))
    e.createTable(TableSchema("emp", PrimaryKeyConfig("id", PkStrategy.None),
      Seq(
        FieldSchema("ename", GType.GText, nullable = false),
        FieldSchema("dept_id", GType.GText, defaultValue = Some("d0"))),
      foreignKeys = Seq(ForeignKeySchema(Seq("dept_id"), "dept", Seq("id"),
        onDelete = onDelete))))
    e.batchInsert("dept", Seq(
      Map("id" -> "d1", "dname" -> "eng"), Map("id" -> "d2", "dname" -> "ops")))
    e.batchInsert("emp", Seq(
      Map("id" -> "e1", "ename" -> "ada", "dept_id" -> "d1"),
      Map("id" -> "e2", "ename" -> "bob", "dept_id" -> "d1"),
      Map("id" -> "e3", "ename" -> "cyd", "dept_id" -> "d2")))
    e
  }

  private def engineWithUpd(onUpdate: FkAction): Graft = {
    val wh = Files.createTempDirectory("graft_fku").toString
    val e = Graft.withWarehouse(spark, sfDir, wh)
    e.createTable(TableSchema("dept", PrimaryKeyConfig("id", PkStrategy.None),
      Seq(FieldSchema("dname", GType.GText, nullable = false))))
    e.createTable(TableSchema("emp", PrimaryKeyConfig("id", PkStrategy.None),
      Seq(
        FieldSchema("ename", GType.GText, nullable = false),
        FieldSchema("dept_id", GType.GText, defaultValue = Some("d0"))),
      foreignKeys = Seq(ForeignKeySchema(Seq("dept_id"), "dept", Seq("id"),
        onUpdate = onUpdate))))
    e.batchInsert("dept", Seq(
      Map("id" -> "d1", "dname" -> "eng"), Map("id" -> "d2", "dname" -> "ops")))
    e.batchInsert("emp", Seq(
      Map("id" -> "e1", "ename" -> "ada", "dept_id" -> "d1"),
      Map("id" -> "e2", "ename" -> "bob", "dept_id" -> "d1"),
      Map("id" -> "e3", "ename" -> "cyd", "dept_id" -> "d2")))
    e
  }

  test("onUpdate=cascade rewrites child FK values to the new key (table_schema.dart:2814-2886)") {
    import graft.expr.UExpr
    val e = engineWithUpd(FkAction.Cascade)
    e.updateEnforced("dept", Seq("id" -> UExpr.value("d9")), Cond.Leaf("id", "=", "d1"))
    assert(e.table("dept").where(col("id") === "d9").count() == 1)
    assert(e.table("dept").where(col("id") === "d1").count() == 0)
    val byEmp = e.table("emp").orderBy("id").collect().map(_.getAs[String]("dept_id")).toSeq
    assert(byEmp == Seq("d9", "d9", "d2"))
  }

  test("onUpdate=restrict refuses while references exist; setNull nulls them") {
    import graft.expr.UExpr
    val e = engineWithUpd(FkAction.Restrict)
    intercept[IllegalStateException] {
      e.updateEnforced("dept", Seq("id" -> UExpr.value("d9")), Cond.Leaf("id", "=", "d1"))
    }
    assert(e.table("dept").where(col("id") === "d1").count() == 1) // nothing mutated
    // updating a NON-key field under restrict is fine (key unchanged)
    e.updateEnforced("dept", Seq("dname" -> UExpr.value("eng2")), Cond.Leaf("id", "=", "d1"))
    assert(e.table("dept").where(col("dname") === "eng2").count() == 1)

    val e2 = engineWithUpd(FkAction.SetNull)
    e2.updateEnforced("dept", Seq("id" -> UExpr.value("d9")), Cond.Leaf("id", "=", "d1"))
    val after = e2.table("emp").orderBy("id").collect()
    assert(after(0).isNullAt(after(0).fieldIndex("dept_id")))
    assert(after(1).isNullAt(after(1).fieldIndex("dept_id")))
    assert(after(2).getAs[String]("dept_id") == "d2")
  }

  test("onUpdate=cascade on a SELF-referential FK (manager_id -> own PK)") {
    import graft.expr.UExpr
    val wh = Files.createTempDirectory("graft_selffk").toString
    val e = Graft.withWarehouse(spark, sfDir, wh)
    e.createTable(TableSchema("emp2", PrimaryKeyConfig("id", PkStrategy.None),
      Seq(
        FieldSchema("ename", GType.GText, nullable = false),
        FieldSchema("manager_id", GType.GText)),
      foreignKeys = Seq(ForeignKeySchema(Seq("manager_id"), "emp2", Seq("id"),
        onUpdate = FkAction.Cascade))))
    e.batchInsert("emp2", Seq(
      Map("id" -> "e1", "ename" -> "boss", "manager_id" -> null),
      Map("id" -> "e2", "ename" -> "ada", "manager_id" -> "e1"),
      Map("id" -> "e3", "ename" -> "bob", "manager_id" -> "e1"),
      Map("id" -> "e4", "ename" -> "cyd", "manager_id" -> "e2")))
    e.updateEnforced("emp2", Seq("id" -> UExpr.value("e9")), Cond.Leaf("id", "=", "e1"))
    val after = e.table("emp2").orderBy("ename").collect()
      .map(r => r.getAs[String]("ename") -> (r.getAs[String]("id"), r.getAs[String]("manager_id")))
      .toMap
    assert(after("boss") == (("e9", null))) // PK rewritten
    assert(after("ada")._2 == "e9" && after("bob")._2 == "e9") // cascaded refs
    assert(after("cyd")._2 == "e2") // unrelated ref untouched
    assert(e.table("emp2").count() == 4) // no rows lost through the double overwrite
  }

  test("onDelete=restrict refuses while references exist (table_schema.dart:2756-2786)") {
    val e = engineWith(FkAction.Restrict)
    intercept[IllegalStateException] {
      e.deleteEnforced("dept", Cond.Leaf("id", "=", "d1"))
    }
    assert(e.table("dept").count() == 2)
    // deleting an unreferenced parent is fine after children go
    e.deleteEnforced("emp", Cond.Leaf("dept_id", "=", "d1"))
    e.deleteEnforced("dept", Cond.Leaf("id", "=", "d1"))
    assert(e.table("dept").count() == 1)
  }

  test("onDelete=cascade removes referencing rows") {
    val e = engineWith(FkAction.Cascade)
    e.deleteEnforced("dept", Cond.Leaf("id", "=", "d1"))
    assert(e.table("dept").count() == 1)
    val emps = e.table("emp").collect()
    assert(emps.length == 1 && emps(0).getAs[String]("id") == "e3")
  }

  test("onDelete=setNull nulls the FK fields; setDefault restores declared default") {
    val e = engineWith(FkAction.SetNull)
    e.deleteEnforced("dept", Cond.Leaf("id", "=", "d1"))
    val after = e.table("emp").orderBy("id").collect()
    assert(after.length == 3)
    assert(after(0).isNullAt(after(0).fieldIndex("dept_id")))
    assert(after(2).getAs[String]("dept_id") == "d2")

    val e2 = engineWith(FkAction.SetDefault)
    e2.deleteEnforced("dept", Cond.Leaf("id", "=", "d1"))
    val afterD = e2.table("emp").orderBy("id").collect()
    assert(afterD(0).getAs[String]("dept_id") == "d0")
  }

  test("restrict anywhere in the cascade graph aborts BEFORE any destructive action") {
    val wh = Files.createTempDirectory("graft_fk2").toString
    val e = Graft.withWarehouse(spark, sfDir, wh)
    e.createTable(TableSchema("p", PrimaryKeyConfig("id", PkStrategy.None),
      Seq(FieldSchema("v", GType.GText))))
    e.createTable(TableSchema("child_cascade", PrimaryKeyConfig("id", PkStrategy.None),
      Seq(FieldSchema("p_id", GType.GText)),
      foreignKeys = Seq(ForeignKeySchema(Seq("p_id"), "p", Seq("id"),
        onDelete = FkAction.Cascade))))
    e.createTable(TableSchema("grandchild_restrict", PrimaryKeyConfig("id", PkStrategy.None),
      Seq(FieldSchema("c_id", GType.GText)),
      foreignKeys = Seq(ForeignKeySchema(Seq("c_id"), "child_cascade", Seq("id"),
        onDelete = FkAction.Restrict))))
    e.batchInsert("p", Seq(Map("id" -> "p1", "v" -> "x")))
    e.batchInsert("child_cascade", Seq(Map("id" -> "c1", "p_id" -> "p1")))
    e.batchInsert("grandchild_restrict", Seq(Map("id" -> "g1", "c_id" -> "c1")))
    intercept[IllegalStateException] {
      e.deleteEnforced("p", Cond.Leaf("id", "=", "p1"))
    }
    // nothing was destroyed: the transitive restrict fired in phase 1
    assert(e.table("p").count() == 1)
    assert(e.table("child_cascade").count() == 1)
    assert(e.table("grandchild_restrict").count() == 1)
  }

  test("cascade cycles terminate (mutually-referencing FKs)") {
    val wh = Files.createTempDirectory("graft_fk3").toString
    val e = Graft.withWarehouse(spark, sfDir, wh)
    e.createTable(TableSchema("a", PrimaryKeyConfig("id", PkStrategy.None),
      Seq(FieldSchema("b_id", GType.GText)),
      foreignKeys = Seq(ForeignKeySchema(Seq("b_id"), "b", Seq("id"),
        onDelete = FkAction.Cascade))))
    e.createTable(TableSchema("b", PrimaryKeyConfig("id", PkStrategy.None),
      Seq(FieldSchema("a_id", GType.GText)),
      foreignKeys = Seq(ForeignKeySchema(Seq("a_id"), "a", Seq("id"),
        onDelete = FkAction.Cascade))))
    e.batchInsert("a", Seq(Map("id" -> "a1", "b_id" -> "b1")))
    e.batchInsert("b", Seq(Map("id" -> "b1", "a_id" -> "a1")))
    e.deleteEnforced("a", Cond.Leaf("id", "=", "a1")) // must not stack-overflow
    assert(e.table("a").count() == 0)
    assert(e.table("b").count() == 0)
  }

  test("a cascade whose child rewrites itself on the way re-reads that child") {
    val e = Graft.withWarehouse(spark, sfDir, Files.createTempDirectory("graft_fkself").toString)
    e.createTable(TableSchema("p", PrimaryKeyConfig("id", PkStrategy.None),
      Seq(FieldSchema("name", GType.GText))))
    e.createTable(TableSchema("x", PrimaryKeyConfig("id", PkStrategy.None),
      Seq(FieldSchema("pid", GType.GText), FieldSchema("par", GType.GText)),
      foreignKeys = Seq(
        ForeignKeySchema(Seq("pid"), "p", Seq("id"), onDelete = FkAction.Cascade),
        ForeignKeySchema(Seq("par"), "x", Seq("id"), onDelete = FkAction.SetNull))))
    e.batchInsert("p", Seq(Map("id" -> "1", "name" -> "a"), Map("id" -> "2", "name" -> "b")))
    e.batchInsert("x", Seq(Map("id" -> "x1", "pid" -> "1"),
      Map("id" -> "x2", "pid" -> "2", "par" -> "x1")))
    e.deleteEnforced("p", Cond.Leaf("id", "=", "1"))
    assert(e.table("p").collect().map(_.getString(0)).toSeq == Seq("2"))
    val x = e.table("x").collect().map(r => (r.getString(0), r.getString(1), Option(r.getString(2))))
    assert(x.toSeq == Seq(("x2", "2", None)), x.mkString(","))
  }

  test("deleteEnforced honors the condition-less guard") {
    val e = engineWith(FkAction.NoAction)
    intercept[IllegalArgumentException] { e.deleteEnforced("emp", Cond.True) }
    e.deleteEnforced("emp", Cond.True, allowDeleteAll = true)
    assert(e.table("emp").count() == 0)
  }

  test("migrateTable: added field gets default, removed field dropped, type cast applied") {
    val wh = Files.createTempDirectory("graft_mig").toString
    val e = Graft.withWarehouse(spark, sfDir, wh)
    e.createTable(TableSchema("t", PrimaryKeyConfig("id", PkStrategy.None),
      Seq(FieldSchema("a", GType.GInteger), FieldSchema("gone", GType.GText))))
    e.batchInsert("t", Seq(Map("id" -> "1", "a" -> 7, "gone" -> "x")))
    e.migrateTable(TableSchema("t", PrimaryKeyConfig("id", PkStrategy.None),
      Seq(
        FieldSchema("a", GType.GDouble),                       // type widened
        FieldSchema("b", GType.GText, defaultValue = Some("d")), // added w/ default
        FieldSchema("c", GType.GInteger))))                    // added nullable
    val r = e.table("t").collect()(0)
    assert(r.schema.fieldNames.toSeq == Seq("id", "a", "b", "c"))
    assert(r.getAs[Double]("a") == 7.0)
    assert(r.getAs[String]("b") == "d")
    assert(r.isNullAt(r.fieldIndex("c")))
  }

  test("updateSchema chain: add/remove/RENAME(data preserved)/modify (tostore.dart:1083)") {
    val wh = Files.createTempDirectory("graft_us").toString
    val e = Graft.withWarehouse(spark, sfDir, wh)
    e.createTable(TableSchema("u", PrimaryKeyConfig("id", PkStrategy.None),
      Seq(FieldSchema("nickname", GType.GText), FieldSchema("old", GType.GText),
        FieldSchema("qty", GType.GInteger)),
      foreignKeys = Seq(ForeignKeySchema(Seq("nickname"), "other", Seq("id")))))
    e.batchInsert("u", Seq(
      Map("id" -> "1", "nickname" -> "ada", "old" -> "x", "qty" -> 7),
      Map("id" -> "2", "nickname" -> "bob", "old" -> "y", "qty" -> 9)))
    e.updateSchema("u")
      .renameField("nickname", "display_name") // data must survive
      .removeField("old")
      .addField("age", GType.GInteger)
      .addField("status", GType.GText, defaultValue = Some("active"))
      .modifyField("qty")(_.copy(dtype = GType.GDouble, unique = true))
      .apply()
    // renameTable refuses to clobber an existing registration
    e.createTable(TableSchema("occupied", PrimaryKeyConfig("id", PkStrategy.None),
      Seq(FieldSchema("x", GType.GText))))
    intercept[IllegalArgumentException] {
      e.updateSchema("u").renameTable("occupied").apply()
    }
    // duplicate-name add is refused up front, not as a write-time error
    intercept[IllegalArgumentException] {
      e.updateSchema("u").addField("qty", GType.GInteger).apply()
    }
    val rows = e.table("u").orderBy("id").collect()
    assert(rows(0).schema.fieldNames.toSeq ==
      Seq("id", "display_name", "qty", "age", "status"))
    assert(rows.map(_.getAs[String]("display_name")).toSeq == Seq("ada", "bob"))
    assert(rows(0).getAs[Double]("qty") == 7.0) // modify cast
    assert(rows(0).getAs[String]("status") == "active")
    assert(rows(0).isNullAt(rows(0).fieldIndex("age")))
    val s = e.getTableSchema("u").get
    assert(s.foreignKeys.head.fields == Seq("display_name")) // FK follows rename
    assert(s.uniqueKeySets.contains(Seq("qty"))) // modify applied semantically
    // the unique constraint from modifyField now guards future writes
    val rep = e.batchInsert("u",
      Seq(Map("id" -> "3", "display_name" -> "cyd", "qty" -> 7)),
      allowPartialErrors = true)
    assert(rep.successCount == 0 && rep.failedCount == 1)
  }

  test("updateSchema chain: indexes/FKs/PK rename/TTL/renameTable") {
    val wh = Files.createTempDirectory("graft_us2").toString
    val e = Graft.withWarehouse(spark, sfDir, wh)
    e.createTable(TableSchema("v1", PrimaryKeyConfig("id", PkStrategy.None),
      Seq(FieldSchema("email", GType.GText), FieldSchema("ref", GType.GText)),
      indexes = Seq(IndexSchema(Seq("email"), unique = true)),
      foreignKeys = Seq(ForeignKeySchema(Seq("ref"), "parent", Seq("id")))))
    e.batchInsert("v1", Seq(Map("id" -> "1", "email" -> "a@x", "ref" -> "p1")))
    e.updateSchema("v1")
      .removeIndex(Seq("email"))
      .addIndex(Seq("ref"), unique = false)
      .removeForeignKey(Seq("ref"))
      .addForeignKey(ForeignKeySchema(Seq("email"), "accounts", Seq("mail"),
        onDelete = FkAction.SetNull))
      .setPrimaryKeyConfig(PrimaryKeyConfig("uid", PkStrategy.None)) // PK column rename
      .setTtlConfig(TtlConfig(86400000L)) // engine-managed ingest-ts column
      .renameTable("v2")
      .apply()
    assert(e.getTableSchema("v1").isEmpty)
    val s = e.getTableSchema("v2").get
    assert(s.primaryKey.name == "uid")
    assert(s.indexes.map(_.fields) == Seq(Seq("ref")))
    assert(s.foreignKeys.map(_.fields) == Seq(Seq("email")))
    assert(s.ttl.exists(_.ttlMs == 86400000L))
    val r = e.table("v2").collect()(0)
    assert(r.getAs[String]("uid") == "1") // PK data survived the rename
    assert(r.getAs[String]("email") == "a@x")
  }

  test("batchUpsert: update-or-insert by PK, invalid rows split, last duplicate wins") {
    val wh = Files.createTempDirectory("graft_bu").toString
    val e = Graft.withWarehouse(spark, sfDir, wh)
    e.createTable(TableSchema("bu", PrimaryKeyConfig("id", PkStrategy.None),
      Seq(FieldSchema("v", GType.GInteger, nullable = false))))
    e.batchInsert("bu", Seq(Map("id" -> "1", "v" -> 10), Map("id" -> "2", "v" -> 20)))
    val rep = e.batchUpsert("bu", Seq(
      Map("id" -> "2", "v" -> 21),            // update
      Map("id" -> "3", "v" -> 30),            // insert
      Map("id" -> "3", "v" -> 31),            // within-batch dup: LAST wins
      Map("id" -> "4", "v" -> "not-a-number") // invalid → failed split
    ))
    assert(rep.successCount == 3 && rep.failedCount == 1)
    val vals = e.table("bu").collect()
      .map(r => r.getAs[String]("id") -> r.getAs[Long]("v")).toMap
    assert(vals == Map("1" -> 10L, "2" -> 21L, "3" -> 31L))
  }

  test("batchUpsert: secondary unique enforced; partial update rows pass nullability") {
    val wh = Files.createTempDirectory("graft_bu2").toString
    val e = Graft.withWarehouse(spark, sfDir, wh)
    e.createTable(TableSchema("bu2", PrimaryKeyConfig("id", PkStrategy.None),
      Seq(FieldSchema("email", GType.GText, unique = true),
        FieldSchema("v", GType.GInteger, nullable = false))))
    e.batchInsert("bu2", Seq(Map("id" -> "1", "email" -> "a@x", "v" -> 1),
      Map("id" -> "2", "email" -> "b@x", "v" -> 2)))
    val rep = e.batchUpsert("bu2", Seq(
      Map("id" -> "3", "email" -> "a@x", "v" -> 3), // collides with id=1's unique email
      Map("id" -> "2", "v" -> 22),                  // partial update: absent email coalesces
      Map("id" -> "4", "v" -> 4)))                  // insert, null email (unique skips nulls)
    assert(rep.failedCount == 1 && rep.successCount == 2, rep.toString)
    val m = e.table("bu2").collect()
      .map(r => r.getAs[String]("id") -> ((r.getAs[String]("email"), r.getAs[Long]("v")))).toMap
    assert(!m.contains("3")) // unique collision rejected
    assert(m("2") == (("b@x", 22L))) // updated v, email preserved by coalesce
    assert(m("1") == (("a@x", 1L)))
    assert(m("4")._2 == 4L)
    // a NEW row missing a non-nullable field still fails (insert-side check)
    val rep2 = e.batchUpsert("bu2", Seq(Map("id" -> "5")))
    assert(rep2.failedCount == 1 && !e.table("bu2").collect().map(_.getString(0)).contains("5"))
  }

  test("batchUpsert: re-updating the same record twice with the same secondary key is a supersede, not a collision") {
    val wh = Files.createTempDirectory("graft_bu3").toString
    val e = Graft.withWarehouse(spark, sfDir, wh)
    e.createTable(TableSchema("bu3", PrimaryKeyConfig("id", PkStrategy.None),
      Seq(FieldSchema("email", GType.GText, unique = true),
        FieldSchema("v", GType.GInteger, nullable = false))))
    e.batchInsert("bu3", Seq(Map("id" -> "1", "email" -> "a@x", "v" -> 1)))
    // both rows carry the same merge key AND the same unique email: the
    // LAST must win (documented last-wins), not land in the failure report
    val rep = e.batchUpsert("bu3", Seq(
      Map("id" -> "1", "email" -> "a@x", "v" -> 10),
      Map("id" -> "1", "email" -> "a@x", "v" -> 11)))
    assert(rep.failedCount == 0 && rep.successCount == 2, rep.toString)
    assert(e.table("bu3").collect().map(_.getAs[Long]("v")).toSeq == Seq(11L))
    // sequential-apply fidelity: first occurrence claims the email, a later
    // row under a DIFFERENT merge key is the one rejected
    val rep2 = e.batchUpsert("bu3", Seq(
      Map("id" -> "2", "email" -> "b@x", "v" -> 20),
      Map("id" -> "3", "email" -> "b@x", "v" -> 30), // different key, same email → collision
      Map("id" -> "2", "email" -> "b@x", "v" -> 21))) // same key as first → supersede
    assert(rep2.failedCount == 1 && rep2.successCount == 2, rep2.toString)
    val m2 = e.table("bu3").collect()
      .map(r => r.getAs[String]("id") -> r.getAs[Long]("v")).toMap
    assert(m2("2") == 21L && !m2.contains("3"))
  }

  test("batchUpsert: an all-rejected batch does not rewrite the table or notify") {
    val wh = Files.createTempDirectory("graft_bu4").toString
    val hub = new graft.streaming.WatchHub
    val e = Graft.withWarehouse(spark, sfDir, wh).watched(hub)
    e.createTable(TableSchema("bu4", PrimaryKeyConfig("id", PkStrategy.None),
      Seq(FieldSchema("v", GType.GInteger, nullable = false))))
    e.batchInsert("bu4", Seq(Map("id" -> "1", "v" -> 1)))
    @volatile var fires = 0
    val sub = hub.watchCompute("bu4", () => Nil)(_ => fires += 1)
    val before = fires // initial emission
    val rep = e.batchUpsert("bu4", Seq(Map("id" -> "2", "v" -> "junk")))
    assert(rep.successCount == 0 && rep.failedCount == 1)
    assert(fires == before, "phantom upsert ChangeEvent published for an all-rejected batch")
    assert(e.table("bu4").count() == 1)
    sub.close()
  }

  test("updateSchema: rename-collision validation precedes the physical rewrite") {
    val wh = Files.createTempDirectory("graft_mig_atomic").toString
    val e = Graft.withWarehouse(spark, sfDir, wh)
    e.createTables(
      TableSchema("src_t", PrimaryKeyConfig("id", PkStrategy.None),
        Seq(FieldSchema("v", GType.GInteger))),
      TableSchema("dst_t", PrimaryKeyConfig("id", PkStrategy.None),
        Seq(FieldSchema("w", GType.GInteger))))
    e.batchInsert("src_t", Seq(Map("id" -> "1", "v" -> 7)))
    // rename collides with a registered table AND carries a column rename:
    // the require must fire BEFORE any rewrite, leaving src_t readable
    // under its registered schema
    intercept[IllegalArgumentException] {
      e.updateSchema("src_t").renameField("v", "v2").renameTable("dst_t").apply()
    }
    val r = e.table("src_t").collect()(0)
    assert(r.getAs[Long]("v") == 7L, "rewrite ran before rename validation")
  }

  test("setValue/getValue/removeValue facade (space + global namespaces)") {
    val wh = Files.createTempDirectory("graft_kvf").toString
    val e = Graft.withWarehouse(spark, sfDir, wh)
    e.setValue("k1", 42)
    assert(e.getValue("k1").contains("42"))
    e.setValue("k1", "updated")
    assert(e.getValue("k1").contains("updated"))
    e.setValue("g1", "global", isGlobal = true)
    assert(e.getValue("g1").isEmpty) // space namespace does not see it
    assert(e.getValue("g1", isGlobal = true).contains("global"))
    assert(e.switchSpace("alt").getValue("g1", isGlobal = true).contains("global"))
    e.removeValue("k1")
    assert(e.getValue("k1").isEmpty)
  }
}
