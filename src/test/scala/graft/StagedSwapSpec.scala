package graft

import java.io.IOException
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path}
import org.apache.spark.sql.functions.col

import graft.schema._
import graft.write.Writes

/** The one publish primitive, `Writes.stagedSwap`: checked renames, crash
  * recovery from `<path>.old`, and managed data located through Hadoop FS. */
class StagedSwapSpec extends SparkSpec {

  /** The local FS, except that `rename` returns false where `refuse` holds. */
  private def refusingRename(refuse: (Path, Path) => Boolean): FileSystem =
    new FilterFileSystem(FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)) {
      override def rename(src: Path, dst: Path): Boolean =
        !refuse(src, dst) && super.rename(src, dst)
    }

  private def ids(path: String): Seq[Long] =
    spark.read.parquet(path).collect().map(_.getLong(0)).sorted.toSeq

  private def debris(path: String): Seq[String] =
    Seq(".staging", ".lock", ".old").map(path + _).filter(p => Files.exists(Paths.get(p)))

  private def seeded(prefix: String): String = {
    val t = Files.createTempDirectory(prefix).toString + "/t"
    spark.range(1, 3).toDF("id").write.parquet(t)
    t
  }

  test("a refused move-aside throws and leaves the table untouched") {
    val t = seeded("graft_swap_aside")
    val fs = refusingRename((_, dst) => dst.getName.endsWith(".old"))
    intercept[IOException] {
      Writes.stagedSwap(fs, t)(tmp => spark.range(9, 10).toDF("id").write.parquet(tmp))
    }
    assert(ids(t) == Seq(1L, 2L))
    assert(debris(t).isEmpty, debris(t).mkString(", "))
    assert(!new java.io.File(t).listFiles().exists(_.isDirectory),
      "staging nested inside the table")
  }

  test("a refused publish throws and moves the old table back") {
    val t = seeded("graft_swap_publish")
    val fs = refusingRename((src, _) => src.getName.endsWith(".staging"))
    intercept[IOException] {
      Writes.stagedSwap(fs, t)(tmp => spark.range(9, 10).toDF("id").write.parquet(tmp))
    }
    assert(ids(t) == Seq(1L, 2L))
    assert(debris(t).isEmpty, debris(t).mkString(", "))
  }

  /** A warehouse whose table `acc` (a → 1, b → 2) a crash left between the
    * swap's two renames: the table at `.old`, beside the staging directory
    * that was about to be published. */
  private def crashed(prefix: String): Graft = {
    val e = Graft.withWarehouse(spark, sfDir, Files.createTempDirectory(prefix).toString)
    e.createTable(TableSchema("acc", PrimaryKeyConfig("id", PkStrategy.None),
      Seq(FieldSchema("v", GType.GInteger))))
    e.batchInsert("acc", Seq(Map("id" -> "a", "v" -> 1), Map("id" -> "b", "v" -> 2)))
    val t = Paths.get(e.managedPath("acc"))
    Files.move(t, Paths.get(t + ".old"))
    Files.createDirectories(Paths.get(t + ".staging"))
    e
  }

  private def rows(e: Graft): Map[String, Long] =
    e.table("acc").collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("an update after a crash between the renames keeps every row") {
    val e = crashed("graft_crash_update")
    e.update("acc").set("v", 9).where("id", "=", "a").apply()
    assert(rows(e) == Map("a" -> 9L, "b" -> 2L))
  }

  test("a batchInsert after a crash between the renames keeps every row") {
    val e = crashed("graft_crash_insert")
    e.batchInsert("acc", Seq(Map("id" -> "c", "v" -> 3)))
    assert(rows(e) == Map("a" -> 1L, "b" -> 2L, "c" -> 3L))
  }

  private def uriWarehouse(prefix: String): Graft =
    Graft.withWarehouse(spark, sfDir, "file://" + Files.createTempDirectory(prefix).toString)

  test("a warehouse named as a file:// URI reads back its tables") {
    val e = uriWarehouse("graft_uri_wh")
    e.createTable(TableSchema("acc", PrimaryKeyConfig("id", PkStrategy.None),
      Seq(FieldSchema("v", GType.GInteger))))
    e.batchInsert("acc", Seq(Map("id" -> "a", "v" -> 1), Map("id" -> "b", "v" -> 2)))
    e.batchUpsert("acc", Seq(Map("id" -> "b", "v" -> 5), Map("id" -> "c", "v" -> 3)))
    assert(e.table("acc").count() == 3)
    assert(e.table("acc").where(col("id") === "b").head().getLong(1) == 5L)
  }

  test("a warehouse named as a file:// URI keeps every KV key") {
    val e = uriWarehouse("graft_uri_kv")
    e.kv.set("k1", "v1")
    e.kv.set("k2", "v2")
    assert(e.kv.get("k1").contains("v1") && e.kv.get("k2").contains("v2"))
  }

  test("the \".staging\" suffix is spelled only in Writes.scala") {
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    val hits = files(new java.io.File("src/main/scala")).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        case (line, i) if line.contains("\".staging\"") => s"${f.getPath}:${i + 1}"
      }.toList
      finally src.close()
    }
    assert(hits.nonEmpty && hits.forall(_.startsWith("src/main/scala/graft/write/Writes.scala:")),
      s"stage→swap copies outside Writes.stagedSwap: ${hits.mkString(", ")}")
  }
}
