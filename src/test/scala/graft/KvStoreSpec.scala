package graft

import java.nio.file.Files
import java.sql.Timestamp

import graft.kv.KvStore

/** KV namespace semantics (kv_store.dart:9-44, tostore.dart:706-803). */
class KvStoreSpec extends SparkSpec {

  private def freshKv(): KvStore = {
    val wh = Files.createTempDirectory("graft_kv_spec").toString
    new KvStore(Graft.withWarehouse(spark, sfDir, wh))
  }

  test("set/get/getMany/keys roundtrip; last write wins") {
    val kv = freshKv()
    kv.setMany(Seq("a" -> "1", "b" -> "2"))
    assert(kv.get("a").contains("1"))
    kv.set("a", "updated")
    assert(kv.get("a").contains("updated"))
    assert(kv.getMany(Seq("a", "b", "zz")) == Map("a" -> "updated", "b" -> "2"))
    assert(kv.keys().toSet == Set("a", "b"))
    assert(kv.get("missing").isEmpty)
  }

  test("setMany: a key repeated in one batch is stored once, with its last value") {
    val kv = freshKv()
    kv.setMany(Seq("a" -> "1", "b" -> "2", "a" -> "3"))
    assert(kv.get("a").contains("3"))
    assert(kv.df.count() == 2)
  }

  test("NULL values: get → None, getMany omits the key (no nulls in the map)") {
    val kv = freshKv()
    kv.setMany(Seq("present" -> "v", "nullish" -> null))
    assert(kv.get("nullish").isEmpty)
    assert(kv.getMany(Seq("present", "nullish")) == Map("present" -> "v"))
    assert(kv.keys().toSet == Set("present", "nullish")) // the key itself exists
  }

  test("TTL: expired values read as absent (lazy expiry, tostore.dart:726-736)") {
    val kv = freshKv()
    kv.set("gone", "x", ttlMs = Some(1L))
    kv.set("stays", "y", ttlMs = Some(3600000L))
    Thread.sleep(10)
    assert(kv.get("gone").isEmpty)
    assert(kv.get("stays").contains("y"))
    kv.compact() // physical sweep drops the expired row
    assert(kv.keys().toSet == Set("stays"))
  }

  test("keys() is bounded: over-cap throws loudly; prefix filters; iterator streams all") {
    val kv = freshKv()
    kv.setMany((1 to 20).map(i => f"k$i%02d" -> i.toString) :+ ("other" -> "x"))
    // prefix parity with the reference's getKeys(prefix:)
    assert(kv.keys(prefix = Some("k")).size == 20)
    // cap is a loud refusal, not a silent truncation
    val e = intercept[IllegalStateException] { kv.keys(cap = 5) }
    assert(e.getMessage.contains("keysIterator"))
    // unbounded traversal path materializes nothing on the driver at once
    assert(kv.keysIterator().size == 21)
    assert(kv.keysIterator(prefix = Some("other")).toSeq == Seq("other"))
  }

  test("ttl XOR expiresAt guard (kv_store.dart:34-120)") {
    val kv = freshKv()
    intercept[IllegalArgumentException] {
      kv.set("k", "v", ttlMs = Some(5L), expiresAt = Some(new Timestamp(0L)))
    }
  }

  test("remove/removeMany") {
    val kv = freshKv()
    kv.setMany(Seq("a" -> "1", "b" -> "2", "c" -> "3"))
    kv.remove("a")
    kv.removeMany(Seq("b", "nope"))
    assert(kv.keys() == Seq("c"))
  }

  test("typed getters parse or None (kv_store.dart typed surface)") {
    val kv = freshKv()
    kv.setMany(Seq("i" -> "42", "d" -> "3.5", "b" -> "true", "s" -> "hello"))
    assert(kv.getInt("i").contains(42L))
    assert(kv.getDouble("d").contains(3.5))
    assert(kv.getBool("b").contains(true))
    assert(kv.getInt("s").isEmpty)
  }

  test("global KV is shared across spaces (isGlobal flag)") {
    val wh = Files.createTempDirectory("graft_kv_g").toString
    val e = Graft.withWarehouse(spark, sfDir, wh)
    val g1 = new KvStore(e, global = true)
    g1.set("shared", "v")
    val g2 = new KvStore(e.switchSpace("other"), global = true)
    assert(g2.get("shared").contains("v"))
    val local = new KvStore(e.switchSpace("other"))
    assert(local.get("shared").isEmpty)
  }

  test("concurrent KV writers: every key survives (merge under the path lock)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val wh = Files.createTempDirectory("graft_kv_cc").toString
    val e = Graft.withWarehouse(spark, sfDir, wh)
    val kv = new KvStore(e)
    // 8 threads × distinct keys: an unserialized merge would snapshot the
    // pre-state and the last swap would silently drop the other writers
    Await.result(Future.sequence((1 to 8).map(i => Future {
      kv.set(s"k$i", s"v$i")
    })), 120.seconds)
    (1 to 8).foreach(i => assert(kv.get(s"k$i").contains(s"v$i"), s"lost k$i"))
  }
}
