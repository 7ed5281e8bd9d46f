package graft.kv

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Graft

/**
 * KV namespace — the reference's `db.kv` surface
 * (/root/reference/lib/src/Interface/kv_store.dart:9-44): point set/get/
 * remove/setMany with TTL (`ttl` and `expiresAt` mutually exclusive,
 * kv_store.dart:34-120) and a global flag, backed by a hidden system table
 * (SystemTable.getKeyValueName, kv_store.dart:16).
 *
 * Spark shape (SURVEY.md §1.1): a 3-column DataFrame
 * `(key STRING, value STRING, expires_at TIMESTAMP)` per space (+ one
 * global), stored as parquet in the warehouse. Point ops are key-filters;
 * expired entries are invisible at read time (lazy expiry, matching
 * tostore.dart:726-736) and physically dropped by `compact()` (the
 * reference's background sweeper, ttl_cleanup_manager.dart:40-60).
 *
 * This is an analytics engine: KV writes are micro-batch overwrites, not
 * OLTP point writes — `setMany` is the intended grain.
 */
final class KvStore(
    engine: Graft,
    global: Boolean = false,
    hub: Option[graft.streaming.WatchHub] = None) {

  private def spark: SparkSession = engine.spark
  private val tableName = "_kv_store"

  private def notifyChange(op: String): Unit = hub.foreach(_.publish(
    graft.streaming.ChangeEvent(op, tableName, None, None,
      new Timestamp(System.currentTimeMillis()))))

  /** watchValue(key): initial emission + re-read on every KV write through
    * this store, consecutive duplicates suppressed (`distinct` dedup —
    * lib/tostore.dart:758-791). Requires a hub-attached store. */
  def watchValue(key: String)(onValue: Option[String] => Unit)
      : graft.streaming.WatchSubscription = {
    val h = hub.getOrElse(throw new IllegalStateException(
      "watchValue requires a KvStore constructed with a WatchHub"))
    @volatile var last: Option[Option[String]] = None
    h.watchCompute(tableName, () => Seq.empty) { _ =>
      val v = get(key)
      if (!last.contains(v)) { last = Some(v); onValue(v) }
    }
  }

  /** watchValues(keys): plural form (lib/tostore.dart:758-791) — one
    * emission carries the current value of every watched key; initial
    * emission + re-read per KV write, duplicate maps suppressed. */
  def watchValues(keys: Seq[String])(onValues: Map[String, String] => Unit)
      : graft.streaming.WatchSubscription = {
    val h = hub.getOrElse(throw new IllegalStateException(
      "watchValues requires a KvStore constructed with a WatchHub"))
    @volatile var last: Option[Map[String, String]] = None
    h.watchCompute(tableName, () => Seq.empty) { _ =>
      val vs = getMany(keys)
      if (!last.contains(vs)) { last = Some(vs); onValues(vs) }
    }
  }

  val schema: StructType = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("value", StringType, nullable = true),
    StructField("expires_at", TimestampType, nullable = true)))

  private def path: String = engine.managedPath(tableName, global)

  /** Live view: expired entries filtered out (lazy expiry). */
  def df: DataFrame = {
    val raw =
      if (engine.pathExists(path)) spark.read.schema(schema).parquet(path)
      else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    raw.where(col("expires_at").isNull || col("expires_at") > current_timestamp())
  }

  // ---------- writes ----------

  /** setMany: merge rows by key (last write wins). `ttlMs` XOR `expiresAt`
    * (kv_store.dart guards the same way). */
  def setMany(
      kvs: Seq[(String, String)],
      ttlMs: Option[Long] = None,
      expiresAt: Option[Timestamp] = None): Unit = {
    require(ttlMs.isEmpty || expiresAt.isEmpty, "ttl and expiresAt are mutually exclusive")
    val exp: Timestamp = expiresAt.orElse(
      ttlMs.map(ms => new Timestamp(System.currentTimeMillis() + ms))).orNull
    // one row per key, the batch's last value winning; a LocalRelation,
    // whose known size lets the merge broadcast it instead of shuffling
    val staged = spark.createDataFrame(
      kvs.toMap.map { case (k, v) => Row(k, v, exp) }.toSeq.asJava, schema)
    // the merge reads the live store (`df`) — built inside writeAtomic's
    // by-name argument so the snapshot is taken under the lock
    writeAtomic(df.as("t")
      .join(staged.as("s"), col("t.key") === col("s.key"), "left_anti")
      .union(staged))
    notifyChange("update")
  }

  def set(key: String, value: String, ttlMs: Option[Long] = None,
      expiresAt: Option[Timestamp] = None): Unit =
    setMany(Seq(key -> value), ttlMs, expiresAt)

  def remove(key: String): Unit = removeMany(Seq(key))

  def removeMany(keys: Seq[String]): Unit = {
    writeAtomic(df.where(!col("key").isin(keys: _*)))
    notifyChange("delete")
  }

  /** Drop expired rows physically (the background sweeper's job). */
  def compact(): Unit = writeAtomic(df)

  private def writeAtomic(data: => DataFrame): Unit =
    // the one locked swap every managed overwrite takes: one parquet file
    // (point reads stay one-footer cheap), crash recovery and debris
    // healing under the lease, and the BY-NAME merge plan lists the store
    // INSIDE the critical section, so a concurrent swap cannot lose one
    // writer's keys
    graft.write.Writes.lockedSwap(spark.sparkContext.hadoopConfiguration, path)(tmp =>
      data.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp))

  // ---------- reads ----------

  /** get: expired → None (lazy expiry, tostore.dart:726-736). A stored
    * NULL value also reads as None — consistent with getMany. */
  def get(key: String): Option[String] =
    df.where(col("key") === key).select("value").collect().headOption
      .flatMap(r => Option(r.getString(0)))

  /** getMany: keys with NULL values are omitted (a Map[String,String] must
    * not carry nulls; mirrors get's None). */
  def getMany(keys: Seq[String]): Map[String, String] =
    df.where(col("key").isin(keys: _*)).select("key", "value").collect()
      .flatMap(r => Option(r.getString(1)).map(v => r.getString(0) -> v)).toMap

  // typed getters (kv_store.dart typed surface)
  def getInt(key: String): Option[Long] = get(key).flatMap(v => scala.util.Try(v.toLong).toOption)
  def getDouble(key: String): Option[Double] = get(key).flatMap(v => scala.util.Try(v.toDouble).toOption)
  def getBool(key: String): Option[Boolean] = get(key).flatMap(v => scala.util.Try(v.toBoolean).toOption)

  /** getKeys(prefix) parity (Interface/kv_store.dart:179-191) with a
    * BOUNDED driver materialization: at most `cap` keys are collected
    * (limit cap+1 bounds the fetch itself); a store larger than the cap
    * throws loudly instead of silently truncating or OOMing the driver —
    * use `keysIterator` to traverse an unbounded store. */
  def keys(prefix: Option[String] = None, cap: Int = KvStore.KeyListCap): Seq[String] = {
    val base = prefix.fold(df)(p => df.where(col("key").startsWith(p)))
    val probe = if (cap == Int.MaxValue) cap else cap + 1 // avoid overflow
    val got = base.select("key").limit(probe).collect().map(_.getString(0)).toSeq
    if (got.size > cap) throw new IllegalStateException(
      s"KvStore.keys(): more than $cap keys in the store; raise `cap` or use keysIterator()")
    got
  }

  /** Unbounded key traversal WITHOUT driver materialization: streams one
    * partition at a time (`toLocalIterator`) — driver memory is O(one
    * partition), not O(store). */
  def keysIterator(prefix: Option[String] = None): Iterator[String] = {
    val base = prefix.fold(df)(p => df.where(col("key").startsWith(p)))
    base.select("key").toLocalIterator().asScala.map(_.getString(0))
  }
}

object KvStore {
  /** Default driver-side bound for `keys()` — the KV namespace is a
    * config/metadata surface (reference grain), not a data table; 100k
    * keys × ~100 B is a few MB of driver heap, far under any realistic
    * micro-batch KV use. */
  val KeyListCap: Int = 100000
}
