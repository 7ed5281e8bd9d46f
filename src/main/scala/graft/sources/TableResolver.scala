package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/**
 * Per-session parquet table resolution. `spark.read.parquet(path)` launches
 * a schema-inference job on every open; the resolver pays it once per path
 * and opens the path again with `spark.read.schema(raw).parquet(path)`,
 * which launches none.
 *
 * An entry stays valid only while the path's file listing is unchanged:
 * the same (file, length, mtime) triples, recursively. Validity comes from
 * the files themselves, not from the engine's write funnel, so deletes,
 * restores and external rewrites of a directory are all seen. The key also
 * carries the session confs that change what inference returns.
 */
object TableResolver {

  /** Session confs that change the schema parquet inference returns. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema")

  /** Bound on cached paths per session (least recently opened go first). */
  private val MaxEntries = 1024

  private final case class Key(path: String, confs: Seq[Option[String]])

  private final case class Entry(stamp: Seq[(String, Long, Long)], raw: StructType,
      nanos: Option[Seq[String]])

  private final class Entries extends java.util.LinkedHashMap[Key, Entry](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, Entry]): Boolean =
      size() > MaxEntries
  }

  // weak keys: a stopped session's entries go with it (entries never
  // reference their session)
  private val sessions = new java.util.WeakHashMap[SparkSession, Entries]

  private def entries(spark: SparkSession): Entries = sessions.synchronized {
    sessions.computeIfAbsent(spark, _ => new Entries)
  }

  /** The parquet table at `path` with its raw schema: exactly what
    * `spark.read.parquet(path)` returns. */
  def open(spark: SparkSession, path: String): DataFrame = resolve(spark, path, nanos = false)._1

  /** The raw table plus its TIMESTAMP(NANOS) column names. */
  def openWithNanos(spark: SparkSession, path: String): (DataFrame, Seq[String]) =
    resolve(spark, path, nanos = true)

  private def resolve(spark: SparkSession, path: String,
      nanos: Boolean): (DataFrame, Seq[String]) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a missing path is never cached: Spark raises its usual error
    if (!fs.exists(p)) return (spark.read.parquet(path), Nil)
    // listed BEFORE inference: a change racing the inference leaves the
    // entry keyed to the older listing, so the next open re-infers
    val stamp = listing(fs, fs.getFileStatus(p))
    val key = Key(path, InferenceConfs.map(spark.conf.getOption))
    val es = entries(spark)
    val cached = es.synchronized(Option(es.get(key))).filter(_.stamp == stamp)
    val df = cached.fold(spark.read.parquet(path))(e => spark.read.schema(e.raw).parquet(path))
    val entry = cached.getOrElse(Entry(stamp, df.schema, None))
    val full =
      if (nanos && entry.nanos.isEmpty)
        entry.copy(nanos = Some(ParquetNanos.nanosColumns(spark, path)))
      else entry
    if (!cached.contains(full)) es.synchronized(es.put(key, full))
    (df, full.nanos.getOrElse(Nil))
  }

  /** (file, length, mtime) of every file under `st`, in a stable order. */
  private def listing(fs: FileSystem, st: FileStatus): Seq[(String, Long, Long)] =
    if (st.isDirectory)
      fs.listStatus(st.getPath).toSeq.sortBy(_.getPath.getName).flatMap(listing(fs, _))
    else Seq((st.getPath.toString, st.getLen, st.getModificationTime))
}
