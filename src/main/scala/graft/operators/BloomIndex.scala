package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.expr.BloomBitsetAgg
import graft.functions.GraftFunctions.bloomBits
import graft.sources.TableResolver

/**
 * File-level Bloom data-skipping index: one bloom bitset per parquet FILE
 * over a chosen column, stored as a parquet sidecar `(file, bits, m_bits,
 * num_hashes)`. A point lookup probes the sidecar (tiny — one row per
 * file), reads ONLY the bloom-positive files, and re-applies the exact
 * predicate inside them. No false negatives by construction (same
 * xxhash64, same Kirsch-Mitzenmacher positions on both sides), so the
 * result set is IDENTICAL to the full-scan filter; false positives only
 * cost extra file reads.
 *
 * This is the scale analogue of the reference's secondary B+Tree indexes
 * (`lib/src/core/index_manager.dart` — value → rowid): on a shared-nothing
 * store the useful granularity is value → FILE (then Parquet row-group
 * stats take over inside the file). It complements min/max-based skipping
 * (`Scale.writeSorted`/`writeZOrdered`): those need the layout sorted on
 * the lookup column; a bloom sidecar skips on ANY column, whatever the
 * layout, at ~2 bytes/row of sidecar. At 100 TB: the sidecar is
 * |files|-scale (thousands of rows), the probe is a broadcast-sized scan,
 * and a point lookup touches O(matching files) instead of every file.
 */
object BloomIndex {

  /** Build the per-file sidecar for `column` of the parquet table at
    * `tableDir`. One narrow aggregation grouped on the file path — rows of
    * a file sit in that file's scan partitions, so bitsets build map-side
    * and the shuffle moves |files| buffers, not rows. */
  def buildIndex(spark: SparkSession, tableDir: String, column: String,
      mBits: Int = 1 << 17, numHashes: Int = 5): DataFrame = {
    val t = TableResolver.open(spark, tableDir)
    t.select(col("_metadata.file_path").as("file"),
        xxhash64(col(column)).as("__h"))
      .groupBy(col("file"))
      .agg(bloomBits(col("__h"), mBits, numHashes).as("bits"))
      .withColumn("m_bits", lit(mBits))
      .withColumn("num_hashes", lit(numHashes))
  }

  def writeIndex(idx: DataFrame, path: String): Unit =
    idx.write.mode("overwrite").parquet(path)

  /** Delta maintenance for a persisted sidecar: bloom rows are built for
    * ONLY the table files missing from the index (path-normalized FS diff
    * — scheme rendering differs between listings and `_metadata`), read
    * file-by-file, appended; existing sidecar rows are never rewritten
    * and the indexed files never rescanned. `mBits`/`numHashes` must
    * match the existing sidecar (LOUD require — mixed geometries would
    * make probes silently lossy). Returns the number of files added. */
  def updateIndex(spark: SparkSession, tableDir: String, column: String,
      indexPath: String, mBits: Int = 1 << 17, numHashes: Int = 5): Long = {
    def norm(s: String) = new org.apache.hadoop.fs.Path(s).toUri.getPath
    val existing = TableResolver.open(spark, indexPath)
    val head = existing.select("m_bits", "num_hashes").head()
    require(head.getInt(0) == mBits && head.getInt(1) == numHashes,
      s"sidecar geometry ${head.getInt(0)}/${head.getInt(1)} != $mBits/$numHashes")
    val known = existing.select("file").collect().map(r => norm(r.getString(0))).toSet
    val p = new org.apache.hadoop.fs.Path(tableDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fresh = fs.listStatus(p).map(_.getPath.toString)
      .filter(_.endsWith(".parquet")).filterNot(f => known(norm(f))).toSeq.sorted
    if (fresh.nonEmpty) {
      spark.read.parquet(fresh: _*)
        .select(col("_metadata.file_path").as("file"),
          xxhash64(col(column)).as("__h"))
        .groupBy(col("file"))
        .agg(bloomBits(col("__h"), mBits, numHashes).as("bits"))
        .withColumn("m_bits", lit(mBits))
        .withColumn("num_hashes", lit(numHashes))
        .write.mode("append").parquet(indexPath)
    }
    fresh.size.toLong
  }

  /** Bloom-positive files for `column = value` — the sidecar is
    * self-describing (m_bits/num_hashes ride with it). Bounded collect:
    * one row per FILE of the base table. */
  def candidateFiles(spark: SparkSession, idx: DataFrame, valueHash: Long): Seq[String] = {
    val head = idx.select("m_bits", "num_hashes").head()
    val (m, h) = (head.getInt(0), head.getInt(1))
    val pos = BloomBitsetAgg.positions(valueHash, m, h)
    val cond = pos.map { p =>
      (element_at(col("bits"), p / 64 + 1).bitwiseAND(lit(1L << (p & 63)))) =!= lit(0L)
    }.reduce(_ && _)
    idx.where(cond).select("file").collect().map(_.getString(0)).toSeq
  }

  /** Hash the probe value EXACTLY as the build side hashed the column:
    * same xxhash64, same input type (cast to the column's type first). */
  def probeHash(spark: SparkSession, tableDir: String, column: String,
      value: Any): Long = {
    val dt = TableResolver.open(spark, tableDir).schema(column).dataType
    spark.range(1).select(xxhash64(lit(value).cast(dt))).head().getLong(0)
  }

  /** Point lookup through the index: read only bloom-positive files, then
    * re-apply the exact predicate. Result == full-scan filter, always. */
  def lookup(spark: SparkSession, tableDir: String, idx: DataFrame,
      column: String, value: Any): DataFrame = {
    val files = candidateFiles(spark, idx, probeHash(spark, tableDir, column, value))
    val base = TableResolver.open(spark, tableDir)
    if (files.isEmpty) base.where(lit(false))
    else spark.read.schema(base.schema).parquet(files: _*)
      .where(col(column) === lit(value).cast(base.schema(column).dataType))
  }

  /** (files_total, files_scanned) for a probe — the measured skipping. */
  def pruneStats(spark: SparkSession, tableDir: String, idx: DataFrame,
      column: String, value: Any): (Long, Long) = {
    val total = idx.count()
    val scanned = candidateFiles(spark, idx,
      probeHash(spark, tableDir, column, value)).size.toLong
    (total, scanned)
  }
}
