package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.TableResolver

/**
 * Persisted secondary index: (value, pk) pairs RANGE-SORTED on the value
 * and written with a per-file min/max sidecar — the shared-nothing
 * analogue of the reference's secondary B+Tree index
 * (`lib/src/core/index_manager.dart`: value → rowid), value → PK here.
 * Range-capable where the bloom sidecar ([[BloomIndex]]) is
 * equality-only: a point or BETWEEN probe intersects the sidecar
 * (|files| rows), reads ONLY the overlapping index files (each sorted, so
 * parquet row-group stats prune further inside), and semi-joins the
 * matching PKs back to the base — broadcast when the predicate is
 * selective, which is exactly when an index beats a scan.
 *
 * The lookup result is IDENTICAL to the full-scan filter by
 * construction: the index holds every (value, pk) pair, pruning only
 * skips files whose [min,max] cannot intersect the probe.
 */
object SecondaryIndex {

  /** Build and persist the index for `column` of the parquet table at
    * `tableDir`: range-repartitioned + sorted on the value (tight per-file
    * envelopes), plus the `<indexPath>_stats` min/max sidecar. */
  def build(spark: SparkSession, tableDir: String, column: String,
      pkCol: String, indexPath: String, nFiles: Int = 8): Unit = {
    TableResolver.open(spark, tableDir)
      .select(col(column).as("v"), col(pkCol).as("pk"))
      .where(col("v").isNotNull)
      .repartitionByRange(nFiles, col("v"))
      .sortWithinPartitions("v")
      .write.mode("overwrite").parquet(indexPath)
    TableResolver.open(spark, indexPath)
      .groupBy(col("_metadata.file_path").as("file"))
      .agg(min(col("v")).as("v_min"), max(col("v")).as("v_max"))
      .write.mode("overwrite").parquet(indexPath + "_stats")
  }

  /** Delta maintenance: append the new rows' (value, pk) pairs as fresh
    * range-sorted file(s) and sidecar rows for ONLY those files — the
    * existing index is never rewritten, and the sidecar refresh reads
    * just the appended files (filesystem-listing diff finds them; the
    * bm25UpdateIndex discipline). Under the pk-unique contract a pk that
    * is already indexed fails LOUDLY (anti-join guard, column-pruned to
    * the pk) — silently double-indexing would make lookups return stale
    * rows after a pk re-insert. Lookup code is unchanged: candidate
    * pruning just sees more sidecar rows. */
  def update(spark: SparkSession, newRows: DataFrame, column: String,
      pkCol: String, indexPath: String, nFiles: Int = 1,
      requireNewPks: Boolean = true): Unit = {
    val add = newRows.select(col(column).as("v"), col(pkCol).as("pk"))
      .where(col("v").isNotNull)
    if (requireNewPks) {
      val dup = add.select("pk")
        .join(TableResolver.open(spark, indexPath).select("pk"), Seq("pk"), "left_semi")
        .limit(1).collect()
      require(dup.isEmpty,
        s"pk ${dup.headOption.map(_.get(0))} already indexed at $indexPath")
    }
    def listing(): Set[String] = {
      val p = new org.apache.hadoop.fs.Path(indexPath)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).map(_.getPath.toString)
        .filter(_.endsWith(".parquet")).toSet
    }
    val before = listing()
    add.repartitionByRange(nFiles, col("v")).sortWithinPartitions("v")
      .write.mode("append").parquet(indexPath)
    val fresh = (listing() -- before).toSeq.sorted
    require(fresh.nonEmpty, "append produced no index files")
    spark.read.parquet(fresh: _*)
      .groupBy(col("_metadata.file_path").as("file"))
      .agg(min(col("v")).as("v_min"), max(col("v")).as("v_max"))
      .write.mode("append").parquet(indexPath + "_stats")
  }

  /** Index files whose [min,max] intersects [lo, hi] — |files|-bounded. */
  private def candidateFiles(spark: SparkSession, indexPath: String,
      lo: Column, hi: Column): Seq[String] =
    TableResolver.open(spark, indexPath + "_stats")
      .where(col("v_max") >= lo && col("v_min") <= hi)
      .select("file").collect().map(_.getString(0)).toSeq

  /** Range lookup through the index: == full-scan
    * `base.where(column BETWEEN lo AND hi)`, reading only overlapping
    * index files + the PK-matched base rows. */
  def lookupRange(spark: SparkSession, tableDir: String, indexPath: String,
      column: String, pkCol: String, lo: Any, hi: Any): DataFrame = {
    val base = TableResolver.open(spark, tableDir)
    val dt = base.schema(column).dataType
    val (l, h) = (lit(lo).cast(dt), lit(hi).cast(dt))
    val files = candidateFiles(spark, indexPath, l, h)
    if (files.isEmpty) return base.where(lit(false))
    val idx = spark.read.schema(
        TableResolver.open(spark, indexPath).schema)
      .parquet(files: _*)
      .where(col("v") >= l && col("v") <= h)
      .select(col("pk").as(pkCol)).distinct()
    // selective probes broadcast; the base side is never shuffled
    base.join(broadcast(idx), Seq(pkCol), "left_semi")
  }

  /** (files_total, files_scanned) for a probe range. */
  def pruneStats(spark: SparkSession, indexPath: String, column: String,
      lo: Any, hi: Any): (Long, Long) = {
    val stats = TableResolver.open(spark, indexPath + "_stats")
    (stats.count(),
      stats.where(col("v_max") >= lit(lo) && col("v_min") <= lit(hi)).count())
  }
}
