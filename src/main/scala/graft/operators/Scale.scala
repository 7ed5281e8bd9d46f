package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.write.Writes

/**
 * Scale patterns for the 100 TB deployment — the shuffle-shaping utilities
 * a 1000-executor job needs. Nothing here exists in the reference (it is
 * single-node, SURVEY.md §3: "no cross-node execution exists in the query
 * path"); these are the engine's distributed-execution toolkit.
 */
object Scale {

  /**
   * Salted equi-join for skewed keys. A handful of hot keys (power-law
   * user_ids, null-ish defaults) put one shuffle partition orders of
   * magnitude above the rest; AQE's skew split helps reads but not the
   * hash-table build. Salting: replicate the BUILD side `salt` ways,
   * scatter the PROBE side with a random-ish salt derived from a stable
   * hash of its row key, join on (key, salt).
   *
   * Use when one side is modest (dimension-ish) and the other is huge and
   * skewed; for broadcast-able dims prefer `broadcast()` outright.
   */
  def saltedJoin(
      probe: DataFrame,
      build: DataFrame,
      probeKey: String,
      buildKey: String,
      salt: Int = 8,
      joinType: String = "inner"): DataFrame = {
    require(salt > 0, "salt must be positive")
    require(joinType == "inner" || joinType == "left",
      "saltedJoin supports inner/left only: the build side is replicated, so " +
        "right/full would emit unmatched build rows once per salt")
    // probe rows get a deterministic pseudo-random salt (stable runs);
    // xxhash64 over the whole row avoids needing a unique id column
    val probeSalted = probe.withColumn("__salt",
      pmod(xxhash64(struct(probe.columns.map(col): _*)), lit(salt)).cast("int"))
    val buildSalted = build.withColumn("__salt",
      explode(array((0 until salt).map(lit): _*)))
    probeSalted.join(buildSalted,
        probeSalted("__salt") === buildSalted("__salt") &&
          probe(probeKey) === build(buildKey), joinType)
      .drop("__salt")
  }

  /** Top skewed keys of a column with their share — the diagnostic to run
    * BEFORE deciding on salting/broadcast (one pass, partial-agg). */
  def keySkew(df: DataFrame, key: String, topN: Int = 10): DataFrame = {
    val total = df.count().toDouble
    df.groupBy(col(key)).agg(count(lit(1)).as("cnt"))
      .withColumn("share", round(col("cnt") / total, 6))
      .orderBy(col("cnt").desc)
      .limit(topN)
  }

  /**
   * Write clustered for co-located reads: directory-partitioned on a
   * low-cardinality key (partition pruning at scan) and optionally
   * repartitioned so each directory holds few large files instead of
   * `shuffle.partitions` shards. The layout an IVF index or a per-tenant
   * table wants.
   */
  def writeClustered(
      df: DataFrame,
      path: String,
      partitionCol: String,
      filesPerPartition: Int = 1): Unit = {
    require(filesPerPartition > 0, "filesPerPartition must be positive")
    // filesPerPartition == 1: co-locate each key → one file per directory.
    // > 1: repartition on (key, salt) — cluster-wide parallelism stays at
    // shuffle.partitions (the key remains in the hash, so a huge table
    // still fans across every executor) while each directory receives at
    // most filesPerPartition files. AQE may coalesce the fan-out on
    // near-empty inputs; at scale the salt splits hot directories as
    // intended.
    val repartitioned =
      if (filesPerPartition == 1) df.repartition(col(partitionCol))
      else df.repartition(col(partitionCol),
        pmod(xxhash64(struct(df.columns.map(col): _*)), lit(filesPerPartition)))
    Writes.lockedSwap(df.sparkSession.sparkContext.hadoopConfiguration, path)(tmp =>
      repartitioned
        .write.partitionBy(partitionCol).mode("overwrite").parquet(tmp))
  }

  /** Compact small files: coalesce to ~`targetBytes` outputs based on the
    * current size — the maintenance job every long-lived table needs.
    * Like every layout writer here it publishes through
    * `Writes.lockedSwap`, so `path` may be the one `df` reads (Spark
    * refuses a direct overwrite-while-reading) and a failed write leaves
    * the existing table intact. */
  def compactFiles(df: DataFrame, path: String, targetFileBytes: Long = 256L << 20): Unit = {
    val sizeEstimate = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val n = math.max(1, (sizeEstimate / BigInt(targetFileBytes)).toInt)
    Writes.lockedSwap(df.sparkSession.sparkContext.hadoopConfiguration, path)(tmp =>
      df.coalesce(n).write.mode("overwrite").parquet(tmp))
  }

  /**
   * Bucketed catalog table for CO-LOCATED joins: two tables bucketed on
   * their join key with the same bucket count join with NO exchange on
   * either side (SortMergeJoin reads bucket i against bucket i). This is
   * the layout that turns the daily fact⋈dim join from a 100 TB shuffle
   * into a local merge — the biggest single shuffle eliminator Spark
   * offers. Buckets are also sorted so the merge needs no per-task sort.
   *
   * @param location explicit data directory for the table; omit it and
   *        the files land in the session catalog's warehouse (which is
   *        process-cwd-relative in a default local session — pass a path
   *        under the engine warehouse for a stable layout). */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
      buckets: Int, location: Option[String] = None): Unit = {
    require(bucketCols.nonEmpty && buckets > 0, "need bucket columns and a positive count")
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
    location.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** Range-partition + sort-within for ordered scans (parquet min/max on
    * the sort key then prune range predicates file-level). */
  def writeSorted(df: DataFrame, path: String, sortCols: Seq[String],
      partitions: Int = 32): Unit =
    Writes.lockedSwap(df.sparkSession.sparkContext.hadoopConfiguration, path)(tmp =>
      df.repartitionByRange(partitions, sortCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*)
        .write.mode("overwrite").parquet(tmp))

  /**
   * Z-order (Morton) key over numeric columns: each value is min-max
   * scaled to a `bits`-wide integer and the bits of all columns are
   * interleaved, so rows close in EVERY dimension get close keys. Sorting
   * by the key gives each parquet file a tight min/max envelope in every
   * z-column at once — row-group pruning then works for filters on ANY of
   * them, where a single-column sort only prunes its leading column.
   * `bounds` are (min, max) per column, usually from one metadata-sized
   * agg job. Pure bit arithmetic (shiftright/&/shiftleft) — codegen'd,
   * no UDF. NULLs scale to slot 0 (they cluster together at the low end).
   */
  def zOrderKey(cols: Seq[Column], bounds: Seq[(Double, Double)],
      bits: Int = 12): Column = {
    require(cols.nonEmpty && cols.size == bounds.size,
      "one (min,max) bound per z-column")
    val k = cols.size
    require(bits * k <= 62, s"bits*cols must fit a long: $bits*$k")
    val slots = (1L << bits) - 1
    val scaled = cols.zip(bounds).map { case (c, (lo, hi)) =>
      val span = if (hi > lo) hi - lo else 1.0
      least(greatest(
          round((c.cast("double") - lit(lo)) / lit(span) * slots, 0).cast("long"),
          lit(0L)), lit(slots))
    }
    // interleave: output bit (b*k + i) takes bit b of column (k-1-i).
    // (NULL inputs were already absorbed above: `greatest(..., lit(0L))`
    // skips nulls, so every scaled slot — and hence the sum — is non-null.)
    val pieces = for {
      b <- 0 until bits; i <- 0 until k
    } yield shiftleft(shiftright(scaled(k - 1 - i), b).bitwiseAND(1L), b * k + i)
    pieces.reduce(_ + _)
  }

  /** Z-order-clustered parquet layout: one bounds agg, range-partition by
    * the interleaved key, sort within partitions, atomic swap — the
    * multi-dimensional counterpart of `writeSorted` for the "filter on
    * either dimension" access pattern (time AND key, x AND y). */
  def writeZOrdered(df: DataFrame, path: String, zCols: Seq[String],
      bits: Int = 12, partitions: Int = 32): Unit = {
    val aggs = zCols.flatMap(c => Seq(
      min(col(c).cast("double")), max(col(c).cast("double"))))
    val head = df.agg(aggs.head, aggs.tail: _*).head()
    val bounds = zCols.indices.map { i =>
      (Option(head.get(2 * i)).fold(0.0)(_.asInstanceOf[Double]),
       Option(head.get(2 * i + 1)).fold(0.0)(_.asInstanceOf[Double]))
    }
    val z = zOrderKey(zCols.map(col), bounds, bits).as("__z")
    Writes.lockedSwap(df.sparkSession.sparkContext.hadoopConfiguration, path)(tmp =>
      df.withColumn("__z", z)
        .repartitionByRange(partitions, col("__z"))
        .sortWithinPartitions(col("__z"))
        .drop("__z")
        .write.mode("overwrite").parquet(tmp))
  }
}
