package graft.write

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.Graft
import graft.expr.{Cond, UExpr}

/** Per-row outcome of a batch write (reference DbResult,
  * /root/reference/lib/src/model/db_result.dart): status predicates plus
  * SNAPSHOTTED success/failed key lists (bounded to `KeyListCap` — the
  * reference returns full lists, an engine must not collect 10M keys) and
  * the failed rows as a MATERIALIZED DataFrame. Everything here is safe to
  * read after later writes to the same table — nothing lazily references
  * files a subsequent atomic swap deletes. */
final case class WriteReport(
    successCount: Long,
    failedCount: Long,
    failed: DataFrame,
    successKeys: Seq[String] = Nil,
    failedKeys: Seq[String] = Nil) {

  def isSuccess: Boolean = failedCount == 0
  def isPartialSuccess: Boolean = successCount > 0 && failedCount > 0
  def isFailed: Boolean = successCount == 0 && failedCount > 0
}

object WriteReport {
  /** Keys reported per split — counts are always exact; the key LISTS are
    * a driver-side convenience bounded at this cap. */
  val KeyListCap = 10000
}

/**
 * Write operations re-expressed as deterministic read→transform→overwrite
 * DataFrame jobs (SURVEY.md §2.1). The reference's WAL/write-buffer
 * machinery (data_store_impl.dart:2342, 3107) collapses into atomic
 * parquet overwrites: each `apply*` writes a staging directory and swaps it
 * in, so readers never observe a partial write.
 *
 * Every operation has a pure `preview`/`merge` form returning the
 * post-write DataFrame without touching storage — that form is what the
 * correctness gate exercises (side-effect-free, DuckDB-expressible).
 */
object Writes {

  /** update(table, exprs).where(cond):
    * col := when(pred, expr).otherwise(old) — fully codegen'd
    * (reference updateInternal, data_store_impl.dart:2342; Expr AST
    * lib/src/model/expr.dart:29-342). */
  def updatePreview(
      df: DataFrame,
      sets: Seq[(String, UExpr)],
      cond: Cond,
      allowUpdateAll: Boolean = false): DataFrame = {
    if (cond == Cond.True && !allowUpdateAll)
      throw new IllegalArgumentException(
        "condition-less update requires allowUpdateAll (update_builder.dart:215-219)")
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val pred = cond.toColumn(col, types.get)
    sets.foldLeft(df) { case (acc, (f, e)) =>
      val newVal = e.toColumn(col, lit(true)).cast(types(f))
      acc.withColumn(f, when(pred, newVal).otherwise(col(f)))
    }
  }

  /** delete(table).where(cond) → anti-filter. */
  def deletePreview(df: DataFrame, cond: Cond, allowDeleteAll: Boolean = false): DataFrame = {
    if (cond == Cond.True && !allowDeleteAll)
      throw new IllegalArgumentException(
        "condition-less delete requires allowDeleteAll (delete_builder.dart:4-39)")
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val pred = cond.toColumn(col, types.get)
    df.where(!coalesce(pred, lit(false)))
  }

  /**
   * Upsert merge: update-if-exists (matched by the key columns — PK or a
   * unique index, reference data_store_impl.dart:2229) else insert.
   *
   * Plan shape: full outer join target⟗staged on keys, then per-column
   * `coalesce(staged, target)`. `UExpr` sets may branch on isUpdate()/
   * isInsert() (expr.dart:121-158). The staged side is typically small →
   * Spark broadcasts it; at 100 TB the join shuffles on the key, which is
   * the minimal possible data movement for a merge.
   */
  def upsertMerge(
      target: DataFrame,
      staged: DataFrame,
      keys: Seq[String],
      sets: Seq[(String, UExpr)] = Nil): DataFrame = {
    val t = target.as("t")
    val s = staged.as("s")
    val on = keys.map(k => col(s"t.$k") <=> col(s"s.$k")).reduce(_ && _)
    val joined = t.join(s, on, "full_outer")
    val isUpdate = keys.map(k => col(s"t.$k").isNotNull).reduce(_ && _) &&
      keys.map(k => col(s"s.$k").isNotNull).reduce(_ && _)
    val matchedOrNew = keys.map(k => col(s"s.$k").isNotNull).reduce(_ && _)

    val setMap = sets.toMap
    val outCols = target.schema.fieldNames.toSeq.map { f =>
      val base =
        if (staged.schema.fieldNames.contains(f))
          coalesce(col(s"s.$f"), col(s"t.$f"))
        else col(s"t.$f")
      setMap.get(f) match {
        case Some(e) =>
          val resolve: String => Column = n =>
            if (staged.schema.fieldNames.contains(n))
              coalesce(col(s"t.$n"), col(s"s.$n")) // current value; staged for inserts
            else col(s"t.$n")
          val v = e.toColumn(resolve, isUpdate)
            .cast(target.schema(f).dataType)
          when(matchedOrNew, v).otherwise(col(s"t.$f"))
        case None => base
      }
    }
    joined.select(outCols.zip(target.schema.fieldNames).map { case (c, n) => c.as(n) }: _*)
  }

  /** batchUpdate: partial per-field update of rows located by PK
    * (lib/tostore.dart:675-686) — LEFT join target→staged + per-column
    * coalesce; unknown PKs in `staged` are ignored (no insert, unlike
    * upsert). One shuffle on the key; staged is typically small → Spark
    * broadcasts it. */
  def batchUpdateMerge(target: DataFrame, staged: DataFrame, keys: Seq[String]): DataFrame = {
    val t = target.as("t")
    val s = staged.as("s")
    val on = keys.map(k => col(s"t.$k") <=> col(s"s.$k")).reduce(_ && _)
    val outCols = target.schema.fieldNames.toSeq.map { f =>
      if (staged.schema.fieldNames.contains(f) && !keys.contains(f))
        coalesce(col(s"s.$f"), col(s"t.$f")).as(f)
      else col(s"t.$f").as(f)
    }
    t.join(s, on, "left").select(outCols: _*)
  }

  /** batchInsert validation pass: split rows into good/bad instead of
    * failing the job (reference allowPartialErrors,
    * lib/tostore.dart:586-597). A row is bad if a non-nullable column is
    * null or a declared range/length constraint fails. */
  def validateRows(
      staged: DataFrame,
      notNull: Seq[String],
      checks: Seq[Column] = Nil): (DataFrame, DataFrame) = {
    val okCond = (notNull.map(col(_).isNotNull) ++ checks)
      .reduceOption(_ && _).getOrElse(lit(true))
    (staged.where(okCond), staged.where(!coalesce(okCond, lit(false))))
  }

  /** Per-row checks from the declared field constraints — the reference
    * validates maxLength/minLength/minValue/maxValue at insert/upsert time
    * (table_schema.dart:1177-1216; "Non-Nullable Constraint" suite,
    * example/lib/testing/database_tester.dart:117-148). NULL passes a
    * range/length check (nullability is enforced separately). */
  def constraintChecks(fields: Seq[graft.schema.FieldSchema]): Seq[Column] =
    fields.flatMap { f =>
      val c = col(f.name)
      Seq(
        f.maxLength.map(n => c.isNull || length(c) <= n),
        f.minLength.map(n => c.isNull || length(c) >= n),
        f.minValue.map(v => c.isNull || c >= v),
        f.maxValue.map(v => c.isNull || c <= v)
      ).flatten
    }

  /** Per-table-path write locks: the reference serializes all writes to a
    * table through its write queue (its concurrency claim rests on it);
    * here every managed write is a read-modify-write over the table
    * snapshot plus an atomic directory swap, so two unsynchronized writers
    * would lose one writer's rows AND collide on the staging path. The
    * lock scopes the JVM (one driver = one engine process; cross-process
    * coordination is a catalog/lock-service concern, out of scope exactly
    * as it is for the reference's in-process queue). The lazy `data` plan
    * EXECUTES inside the lock, so its snapshot read is serialized too. */
  private val pathLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[graft] def lockFor(path: String): Object =
    pathLocks.computeIfAbsent(path, _ => new Object)

  /** Flow-level read-write lock layered over the per-path stripes:
    * single-table writes take the READ side (they conflict only on their
    * own stripe), MULTI-table flows (FK cascades/onUpdate rewrites,
    * schema renames) take the WRITE side and exclude every concurrent
    * writer at once — those flows build child-table plans incrementally
    * across several tables, so stripes alone can't protect them without
    * deadlock-prone multi-lock ordering. Both sides are reentrant, and a
    * write-holder may re-enter the read side (the flow's inner
    * overwrite/append calls). */
  private[graft] val flowLock =
    new java.util.concurrent.locks.ReentrantReadWriteLock()
  private[graft] def exclusiveFlow[A](body: => A): A = {
    flowLock.writeLock().lock()
    try body finally flowLock.writeLock().unlock()
  }

  /** Canonical lock order for single-table flows: flowLock.read FIRST,
    * then the path stripe. Every flow that wraps reads+writes of one
    * table (ingest validation, upsert split, KV merge) MUST use this —
    * taking the stripe before the read lock deadlocks against an
    * exclusiveFlow holder waiting on the stripe. */
  private[graft] def singleTableFlow[A](path: String)(body: => A): A = {
    flowLock.readLock().lock()
    try lockFor(path).synchronized(body)
    finally flowLock.readLock().unlock()
  }

  /** Runs `body` holding the cross-process [[WriteLease]] for `path` —
    * the one place a write acquires it. Lease timings are read per call
    * (system properties `graft.write.lease.{staleMs,waitMs,pollMs}`) so
    * tests and operators tune them without restarts. Under the lease, and
    * before `body` runs, a directory a crashed swap left only at
    * `<path>.old` is renamed back, so the write reads and extends the
    * table rather than starting over without it. */
  private def leased[A](fs: FileSystem, path: String)(body: => A): A = {
    def prop(k: String, d: Long) =
      sys.props.get(s"graft.write.lease.$k").map(_.toLong).getOrElse(d)
    val lease = WriteLease.acquire(fs, path,
      prop("staleMs", 60000L), prop("waitMs", 30000L), prop("pollMs", 100L))
    try {
      val dst = new Path(path)
      val bak = new Path(path + ".old")
      if (!fs.exists(dst) && fs.exists(bak) && !fs.rename(bak, dst))
        throw new java.io.IOException(s"cannot restore $bak to $dst")
      body
    } finally lease.close()
  }

  /** The ONE stage→swap primitive: every directory graft replaces (managed
    * tables, the KV store, materialized-view summaries, persisted models,
    * clustered/sorted/compacted layouts) is published here. Under the
    * cross-process [[WriteLease]] for `path` (a second PROCESS waits up to
    * waitMs, then fails predictably) it runs one recovery rule:
    *  1. table missing and `<path>.old` present (a crash between the two
    *     renames below): rename `.old` back, before `writeStaging` — and
    *     so any by-name snapshot read inside it — runs;
    *  2. delete crashed-writer `.staging` debris (safe: no live
    *     lease-respecting writer exists under our lease), then run
    *     `writeStaging` into `<path>.staging`, deleting it if that fails;
    *  3. move the table aside to `.old`; if the rename fails, delete the
    *     staging dir and throw, the table untouched;
    *  4. rename staging to `path`; if that fails, move `.old` back, delete
    *     the staging dir and throw;
    *  5. delete `.old`.
    * Every rename result is checked: Hadoop's rename of a directory onto an
    * existing one moves it INSIDE, so an unchecked failed step 3 would nest
    * the new rows in the old table and report success. A crash at any step
    * leaves the table at `path` or `.old`, and the next leased write of
    * `path` restores it. JVM-internal serialization (flow lock + path
    * stripe) is the CALLER's job — see [[lockedSwap]]. */
  private[graft] def stagedSwap(fs: FileSystem,
      path: String)(writeStaging: String => Unit): Unit = leased(fs, path) {
    val tmp = path + ".staging"
    val tmpPath = new Path(tmp)
    if (fs.exists(tmpPath)) {
      System.err.println(s"[graft] deleting crashed-writer staging debris $tmp " +
        "(safe under the held write lease)")
      fs.delete(tmpPath, true)
    }
    try writeStaging(tmp)
    catch { case e: Throwable => fs.delete(tmpPath, true); throw e }
    val dst = new Path(path)
    val bak = new Path(path + ".old")
    def fail(msg: String): Nothing = {
      fs.delete(tmpPath, true)
      throw new java.io.IOException(msg)
    }
    val hadTable = fs.exists(dst)
    if (hadTable) {
      // the table is present, so a `.old` here is a finished swap's backup
      if (fs.exists(bak)) fs.delete(bak, true)
      if (!fs.rename(dst, bak)) fail(s"cannot move $dst aside to $bak")
    }
    if (!fs.rename(tmpPath, dst)) {
      if (hadTable && !fs.rename(bak, dst))
        fail(s"cannot publish $tmp, nor restore $bak (the next write of $dst restores it)")
      fail(s"cannot publish $tmp to $dst")
    }
    fs.delete(bak, true): Unit
  }

  /** The one locked swap: stage→swap `path` (see [[stagedSwap]]) under
    * its single-table flow lock — every managed overwrite, the KV store's
    * rewrite, and the operator-level publishes (view summaries, models,
    * layouts). */
  private[graft] def lockedSwap(conf: org.apache.hadoop.conf.Configuration,
      path: String)(writeStaging: String => Unit): Unit =
    singleTableFlow(path)(stagedSwap(new Path(path).getFileSystem(conf), path)(writeStaging))

  /** Atomic overwrite of a managed table: write staging dir, swap. Hub-
    * attached engines notify watchers after the swap (the single funnel
    * every mutating path — update/delete/upsert/clear/migrate/FK actions —
    * flows through). `op` is the REAL mutation name as the caller knows it
    * (the reference's notification carries the operation, so consumers may
    * filter by it — a delete must not masquerade as an update).
    *
    * `data` is BY-NAME on purpose: a DataFrame built outside the lock has
    * already LISTED the table's files — a concurrent swap deletes them
    * under the plan (FAILED_READ_FILE) or, worse, the stale snapshot wins
    * the swap and silently reverts the other writer. Deferring evaluation
    * puts the snapshot read inside the critical section. */
  def overwrite(engine: Graft, table: String, data: => DataFrame,
      op: String = "update"): Unit = {
    lockedSwap(engine.spark.sparkContext.hadoopConfiguration, engine.managedPath(table))(
      tmp => data.write.mode(SaveMode.Overwrite).parquet(tmp))
    engine.notifyWrite(op, table)
  }

  /** Append to a managed table. Append also takes the cross-process lease:
    * an append racing another PROCESS's staging swap would write its part
    * files into a directory mid-rename (files land in the .old snapshot
    * and die with it). Appends from two processes alone would be
    * name-safe, but the swap race loses data — one lease covers both. */
  def append(engine: Graft, table: String, data: DataFrame): Unit = {
    val path = engine.managedPath(table)
    val fs = new Path(path).getFileSystem(engine.spark.sparkContext.hadoopConfiguration)
    singleTableFlow(path)(leased(fs, path)(data.write.mode(SaveMode.Append).parquet(path)))
    engine.notifyWrite("insert", table)
  }
}
