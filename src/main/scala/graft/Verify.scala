package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Queries run `SPARK_GRAFT_VERIFY_PAR`-wide (default 4) inside the ONE
  * shared session — at sf0.01 a single query leaves most of local[32]
  * idle, so the gate's wall time is scheduling latency, not compute.
  * Safe because gates are isolated by construction: per-gate-unique
  * scratch table names under the per-process tmp root, per-gate-unique
  * memory-sink names, one output directory per query, and the staging
  * memos are ConcurrentHashMap.computeIfAbsent. The streaming / file-
  * watch / backup-restore gates (micro-batch orchestration, filesystem
  * feeds) run FIRST and serially — their latency is dominated by
  * trigger orchestration that parallelism cannot help and checkpoint/
  * watch state that it could hurt. PAR=1 restores the fully serial
  * order. */
object Verify {
  /** Streaming, file-watch, and filesystem-replay gates: serial phase. */
  private[graft] val serialFirst: Set[String] = Set(
    "q37_watch", "q58_watch_incremental", "q59_backup_restore",
    "q66_dedup_stream", "q68_stream_iter", "q74_each_batch",
    "q84_stream_quality", "q88_dedup_stream_near",
    "q111_image_stream_dedup", "q154_stream_join", "q171_mv_stream",
    "q211_hll_stream", "q231_stream_leaderboard", "q277_stream_drift",
    "q287_stream_ewma", "q328_stream_gaps", "q350_ph_stream")

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Graft.localSession("graft-verify")
    new java.io.File(outDir).mkdirs()
    val par = sys.env.get("SPARK_GRAFT_VERIFY_PAR").map(_.toInt)
      .getOrElse(4).max(1)
    def run(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify] $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val all = SparkEntry.selectedQueries()
    val (serial, parallel) = all.partition(q => serialFirst(q._1))
    if (par <= 1) {
      serial.foreach { case (n, f) => run(n, f) }
      parallel.foreach { case (n, f) => run(n, f) }
    } else {
      // the serial streaming chain is the gate's critical path (~80 s,
      // within ~5 s of the parallel pool's span) — run it on its own
      // dedicated thread CONCURRENTLY with the pool: gates stay
      // mutually isolated (per-gate sinks/checkpoints/scratch), and the
      // chain itself stays single-writer in declared order
      val serialThread = new Thread(() => serial.foreach { case (n, f) =>
        run(n, f) }, "verify-serial-chain")
      serialThread.start()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val fs = parallel.map { case (n, f) =>
        scala.concurrent.Future(run(n, f)) }
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(fs),
        scala.concurrent.duration.Duration.Inf)
      pool.shutdown()
      serialThread.join()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
