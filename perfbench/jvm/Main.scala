package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}
import org.apache.spark.sql.SparkSession

import graft.Graft

/** One benchmark run in one JVM, one client thread:
  *  1. set the session up `setups` times (fresh session, warm-up, seeding
  *     from the set-up data) and keep the last one. Before each set-up the
  *     previous session stops, the heap is collected and Spark's JVM-wide
  *     cache of generated classes is emptied, so every set-up compiles its
  *     own code; the first set-up also pays class loading and JIT warm-up;
  *  2. run the first `warmBlocks` blocks of the op list untimed: they warm
  *     the JIT and codegen caches, and in block 0 `analytics` writes each
  *     gate's output for the oracle check;
  *  3. run the remaining blocks as a timed closed loop;
  *  4. measure the driver heap after a full GC, dump final state, stop.
  * Every raw record goes to `<work>/result.json`; run.py derives metrics.
  *
  * Usage: perfbench.Main <workload> <opsFile> <setupFile> <dataDir> <workDir> <trace 0|1> <cores> <setups> <warmBlocks>
  */
object Main {
  private val nodes = JsonNodeFactory.instance

  def main(argv: Array[String]): Unit = {
    require(argv.length == 9,
      "usage: perfbench.Main <workload> <ops> <setup> <data> <work> <trace> <cores> <setups> <warmBlocks>")
    val Array(workload, opsFile, setupFile, data, work, traceS, coresS, setupsS, warmS) = argv
    val (trace, cores, setups, warmBlocks) = (traceS == "1", coresS.toInt, setupsS.toInt, warmS.toInt)
    val mapper = new ObjectMapper()
    val ops: Vector[JsonNode] = Files.readAllLines(Paths.get(opsFile)).asScala
      .filter(_.nonEmpty).map(mapper.readTree).toVector
    val setupData = mapper.readTree(new File(setupFile))

    val out = nodes.objectNode()
    val setupArr = out.putArray("setup_s")
    var spark: SparkSession = null
    var wl: Workload = null
    for (i <- 0 until setups) {
      if (spark != null) spark.stop()
      clearCodegenCache()
      (1 to 2).foreach { _ => System.gc(); Thread.sleep(50) }
      wl = Workload(workload, data, work, i)
      val t = System.nanoTime()
      spark = Graft.localSession("perfbench", cores)
      wl.setup(spark, setupData)
      setupArr.add((System.nanoTime() - t) / 1e9)
    }

    val tracer = if (trace) Some(new Tracer) else None
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
    }
    val baseMs = System.currentTimeMillis()
    val baseNs = System.nanoTime()
    out.put("base_epoch_ms", baseMs)
    var probeNs = 0L

    /** Client-side counters around one op, traced runs only. */
    def probe(): ObjectNode = {
      val t = System.nanoTime()
      val p = nodes.objectNode()
      p.put("rdds", spark.sparkContext.getPersistentRDDs.size)
      p.put("codegen_compiles", org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
      p.put("codegen_ns", org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)
      val files = p.putObject("files")
      wl.warehouse.map(Paths.get(_)).foreach { root =>
        regularFiles(root).foreach(f => files.put(root.relativize(f).toString, Files.size(f)))
      }
      probeNs += System.nanoTime() - t
      p
    }

    val records = out.putArray("ops")
    def runOne(op: JsonNode, measured: Boolean): Unit = {
      val rec = records.addObject()
      Seq("id", "block", "kind", "name").foreach(k => Option(op.get(k)).foreach(rec.set[JsonNode](k, _)))
      rec.put("measured", measured)
      val before = if (trace) Some(probe()) else None
      val clock = new OpClock
      val t0 = System.nanoTime()
      try {
        Option(wl.run(op, clock)).foreach(rec.set[JsonNode]("result", _))
        rec.put("ok", true)
      } catch { case NonFatal(e) =>
        rec.put("ok", false).put("error", e.toString.take(500))
      }
      val t1 = System.nanoTime()
      rec.put("start_ns", t0 - baseNs).put("end_ns", t1 - baseNs)
      val ms = rec.putArray("marks")
      clock.marks.foreach { case (n, s, e) => ms.addArray().add(n).add(s - baseNs).add(e - baseNs) }
      before.foreach { b =>
        rec.set[JsonNode]("probe_before", b)
        rec.set[JsonNode]("probe_after", probe())
        rec.put("user_bytes", wl.userBytes(op))
      }
    }

    val (warm, timed) = ops.partition(_.get("block").asInt < warmBlocks)
    warm.foreach(runOne(_, measured = false))
    val mStart = System.nanoTime()
    timed.foreach(runOne(_, measured = true))
    out.put("measure_start_ns", mStart - baseNs).put("measure_end_ns", System.nanoTime() - baseNs)

    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    out.put("heap_retained_mb", mx.getHeapMemoryUsage.getUsed / 1048576.0)

    tracer.foreach { _ =>
      out.put("cached_mb_end", spark.sparkContext.getRDDStorageInfo
        .map(r => r.memSize + r.diskSize).sum / 1048576.0)
      wl.warehouse.foreach(w => out.set[JsonNode]("space", spaceUsage(spark, w, work)))
    }
    wl.finish(work)
    spark.stop()
    tracer.foreach { t =>
      val tj = t.toJson
      tj.put("probe_ns", probeNs)
      out.set[JsonNode]("trace", tj)
    }
    mapper.writeValue(new File(s"$work/result.json"), out)
  }

  /** Empties CodeGenerator's class cache, which outlives sessions. The
    * cache is private to Spark and has no public call for this. */
  private def clearCodegenCache(): Unit = {
    val gen = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val m = gen.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    val cache = m.invoke(gen)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
  }

  private def regularFiles(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }

  private def size(root: Path): Long = regularFiles(root).map(Files.size(_)).sum

  /** Bytes on disk of the warehouse's tables (KV store included) against the
    * bytes of the same rows rewritten once, compacted. */
  private def spaceUsage(spark: SparkSession, wh: String, work: String): ObjectNode = {
    val g = Graft.withWarehouse(spark, "", wh)
    val dirs = {
      val s = Files.list(Paths.get(wh, "default"))
      try s.iterator.asScala.filter(Files.isDirectory(_)).toList finally s.close()
    }
    val live = dirs.map { d =>
      val dst = Paths.get(work, "compact", d.getFileName.toString)
      g.table(d.getFileName.toString).coalesce(1).write.mode("overwrite").parquet(dst.toString)
      size(dst)
    }.sum
    nodes.objectNode().put("disk_bytes", dirs.map(size).sum).put("live_bytes", live)
  }
}
