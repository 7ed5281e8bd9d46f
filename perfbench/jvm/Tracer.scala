package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced runs only: records every job, stage, final-plan planning phase
  * and streaming micro-batch through Spark's public listener APIs. Nothing
  * is computed here beyond per-stage sums; run.py attributes the records
  * to ops by time and derives the per-layer metrics.
  *
  * Each job is attributed to a graft module: the first `graft.` frame of
  * the call site of its SQL execution (captured on the calling thread), or
  * of its first stage; jobs run by Spark's streaming thread without a graft
  * frame go to `streaming`, and the benchmark's own final actions (collect,
  * noop write) to `client`. */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val jobById = mutable.Map.empty[Int, JobRec]
  private val stages = mutable.Map.empty[Int, StageAgg]
  private val execModule = mutable.Map.empty[Long, String]
  private val plans = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
  private val batches = mutable.ArrayBuffer.empty[(Long, Long)]
  @volatile private var callbackNs = 0L

  private def timed(body: => Unit): Unit = synchronized {
    val t = System.nanoTime()
    body
    callbackNs += System.nanoTime() - t
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => timed {
      moduleOf(s.details).foreach(execModule(s.executionId) = _)
    }
    // streaming progress of every session reaches the context's bus
    case p: StreamingQueryListener.QueryProgressEvent => timed {
      val start = java.time.Instant.parse(p.progress.timestamp).toEpochMilli
      val dur = Option(p.progress.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      batches += ((start, dur))
    }
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val fromExec = prop("spark.sql.execution.id").orElse(prop("spark.sql.execution.root.id"))
      .flatMap(id => execModule.get(id.toLong))
    val fromStage = e.stageInfos.sortBy(_.stageId).iterator
      .flatMap(s => moduleOf(s.details)).nextOption()
    val streaming = prop("sql.streaming.queryId").map(_ => "streaming")
    val r = JobRec(e.jobId, e.time, e.time,
      fromExec.orElse(fromStage).orElse(streaming).getOrElse("unattributed"), e.stageIds)
    jobs += r
    jobById(e.jobId) = r
    e.stageIds.foreach(stages.getOrElseUpdate(_, new StageAgg))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobById.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    stages.getOrElseUpdate(e.stageInfo.stageId, new StageAgg).completed += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val s = stages.getOrElseUpdate(e.stageId, new StageAgg)
    s.tasks += 1
    if (e.taskInfo.attemptNumber > 0 || e.taskInfo.speculative) s.retries += 1
    Option(e.taskMetrics).foreach { m =>
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.input += m.inputMetrics.bytesRead
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = timed {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    ph.get("planning").foreach { p =>
      plans += ((p.endTimeMs, ms("analysis"), ms("optimization"), ms("planning")))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def listenerNs: Long = callbackNs

  /** Raw records; call after the SparkContext has stopped (the listener bus
    * drains on stop, so nothing is still in flight). */
  def toJson: ObjectNode = synchronized {
    val f = JsonNodeFactory.instance
    val o = f.objectNode()
    val js = o.putArray("jobs")
    jobs.foreach { j =>
      val n = js.addObject()
      n.put("id", j.id).put("start_ms", j.start).put("end_ms", j.end).put("module", j.module)
      val st = n.putArray("stages")
      j.stageIds.foreach(st.add(_))
    }
    val ss = o.putObject("stages")
    stages.foreach { case (id, s) =>
      ss.putObject(id.toString).put("completed", s.completed).put("tasks", s.tasks)
        .put("retries", s.retries).put("run_ms", s.runMs).put("cpu_ns", s.cpuNs)
        .put("gc_ms", s.gcMs).put("shuffle_write", s.shuffleWrite)
        .put("shuffle_read", s.shuffleRead).put("spill", s.spill).put("input", s.input)
    }
    val ps = o.putArray("plans")
    plans.foreach { case (end, a, op, pl) =>
      ps.addObject().put("end_ms", end).put("analysis_ms", a)
        .put("optimization_ms", op).put("planning_ms", pl)
    }
    val bs = o.putArray("batches")
    batches.foreach { case (s, d) => bs.addObject().put("start_ms", s).put("duration_ms", d) }
    o.put("listener_ns", callbackNs)
    o
  }
}

object Tracer {
  final case class JobRec(id: Int, start: Long, var end: Long, module: String, stageIds: Seq[Int])

  final class StageAgg {
    var completed, tasks, retries = 0
    var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill, input = 0L
  }

  /** Module names a job can be attributed to (second package segment). */
  val Modules: Set[String] = Set("sources", "query", "operators", "pipeline", "vector",
    "functions", "write", "kv", "streaming", "plans")

  /** Module of the first `graft.` frame in a call-site long form:
    * `graft.<module>.X` for the listed modules, `SparkEntry` for the gate
    * registry, `Graft` for the engine facade, `other` for the remaining
    * graft packages; `client` when only benchmark frames call Spark; None
    * when the call site holds neither. */
  def moduleOf(callSite: String): Option[String] = {
    val frames = Option(callSite).toSeq.flatMap(_.linesIterator).map(_.trim)
    frames.find(_.startsWith("graft.")).map { frame =>
      val cls = frame.takeWhile(_ != '(').split('.')
      cls.lift(1).getOrElse("") match {
        case m if Modules(m) && cls.length > 3 => m
        case c if c.startsWith("SparkEntry") => "SparkEntry"
        case c if c.startsWith("Graft") => "Graft"
        case _ => "other"
      }
    }.orElse(frames.find(_.startsWith("perfbench.")).map(_ => "client"))
  }
}
