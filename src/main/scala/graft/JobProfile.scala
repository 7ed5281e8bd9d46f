package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-JOB decomposition of a query's wall time — the instrument the
  * round-16 verdict asked for ("classify the 47 core-flat heavies"):
  * separates driver/job-orchestration cost (many small jobs, collect
  * round-trips) from genuinely heavy stages. Runs each named query once
  * warm (JIT/codegen absorbed by a first untimed run), then times a
  * second run while a listener records every job's wall span, task
  * count, and executor task time. The gap between the query's wall time
  * and the sum of job spans is driver-side work (planning, collect
  * processing, pure-Scala assembly).
  *
  * Args: <sfDir> <q1,q2,...>   (query names as in SparkEntry.queries)
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: JobProfile <sfDir> <q1,q2,...>")
    val Array(dir, names) = args
    val spark = Graft.localSession("job-profile")
    // warm-up: JIT + codegen + parquet footer caches
    spark.range(100000).selectExpr("sum(id)")
      .write.format("noop").mode("overwrite").save()

    case class JobRec(id: Int, start: Long, var end: Long,
      var tasks: Int, var taskTimeMs: Long, desc: String,
      stages: scala.collection.mutable.ListBuffer[String] =
        scala.collection.mutable.ListBuffer.empty)
    val jobs = new ConcurrentHashMap[Int, JobRec]()
    val stageTasks = new ConcurrentHashMap[Int, Int]() // stageId -> jobId
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs.put(e.jobId, JobRec(e.jobId, e.time, e.time, 0, 0L, desc))
        e.stageIds.foreach(s => stageTasks.put(s, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        Option(stageTasks.get(si.stageId))
          .flatMap(j => Option(jobs.get(j))).foreach { r =>
            r.tasks += si.numTasks
            r.taskTimeMs += si.taskMetrics.executorRunTime
            r.stages += s"${si.name.take(45)}(${si.numTasks}t," +
              f"${si.taskMetrics.executorRunTime / 1000.0}%.1fs)"
          }
      }
    }

    names.split(',').map(_.trim).filter(_.nonEmpty).foreach { name =>
      val fn = SparkEntry.queries(name)
      // warm run (untimed): JIT, codegen cache, parquet footers
      try fn(spark, dir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[prof] warm $name: $e") }
      jobs.clear(); stageTasks.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      try fn(spark, dir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[prof] $name: $e") }
      val wallMs = (System.nanoTime() - t0) / 1e6
      // let listener events drain before reading (listenerBus is
      // private[spark]; a short sleep suffices for a profiler)
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(listener)
      import scala.jdk.CollectionConverters._
      val recs = jobs.values().asScala.toSeq.sortBy(_.id)
      val jobSpanMs = recs.map(r => (r.end - r.start).max(0L)).sum
      println(f"[prof] $name wall=${wallMs / 1000}%.3fs jobs=${recs.size} " +
        f"jobSpanSum=${jobSpanMs / 1000.0}%.3fs driverGap=${(wallMs - jobSpanMs) / 1000.0}%.3fs")
      recs.foreach { r =>
        println(f"[prof]   job ${r.id}%3d span=${(r.end - r.start) / 1000.0}%6.3fs " +
          f"tasks=${r.tasks}%4d taskTime=${r.taskTimeMs / 1000.0}%7.3fs ${r.desc.take(40)} " +
          r.stages.mkString(" | "))
      }
    }
    spark.stop()
  }
}
