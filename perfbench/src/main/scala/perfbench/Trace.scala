package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans recorded by the traced run. Everything stays in memory and is
  * summarised, and written out, once the run ends; nothing is written
  * while timing.
  *
  * Jobs are attributed to a unit of work (a batch pass, or a streaming
  * micro-batch) by the job's local properties, and classified by their
  * call site: Spark records the first user frame of the stack that
  * launched the job, so a schema-inference job shows the `Tables` load
  * and a checkpoint job shows `localCheckpoint` (or `observe`).
  */
final case class JobSpan(id: Int, unit: String, start: Long, var end: Long,
                         site: String, stages: Seq[Int])
final case class TaskSpan(stage: Int, runMs: Long, shuffleRead: Long, shuffleWrite: Long,
                          spill: Long)

class TraceListener extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[JobSpan]()
  val tasks = new ConcurrentLinkedQueue[TaskSpan]()
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, JobSpan]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val unit = p.flatMap(x => Option(x.getProperty(TraceListener.UnitKey)))
      .orElse(p.flatMap(x => Option(x.getProperty("streaming.sql.batchId"))).map("b" + _))
      .getOrElse("")
    // the result stage carries the job's call site: its name is the short
    // form ("parquet at Tables.scala:27"), its details the user stack
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(s => s.name + "\n" + s.details).getOrElse("")
    val span = JobSpan(e.jobId, unit, e.time, -1L, site, e.stageIds)
    open.put(e.jobId, span)
    jobs.add(span)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(open.remove(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
    tasks.add(TaskSpan(e.stageId, m.executorRunTime, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  /** Writes every job span, one JSON object a line, with its unit, call
    * site (first line) and task totals.
    */
  def writeSpans(path: String): Unit = {
    org.apache.spark.PerfbenchBus.drain(SparkContext.getOrCreate())
    val byStage = tasks.asScala.toSeq.groupBy(_.stage)
    val lines = jobs.asScala.toSeq.sortBy(_.id).map { j =>
      val ts = j.stages.flatMap(byStage.getOrElse(_, Nil))
      val site = j.site.takeWhile(_ != '\n').replace("\\", "/").replace("\"", "'")
      s"""{"job":${j.id},"unit":"${j.unit}","start_ms":${j.start},"end_ms":${j.end},""" +
        s""""site":"$site","tasks":${ts.size},"task_ms":${ts.map(_.runMs).sum}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
  }

  /** Per-unit sums of the engine layer, for the units named. */
  def engine(units: Map[String, Double], cores: Int): Map[String, Seq[Double]] = {
    org.apache.spark.PerfbenchBus.drain(SparkContext.getOrCreate())
    val allJobs = jobs.asScala.toSeq
    val stageUnit = allJobs.flatMap(j => j.stages.map(_ -> j.unit)).toMap
    val byUnitTasks = tasks.asScala.toSeq.groupBy(t => stageUnit.getOrElse(t.stage, ""))
    val byUnitJobs = allJobs.groupBy(_.unit)
    val out = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    def add(k: String, v: Double): Unit = out.getOrElseUpdate(k, mutable.ArrayBuffer()) += v
    for ((unit, wallMs) <- units) {
      val js = byUnitJobs.getOrElse(unit, Nil).filter(_.end >= 0)
      val ts = byUnitTasks.getOrElse(unit, Nil)
      def isSchema(j: JobSpan) = j.site.contains("graft.sources.Tables$.load")
      def isCheckpoint(j: JobSpan) =
        j.site.contains("heckpoint at ") || j.site.contains(".observe(")
      val taskMs = ts.map(_.runMs).sum.toDouble
      add("sources.schema_jobs", js.count(isSchema).toDouble)
      add("sources.schema_ms", js.filter(isSchema).map(j => j.end - j.start).sum.toDouble)
      add("operators.checkpoint_jobs", js.count(isCheckpoint).toDouble)
      add("operators.checkpoint_ms", js.filter(isCheckpoint).map(j => j.end - j.start).sum.toDouble)
      add("engine.jobs", js.size.toDouble)
      add("engine.tasks", ts.size.toDouble)
      add("engine.driver_gap_ms", math.max(0.0, wallMs - Trace.union(js.map(j => (j.start, j.end)))))
      add("engine.task_ms", taskMs)
      add("engine.busy_ratio", if (wallMs > 0) taskMs / (wallMs * cores) else 0.0)
      add("engine.shuffle_read_bytes", ts.map(_.shuffleRead).sum.toDouble)
      add("engine.shuffle_write_bytes", ts.map(_.shuffleWrite).sum.toDouble)
      add("engine.spill_bytes", ts.map(_.spill).sum.toDouble)
    }
    out.map { case (k, v) => k -> v.toSeq }.toMap
  }
}

object TraceListener {
  /** Local property naming the unit of work a job belongs to. */
  val UnitKey = "perfbench.unit"
}

object Trace {
  /** Total length of the union of [start, end] intervals. */
  def union(spans: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- spans.sortBy(_._1)) {
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    (total + math.max(0L, curE - curS)).toDouble
  }

  def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
}
