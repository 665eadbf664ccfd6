package graftbench

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spans of the traced run, all kept in memory until [[Tracer.writeSpans]].
  *
  * Every benchmark op runs under its own Spark job group (the op id), so a job
  * links to its op through the `spark.jobGroup.id` property and a task links to
  * its job through its stage. Jobs are attributed to a graft source file by
  * the call site of the SQL action that ran them (the execution's
  * description, e.g. `collect at Assembly.scala:88`, taken on the calling
  * thread); adaptive execution submits a query's stage jobs from its own
  * threads, whose `callSite.short` no longer names graft code. Jobs outside
  * any SQL execution fall back to their own call site. */
final class Tracer extends SparkListener {
  import Tracer.JobSpan

  private val jobs = mutable.LinkedHashMap.empty[Int, JobSpan]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageSubmitted = mutable.HashMap.empty[Int, Long]
  private val executionSite = mutable.HashMap.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { executionSite(s.executionId) = s.description }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("-")
    val execSite = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => executionSite.get(id.toLong))
    val site = execSite.orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
      .getOrElse(e.stageInfos.headOption.map(_.name).getOrElse(""))
    val span = JobSpan(e.jobId, group, Tracer.fileOf(site), site, e.time)
    e.stageIds.foreach { s => stageJob(s) = e.jobId; span.stages += s }
    jobs(e.jobId) = span
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmitted(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); span <- jobs.get(jid)) {
      span.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        span.taskMs += m.executorRunTime
        span.cpuMs += m.executorCpuTime / 1e6
        span.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
      stageSubmitted.get(e.stageId).foreach(s =>
        span.waitMs += math.max(0L, e.taskInfo.launchTime - s))
    }
  }

  def jobSpans: Seq[JobSpan] = synchronized(jobs.values.toSeq)

  /** Writes one JSON object per span, ops then jobs, on one millisecond clock
    * (`toMs` maps an op's nanoTime stamps onto it). */
  def writeSpans(path: java.nio.file.Path, ops: Seq[OpRecord], toMs: Long => Double): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      ops.foreach { o =>
        w.write(Json.obj("kind" -> "op", "id" -> o.id, "type" -> o.kind, "phase" -> o.phase,
          "start_ms" -> toMs(o.startNs), "end_ms" -> toMs(o.endNs), "ok" -> o.ok,
          "error" -> o.error.getOrElse("")))
        w.newLine()
      }
      jobSpans.foreach { j =>
        w.write(Json.obj("kind" -> "job", "id" -> j.jobId, "parent" -> j.opId,
          "file" -> j.file, "call_site" -> j.callSite, "start_ms" -> j.start,
          "end_ms" -> j.end, "stages" -> j.stages.mkString(","), "tasks" -> j.tasks,
          "task_ms" -> j.taskMs, "task_cpu_ms" -> j.cpuMs, "sched_wait_ms" -> j.waitMs))
        w.newLine()
      }
    } finally w.close()
  }
}

object Tracer {
  final case class JobSpan(jobId: Int, opId: String, file: String, callSite: String,
      start: Long, var end: Long = -1L, stages: mutable.ArrayBuffer[Int] = mutable.ArrayBuffer.empty,
      var tasks: Int = 0, var taskMs: Long = 0L, var cpuMs: Double = 0.0,
      var waitMs: Long = 0L, var shuffleBytes: Long = 0L)

  /** Module-qualified name of the graft file a call site points at, e.g.
    * `collect at VectorSearch.scala:120` → `operators.VectorSearch`. */
  private val modules: Map[String, String] = Map(
    "VectorSearch" -> "operators", "SubgraphExpansion" -> "operators",
    "Assembly" -> "operators", "GraphBuilder" -> "operators", "Dedup" -> "operators",
    "Bm25" -> "operators", "IvfIndex" -> "operators", "GraphStore" -> "sources",
    "BucketedTable" -> "sources", "GraphRag" -> "rag", "Embedder" -> "functions")

  def fileOf(callSite: String): String = {
    val m = """at ([A-Za-z0-9_$]+)\.scala""".r.findFirstMatchIn(callSite)
    m.map(_.group(1)).map(f => modules.get(f).map(p => s"$p.$f").getOrElse(s"other.$f"))
      .getOrElse("other.unknown")
  }

  /** Compilations and their total milliseconds so far. The histogram's
    * reservoir keeps every sample while it holds at most 1028 of them; past
    * that the total is estimated as count × mean. */
  def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val n = h.getCount
    val total = if (n <= 1028) snap.getValues.map(_.toDouble).sum else n * snap.getMean
    (n, total)
  }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum
}
