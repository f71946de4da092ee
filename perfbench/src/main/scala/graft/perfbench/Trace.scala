package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._

/** Minimal JSON rendering for the run record (no library beyond the JDK). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(items: Iterable[String]): String = items.mkString("[", ",", "]")
}

/** Wall-clock instant shared with the listener's event times:
  * milliseconds since the epoch, with sub-millisecond resolution
  * from the monotonic clock. */
object Clock {
  private val epochNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowMs: Double = (epochNs + System.nanoTime()) / 1e6
}

/** One timed interval. Every span of one operation carries the
  * operation's id; `parent` names the enclosing span of that id
  * ("" for a root). */
final case class Span(id: String, name: String, parent: String,
    startMs: Double, endMs: Double, ok: Boolean) {
  def json: String = Json.obj("id" -> Json.str(id), "name" -> Json.str(name),
    "parent" -> Json.str(parent), "start_ms" -> Json.num(startMs),
    "end_ms" -> Json.num(endMs), "ok" -> ok.toString)
}

/** Records spans in memory when enabled; otherwise runs the body
  * untouched. Spans from concurrent pipelines land in one lock-free
  * queue and are written out once, when the run ends. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()

  def span[T](id: String, name: String, parent: String)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = Clock.nowMs
      var ok = false
      try { val r = body; ok = true; r }
      finally spans.add(Span(id, name, parent, t0, Clock.nowMs, ok))
    }

  /** Add a span measured elsewhere (the Catalyst phase intervals). */
  def record(s: Span): Unit = if (enabled) spans.add(s)

  def all: Seq[Span] = spans.asScala.toSeq
}

/** Per-job counters gathered by [[JobListener]]. Task metrics are
  * summed (and the largest single task kept) as tasks end, so the
  * record holds one row per job, not one per task. */
final class JobRecord(val jobId: Int, val group: String, val startMs: Double) {
  @volatile var endMs: Double = Double.NaN
  @volatile var succeeded: Boolean = false
  var stages = 0
  var tasks = 0
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var maxTaskMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var maxTaskShuffleReadBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRows = 0L
  var outputBytes = 0L
  var outputRows = 0L
  var writerTaskRunMs = 0L

  def json: String = synchronized(Json.obj(
    "job" -> jobId.toString, "group" -> Json.str(group),
    "start_ms" -> Json.num(startMs), "end_ms" -> Json.num(endMs),
    "succeeded" -> succeeded.toString,
    "stages" -> stages.toString, "tasks" -> tasks.toString,
    "task_run_ms" -> taskRunMs.toString, "task_cpu_ns" -> taskCpuNs.toString,
    "gc_ms" -> gcMs.toString, "max_task_ms" -> maxTaskMs.toString,
    "shuffle_write_bytes" -> shuffleWriteBytes.toString,
    "shuffle_read_bytes" -> shuffleReadBytes.toString,
    "max_task_shuffle_read_bytes" -> maxTaskShuffleReadBytes.toString,
    "spill_bytes" -> spillBytes.toString,
    "input_bytes" -> inputBytes.toString, "input_rows" -> inputRows.toString,
    "output_bytes" -> outputBytes.toString, "output_rows" -> outputRows.toString,
    "writer_task_run_ms" -> writerTaskRunMs.toString))
}

/** Attributes Spark's jobs, stages and tasks to job groups:
  * `graft-pipeline-<name>` for pipelines (set by PipelineManager) and
  * the group the benchmark sets for each query. Attribution to an
  * operation and a layer happens afterwards, from the job's group and
  * start time against the spans. */
final class JobListener extends SparkListener {
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRecord]()
  private val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRecord]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val r = new JobRecord(e.jobId, group, e.time.toDouble)
    jobs.put(e.jobId, r)
    e.stageIds.foreach(stageToJob.put(_, r))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { r =>
      r.endMs = e.time.toDouble
      r.succeeded = e.jobResult == JobSucceeded
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageToJob.get(e.stageInfo.stageId)).foreach { r =>
      r.synchronized { r.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageToJob.get(e.stageId)).foreach { r =>
      val m = e.taskMetrics
      r.synchronized {
        r.tasks += 1
        if (m != null) {
          r.taskRunMs += m.executorRunTime
          r.taskCpuNs += m.executorCpuTime
          r.gcMs += m.jvmGCTime
          r.maxTaskMs = math.max(r.maxTaskMs, m.executorRunTime)
          r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          val read = m.shuffleReadMetrics.totalBytesRead
          r.shuffleReadBytes += read
          r.maxTaskShuffleReadBytes = math.max(r.maxTaskShuffleReadBytes, read)
          r.spillBytes += m.diskBytesSpilled
          r.inputBytes += m.inputMetrics.bytesRead
          r.inputRows += m.inputMetrics.recordsRead
          r.outputBytes += m.outputMetrics.bytesWritten
          r.outputRows += m.outputMetrics.recordsWritten
          if (m.outputMetrics.bytesWritten > 0) r.writerTaskRunMs += m.executorRunTime
        }
      }
    }

  def all: Seq[JobRecord] = jobs.values.asScala.toSeq.sortBy(_.jobId)
}
