package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.GraftTestBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Every stage that completes while a body runs, with its cost:
  * `StageLog.record(spark) { log => ...; log.stages }`.
  *
  * One listener is attached for the body's duration. Reading
  * [[stages]], [[launched]] or [[jobs]] first drains the listener bus
  * exactly (`LiveListenerBus.waitUntilEmpty`). The scheduler posts a
  * stage's task-end and stage-completed events, and a job's start,
  * before the action that ran them returns, so after the drain the log
  * holds every stage that has completed so far in the window.
  *
  * [[launched]] also names the stages of jobs that have started but not
  * finished (a pool-thread job still running when the body returns).
  * A blocking action returns only after its job's start was posted, so
  * an empty [[launched]] means no such job started in the window, never
  * that its events were still in flight: a "launched no job" assertion
  * over it cannot pass vacuously. The one job it can miss is one
  * submitted asynchronously that the scheduler has not yet picked up.
  *
  * The window is by time, not by job group, so jobs the body launches
  * on pool threads (PipelineManager pipelines, broadcast builds) count.
  */
final class StageLog private (spark: SparkSession) extends SparkListener {
  import StageLog.Stage

  private val done = new ConcurrentLinkedQueue[Stage]()
  private val started = new AtomicInteger(0)
  // (stage id, name) of every stage of every job started in the window
  private val jobStages = new ConcurrentLinkedQueue[(Int, String)]()
  // per (stage, attempt): largest task shuffle read, largest task result
  private val taskMax = new ConcurrentHashMap[(Int, Int), (Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    started.incrementAndGet()
    e.stageInfos.foreach(si => jobStages.add((si.stageId, StageLog.shortName(si.name))))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) {
      val read = e.taskMetrics.shuffleReadMetrics.totalBytesRead
      val result = e.taskMetrics.resultSize
      taskMax.merge((e.stageId, e.stageAttemptId), (read, result),
        (a, b) => (math.max(a._1, b._1), math.max(a._2, b._2)))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    val (maxRead, maxResult) = Option(taskMax.remove((si.stageId, si.attemptNumber())))
      .getOrElse((0L, 0L))
    done.add(Stage(si.stageId, StageLog.shortName(si.name), si.numTasks,
      si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
      m.executorCpuTime / 1000000L, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled,
      m.inputMetrics.recordsRead, maxRead, maxResult))
  }

  /** Stages completed so far in the window, in completion order. */
  def stages: Vector[Stage] = {
    StageLog.drain(spark)
    done.asScala.toVector
  }

  /** Names of the stages of every job started so far in the window,
    * finished or not, one per stage id, in job-start order. */
  def launched: Vector[String] = {
    StageLog.drain(spark)
    jobStages.asScala.toVector.distinctBy(_._1).map(_._2)
  }

  /** Jobs started so far in the window. */
  def jobs: Int = {
    StageLog.drain(spark)
    started.get
  }
}

object StageLog {

  /** One completed stage. Bytes and records are stage totals except the
    * two `maxTask` fields, the largest single task's value. */
  final case class Stage(id: Int, name: String, tasks: Int, wallMs: Long,
      cpuMs: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long,
      inputRecords: Long, maxTaskShuffleRead: Long, maxTaskResult: Long)

  /** Runs `body` with a log of the stages completing meanwhile. The bus
    * is drained before the listener attaches, so events of earlier work
    * cannot land in the window. */
  def record[A](spark: SparkSession)(body: StageLog => A): A = {
    drain(spark)
    val log = new StageLog(spark)
    spark.sparkContext.addSparkListener(log)
    try body(log) finally spark.sparkContext.removeSparkListener(log)
  }

  private def shortName(name: String): String = name.takeWhile(_ != '\n').take(80)

  def drain(spark: SparkSession): Unit = GraftTestBridge.drainListenerBus(spark.sparkContext)
}
