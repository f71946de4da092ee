package graft

import java.util.Locale
import java.util.concurrent.atomic.AtomicReference
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Where a registered query's time goes, one JSON line per query:
  * `SPARK_GRAFT_SF_DIR=<dir> SPARK_GRAFT_CPUS=<n> SPARK_GRAFT_ONLY=q1,q2
  * sbt "Test/runMain graft.Profile"` (the bench's variables; every
  * registered query when `SPARK_GRAFT_ONLY` is unset).
  *
  * Per query: the cold first call (artifact builds and codegen land
  * here), then [[Reps]] warm reps, each split into
  *  - construction: seconds, and the jobs launched while building the
  *    frame (checkpoints, fixpoint rounds, driver collects);
  *  - the noop write's Catalyst analysis, optimization and planning
  *    phases, read after the [[StageLog]] drain;
  *  - execution: the rest of the write's wall, with its jobs, stages,
  *    tasks, shuffle read and write, spill, the largest single-task
  *    shuffle read and the top stages by wall.
  * A failed cold call or rep prints the query and the exception to
  * stderr and is recorded as `{"failed": ...}` — never timed.
  */
object Profile {
  val Reps = 3
  val TopStages = 5

  final case class Rep(constructS: Double, constructJobs: Int,
      phases: Map[String, Double], executeS: Double, jobs: Int,
      stages: Vector[StageLog.Stage])

  /** `Left` holds the failure: the phase and the exception. */
  final case class Row(query: String, cold: Either[String, Double],
      reps: Seq[Either[String, Rep]]) {
    def json: String = {
      def num(d: Double) = "%.4f".formatLocal(Locale.ROOT, d)
      def mb(b: Long) = num(b / 1048576.0)
      def failed(e: String) = s"""{"failed":${Verify.jsonString(e)}}"""
      def stage(s: StageLog.Stage) =
        s"""{"id":${s.id},"name":${Verify.jsonString(s.name)},"tasks":${s.tasks},""" +
          s""""wall_ms":${s.wallMs},"cpu_ms":${s.cpuMs},"shuffle_read_mb":${mb(s.shuffleRead)},""" +
          s""""shuffle_write_mb":${mb(s.shuffleWrite)}}"""
      def rep(r: Rep) = {
        val st = r.stages
        val phases = Seq("analysis", "optimization", "planning")
          .map(p => s""""${p}_s":${num(r.phases.getOrElse(p, 0.0))}""").mkString(",")
        val top = st.sortBy(-_.wallMs).take(TopStages).map(stage).mkString("[", ",", "]")
        s"""{"construct_s":${num(r.constructS)},"construct_jobs":${r.constructJobs},$phases,""" +
          s""""execute_s":${num(r.executeS)},"jobs":${r.jobs},"stages":${st.size},""" +
          s""""tasks":${st.map(_.tasks).sum},"shuffle_read_mb":${mb(st.map(_.shuffleRead).sum)},""" +
          s""""shuffle_write_mb":${mb(st.map(_.shuffleWrite).sum)},"spill_mb":${mb(st.map(_.spill).sum)},""" +
          s""""max_task_shuffle_read_mb":${mb(st.map(_.maxTaskShuffleRead).maxOption.getOrElse(0L))},""" +
          s""""top_stages":$top}"""
      }
      val coldJson = cold.fold(failed, num)
      val repsJson = reps.map(_.fold(failed, rep)).mkString("[", ",", "]")
      s"""{"query":${Verify.jsonString(query)},"cold_s":$coldJson,"reps":$repsJson}"""
    }
  }

  /** Profiles one query: the cold call, then [[Reps]] warm reps. */
  def profile(spark: SparkSession, name: String, fn: Q, sfDir: String): Row = {
    def secs(t0: Long) = (System.nanoTime() - t0) / 1e9
    def write(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def attempt[A](phase: String)(body: => A): Either[String, A] =
      try Right(body) catch { case e: Throwable =>
        System.err.println(s"[profile] $name $phase FAILED: $e")
        Left(s"$phase: $e")
      }
    // the last query execution to finish; listener calls ride the bus
    val lastPhases = new AtomicReference[Map[String, Double]](Map.empty)
    val phaseListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        lastPhases.set(qe.tracker.phases.map { case (k, v) =>
          k -> (v.endTimeMs - v.startTimeMs) / 1e3 })
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(phaseListener)
    try {
      val cold = attempt("cold call") {
        val t0 = System.nanoTime()
        write(fn(spark, sfDir))
        secs(t0)
      }
      val warm = (1 to Reps).map { _ =>
        attempt("construction") {
          StageLog.record(spark) { log =>
            val t0 = System.nanoTime()
            val df = fn(spark, sfDir)
            (df, secs(t0), log.jobs)
          }
        }.flatMap { case (df, constructS, constructJobs) =>
          attempt("run") {
            val (writeS, jobs, stages) = StageLog.record(spark) { log =>
              lastPhases.set(Map.empty) // construction's events are drained by now
              val t0 = System.nanoTime()
              write(df)
              (secs(t0), log.jobs, log.stages)
            }
            val phases = lastPhases.get
            Rep(constructS, constructJobs, phases, writeS - phases.values.sum, jobs, stages)
          }
        }
      }
      Row(name, cold, warm)
    } finally spark.listenerManager.unregister(phaseListener)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to a scale-factor directory"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val spark = sessionBuilder(cpus).appName("graft-profile").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (n, f) => println(profile(spark, n, f, sfDir).json) }
    spark.stop()
  }
}
