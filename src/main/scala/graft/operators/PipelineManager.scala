package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Multi-pipeline orchestration — the engine analog of the reference's
  * `run_all_pipelines` driver (utils/pipeline_manager.py:224-257):
  * run every registered pipeline, tally per-pipeline success, CONTINUE
  * past failures (a failed data type never aborts the rest), report
  * `success_count/total` and the failed names, overall success iff all
  * succeeded.
  *
  * Where the reference loops sequentially over OS processes, the engine
  * runs the pipelines as CONCURRENT job groups on ONE SparkSession:
  * Spark's scheduler interleaves their stages across the cluster, so a
  * pipeline blocked on a long shuffle doesn't idle the executors the
  * way the reference's sequential loop idles its machine. Failure
  * isolation is per-pipeline: each body runs under its own job group
  * (job-group properties are thread-local) and its exception is caught
  * and recorded, never propagated to siblings.
  *
  * Scale posture: N pipelines on one session share broadcast variables
  * and file-listing caches of common inputs; driver threads are the
  * only per-pipeline overhead. For strict latency isolation a real
  * deployment adds FAIR scheduler pools (one per job group) — the
  * mechanism is orthogonal to this orchestration contract.
  */
object PipelineManager {

  /** One pipeline's outcome (the reference's per-type success/failed
    * bookkeeping, pipeline_manager.py:234-249). `attempts` counts
    * executions of the body, so a flaky-once pipeline that succeeded
    * on retry reports ok=true, attempts=2. */
  final case class PipelineResult(name: String, ok: Boolean, error: Option[String],
      attempts: Int = 1)

  /** Bounded per-pipeline retry with exponential backoff — the engine
    * analog of the reference's spot-capacity fallback ladder
    * (utils/spot_manager.py:36-48: try spot, back off through fallback
    * configs, give up after the ladder is exhausted). `maxAttempts` is
    * TOTAL executions (1 = no retry, the default elsewhere). */
  final case class RetryPolicy(maxAttempts: Int = 3, backoffMillis: Long = 200,
      backoffFactor: Double = 2.0) {
    require(maxAttempts >= 1, s"maxAttempts must be >= 1, got $maxAttempts")
  }

  /** No retries — [[runAll]]'s default, the reference's plain loop. */
  val NoRetry: RetryPolicy = RetryPolicy(maxAttempts = 1)

  /** FATAL vs RETRYABLE classification: analysis-class failures
    * (missing table, bad column, type error — `AnalysisException` and
    * subclasses) cannot be fixed by running the same plan again, so
    * they fail fast; anything else (executor loss, IO hiccough, a
    * transient service — the failures the reference's ladder exists
    * for) is worth another attempt. Interrupts are never retried:
    * they ARE the cancellation channel. */
  def defaultIsFatal(e: Throwable): Boolean =
    e.isInstanceOf[org.apache.spark.sql.AnalysisException]

  /** The run summary (pipeline_manager.py:251-257). */
  final case class RunSummary(results: Seq[PipelineResult]) {
    def successCount: Int = results.count(_.ok)
    def failedNames: Seq[String] = results.filterNot(_.ok).map(_.name)
    /** `success_count == len(data_types)` (pipeline_manager.py:257). */
    def allSucceeded: Boolean = successCount == results.size
  }

  /** Run `pipelines` concurrently on `s`, at most `parallelism` at a
    * time; always returns one result per pipeline, in input order.
    *
    * `timeout` is the whole run's deadline (the engine analog of the
    * reference's PIPELINE_TIMEOUT=7200 budget, pipeline_config.py:51,
    * and the per-subprocess `timeout=1800`,
    * temperature_pipeline.py:147): a pipeline still running at the
    * deadline has its job group cancelled (running Spark tasks
    * interrupted), its DRIVER thread interrupted (non-Spark driver
    * work — a parse loop, a blocking client call — stops too, not just
    * cluster tasks), and is tallied as a `timeout` failure; a pipeline
    * still QUEUED behind the parallelism limit at the deadline is
    * flagged so its body never starts. A hung pipeline can delay the
    * summary, never block it forever — and a timed-out pipeline's side
    * effects (e.g. an overwrite sink) cannot land after the summary
    * unless the body swallows the interrupt, which the scaladoc of
    * `pipelines` forbids. */
  def runAll(s: SparkSession, pipelines: Seq[(String, () => Unit)],
      parallelism: Int = 3, timeout: Duration = Duration.Inf,
      retry: RetryPolicy = NoRetry,
      isFatal: Throwable => Boolean = defaultIsFatal): RunSummary = {
    import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, parallelism))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    // the ONE deadline, fixed before anything is submitted: a queued
    // pipeline checks it directly at start, so "never starts past the
    // deadline" holds even before the results loop reaches its entry
    val deadline = if (timeout.isFinite) Some(System.nanoTime + timeout.toNanos) else None
    def deadlinePassed: Boolean = deadline.exists(System.nanoTime >= _)
    try {
      val futs = pipelines.map { case (name, body) =>
        val timedOut = new AtomicBoolean(false)
        val worker = new AtomicReference[Thread](null)
        // `lock` fences interrupt delivery against body hand-off: the
        // timeout path interrupts ONLY while it can see this pipeline
        // still owns the thread, and the body releases ownership AND
        // sheds any delivered interrupt under the same lock — so a
        // timeout interrupt can never leak into the pool thread's next
        // pipeline (the race the plain AtomicReference left open).
        val lock = new Object
        val fut = Future {
          val owned = lock.synchronized {
            if (timedOut.get || deadlinePassed) false
            else { worker.set(Thread.currentThread()); Thread.interrupted(); true }
          }
          if (!owned) PipelineResult(name, ok = false, Some("timeout"))
          else {
            // own job group: cancellation/diagnosis scoped to this pipeline
            s.sparkContext.setJobGroup(s"graft-pipeline-$name",
              s"graft pipeline: $name", interruptOnCancel = true)
            // own scheduler pool: a no-op under default FIFO, but when the
            // session runs the FAIR scheduler each pipeline gets latency
            // isolation without any change here
            s.sparkContext.setLocalProperty("spark.scheduler.pool", s"graft-$name")
            // the retry ladder: re-execute the body on RETRYABLE
            // failures with exponential backoff, fail fast on fatal
            // (analysis-class) ones, and never outlive the deadline —
            // a backoff sleep interrupted by the timeout path reports
            // as a timeout, not as one more attempt
            try {
              var attempt = 0
              var delay = retry.backoffMillis
              var result: PipelineResult = null
              while (result == null) {
                attempt += 1
                // an InterruptedException is only a timeout when the
                // timeout path actually fired (it sets timedOut under
                // the lock BEFORE interrupting); a body that throws one
                // on its own (e.g. wrapping an interrupted await) is a
                // real failure — report it as itself and re-assert the
                // interrupt status so the finally-block shed sees it
                def interruptResult(detail: String): PipelineResult =
                  if (timedOut.get || deadlinePassed)
                    PipelineResult(name, ok = false, Some("timeout"), attempt)
                  else {
                    Thread.currentThread().interrupt()
                    PipelineResult(name, ok = false,
                      Some(s"InterruptedException: $detail"), attempt)
                  }
                try { body(); result = PipelineResult(name, ok = true, None, attempt) }
                catch {
                  case e: InterruptedException =>
                    result = interruptResult(Option(e.getMessage).getOrElse("interrupted"))
                  case e: Throwable =>
                    val msg = s"${e.getClass.getSimpleName}: ${e.getMessage}"
                    if (isFatal(e) || attempt >= retry.maxAttempts ||
                        timedOut.get || deadlinePassed)
                      result = PipelineResult(name, ok = false, Some(msg), attempt)
                    else {
                      try Thread.sleep(delay)
                      catch { case _: InterruptedException =>
                        // keep the PENDING failure's identity: the sleep's
                        // own exception carries no message, the retryable
                        // error that caused the backoff does
                        result = interruptResult(s"during retry backoff after $msg") }
                      delay = math.max(1L, (delay * retry.backoffFactor).toLong)
                    }
                }
              }
              result
            }
            finally {
              s.sparkContext.setLocalProperty("spark.scheduler.pool", null)
              s.sparkContext.clearJobGroup()
              lock.synchronized { worker.set(null); Thread.interrupted() }
            }
          }
        }
        (timedOut, worker, lock, fut)
      }
      val results = pipelines.zip(futs).map {
        case ((name, _), (timedOut, worker, lock, f)) =>
          val remaining = deadline
            .map(d => Duration.fromNanos(math.max(0L, d - System.nanoTime)))
            .getOrElse(Duration.Inf)
          try Await.result(f, remaining)
          catch { case _: java.util.concurrent.TimeoutException =>
            s.sparkContext.cancelJobGroup(s"graft-pipeline-$name")
            // stop the pipeline's DRIVER work too: job-group cancellation
            // only reaches Spark tasks, not the thread driving them.
            // Interrupt under the hand-off lock: it lands only while this
            // pipeline still owns the thread.
            lock.synchronized {
              timedOut.set(true)
              Option(worker.get).foreach(_.interrupt())
            }
            PipelineResult(name, ok = false, Some("timeout"))
          }
      }
      RunSummary(results)
    } finally { pool.shutdownNow(); () }
  }

  /** DRY-RUN (the reference's rehearsal harness,
    * utils/pipeline_manager.py:106-108,171-174: `--dry-run` walks every
    * pipeline and reports what WOULD run without executing): resolve
    * each pipeline's declared frame through analysis + optimization —
    * missing tables, bad columns, type errors all surface here — and
    * render its physical plan, launching ZERO query jobs: no scans, no
    * shuffles, no sinks. (Resolving a parquet source's schema reads one
    * file FOOTER — a metadata job, the dry-run analog of the
    * reference's input existence checks — and is the only cluster
    * activity; OrchestrationSpec pins exactly that.) Returns the
    * per-pipeline outcome plus the explain text for the ones that
    * resolved; `RunSummary.allSucceeded` answers "would the real run
    * plan cleanly?".
    *
    * Takes plan THUNKS (not sinks): a dry-runnable pipeline declares
    * its frame separately from its sink, which is also what keeps the
    * frame one lazy Catalyst plan in the real run. */
  def dryRunAll(s: SparkSession,
      pipelines: Seq[(String, () => DataFrame)])
      : (RunSummary, Map[String, String]) = {
    val outcomes = pipelines.map { case (name, plan) =>
      try {
        val df = plan()
        // executedPlan forces analysis + optimization + physical
        // planning; explainString renders it — none of these run a job
        val text = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        (PipelineResult(name, ok = true, None), Some(name -> text))
      } catch { case e: Throwable =>
        (PipelineResult(name, ok = false,
          Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")), None)
      }
    }
    (RunSummary(outcomes.map(_._1)), outcomes.flatMap(_._2).toMap)
  }

  /** The reference's default data-type set (pipeline_manager.py's
    * `data_types` loop), declared ONCE as (name, output frame, sink
    * partition columns): [[runClimatePipelines]] writes these frames and
    * [[dryRunClimatePipelines]] plans the very same ones. */
  private def climatePipelines(s: SparkSession, dir: String)
      : Seq[(String, () => DataFrame, Seq[String])] = Seq(
    ("precipitation", () => Climate.precipitationFrame(s, dir), Seq("year", "month")),
    ("temperature", () => Climate.temperatureComposite(s, dir), Nil),
    ("humidity", () => Climate.humidityComposite(s, dir), Nil))

  /** Runs the climate pipelines end-to-end, each writing under its own
    * subdirectory of `outRoot`. */
  def runClimatePipelines(s: SparkSession, dir: String, outRoot: String): RunSummary =
    runAll(s, climatePipelines(s, dir).map { case (name, frame, partitionCols) =>
      name -> (() => frame().write.partitionBy(partitionCols: _*)
        .mode("overwrite").parquet(s"$outRoot/$name"))
    })

  /** Dry-run of [[runClimatePipelines]]: the same declared frames are
    * resolved and physically planned, with no sink writes and no query
    * jobs AT ALL — building a composite counts nothing ahead of its
    * plan, so what is rehearsed is exactly what the real run executes. */
  def dryRunClimatePipelines(s: SparkSession, dir: String)
      : (RunSummary, Map[String, String]) =
    dryRunAll(s, climatePipelines(s, dir).map { case (name, frame, _) => name -> frame })
}
