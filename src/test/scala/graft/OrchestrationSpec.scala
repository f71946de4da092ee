package graft

import java.nio.file.Files
import graft.operators.{Climate, PipelineManager, Windows}
import org.apache.spark.sql.functions.col

/** Multi-pipeline orchestration semantics
  * (utils/pipeline_manager.py:224-257): concurrent execution on one
  * session, per-pipeline success tally, continue-on-failure.
  */
class OrchestrationSpec extends SparkTestBase {

  /** Runs `body` and returns its result with the names of the stages
    * of every job it started, finished or still running
    * ([[StageLog.launched]]): an empty answer means no job started. */
  private def stagesLaunchedBy[T](body: => T): (T, Seq[String]) =
    StageLog.record(spark) { log =>
      val result = body
      (result, log.launched)
    }

  test("runClimatePipelines: all three composites land concurrently on one session") {
    val out = Files.createTempDirectory("graft_orch").toString
    val summary = PipelineManager.runClimatePipelines(spark, sf, out)
    assert(summary.allSucceeded && summary.successCount == 3, summary)
    Seq("precipitation", "temperature", "humidity").foreach { p =>
      val n = spark.read.parquet(s"$out/$p").count()
      assert(n > 0, s"$p wrote no rows")
    }
    // humidity output carries its validation columns end-to-end (plus
    // the shard index of the bounded document assembly)
    val hum = spark.read.parquet(s"$out/humidity")
    assert(hum.columns.sorted.toSeq ==
      Seq("collection", "month", "n_features", "shard", "valid", "year"))
  }

  test("a hung pipeline is cancelled at the deadline; siblings still complete") {
    import scala.concurrent.duration._
    val out = java.nio.file.Files.createTempDirectory("graft_orch_hang").toString
    val summary = PipelineManager.runAll(spark, Seq(
      "fast" -> (() =>
        Tables.nation(spark, sf).write.mode("overwrite").parquet(s"$out/fast")),
      "hung" -> (() => Thread.sleep(120000))),
      timeout = 15.seconds)
    assert(summary.successCount == 1 && summary.failedNames == Seq("hung"), summary)
    assert(summary.results.find(_.name == "hung").get.error.contains("timeout"))
    assert(spark.read.parquet(s"$out/fast").count() > 0)
  }

  test("timeout interrupts the pipeline's DRIVER thread, not just its job group") {
    import scala.concurrent.duration._
    import java.util.concurrent.atomic.AtomicBoolean
    val interrupted = new AtomicBoolean(false)
    val sideEffectLanded = new AtomicBoolean(false)
    val summary = PipelineManager.runAll(spark, Seq(
      // non-Spark driver work: a job-group cancel alone would never
      // reach this sleep, and the post-sleep side effect would land
      // AFTER being tallied as a timeout failure
      "driver_hang" -> (() => {
        try Thread.sleep(120000)
        catch { case e: InterruptedException =>
          interrupted.set(true); throw new RuntimeException(e) }
        sideEffectLanded.set(true)
      })),
      timeout = 5.seconds)
    assert(summary.failedNames == Seq("driver_hang"), summary)
    // give the interrupt a moment to land on the worker
    val deadline = System.nanoTime + 10e9.toLong
    while (!interrupted.get && System.nanoTime < deadline) Thread.sleep(50)
    assert(interrupted.get, "worker thread was never interrupted")
    assert(!sideEffectLanded.get, "timed-out pipeline's side effect still landed")
  }

  test("retry ladder: flaky-once succeeds on attempt 2, fatal fails fast") {
    import java.util.concurrent.atomic.AtomicInteger
    val flakyCalls = new AtomicInteger(0)
    val fatalCalls = new AtomicInteger(0)
    val summary = PipelineManager.runAll(spark, Seq(
      // injected transient: the class of failure the reference's spot
      // fallback ladder exists for (utils/spot_manager.py:36-48)
      "flaky_once" -> (() => {
        if (flakyCalls.incrementAndGet() == 1)
          throw new java.io.IOException("injected transient failure")
      }),
      // analysis failure: running the same plan again cannot fix a
      // missing table — must fail on attempt 1, no backoff burned
      "fatal_analysis" -> (() => {
        fatalCalls.incrementAndGet()
        spark.table("graft_no_such_table_xyz").collect(); ()
      })),
      retry = PipelineManager.RetryPolicy(maxAttempts = 3, backoffMillis = 50))
    val flaky = summary.results.find(_.name == "flaky_once").get
    val fatal = summary.results.find(_.name == "fatal_analysis").get
    assert(flaky.ok && flaky.attempts == 2 && flakyCalls.get == 2, summary)
    assert(!fatal.ok && fatal.attempts == 1 && fatalCalls.get == 1, summary)
    assert(summary.successCount == 1 && summary.failedNames == Seq("fatal_analysis"))
  }

  test("retry ladder: a persistent transient failure exhausts maxAttempts, never more") {
    import java.util.concurrent.atomic.AtomicInteger
    val calls = new AtomicInteger(0)
    val summary = PipelineManager.runAll(spark, Seq(
      "always_down" -> (() => {
        calls.incrementAndGet()
        throw new java.io.IOException("service still down")
      })),
      retry = PipelineManager.RetryPolicy(maxAttempts = 3, backoffMillis = 10))
    val r = summary.results.head
    assert(!r.ok && r.attempts == 3 && calls.get == 3, summary)
    assert(r.error.get.contains("IOException"), r)
    // and the default policy stays retry-free: one attempt only
    calls.set(0)
    val noRetry = PipelineManager.runAll(spark, Seq(
      "always_down" -> (() => {
        calls.incrementAndGet()
        throw new java.io.IOException("service still down")
      })))
    assert(!noRetry.results.head.ok && noRetry.results.head.attempts == 1 && calls.get == 1)
  }

  test("a body's OWN InterruptedException reports as itself, never as 'timeout'") {
    // no timeout configured: an InterruptedException surfacing from the
    // body (e.g. wrapping an interrupted await) is a real failure and
    // must keep its identity — labeling it "timeout" would send an
    // operator hunting for a deadline that never fired
    val summary = PipelineManager.runAll(spark, Seq(
      "self_interrupting" -> (() =>
        throw new InterruptedException("await poisoned by a sibling"))))
    val r = summary.results.head
    assert(!r.ok, r)
    assert(r.error.get.contains("InterruptedException")
      && r.error.get.contains("await poisoned"), r)
    assert(r.error.get != "timeout", r)
    // and the pool thread is reusable afterwards: the finally-block
    // shed cleared the re-asserted interrupt before the next pipeline
    val next = PipelineManager.runAll(spark, Seq("fine" -> (() => ())))
    assert(next.results.head.ok)
  }

  test("dryRunAll: plans resolve and render, failures surface, ZERO query jobs launch") {
    val ((summary, plans), metadataOnly) = stagesLaunchedBy {
      PipelineManager.dryRunAll(spark, Seq(
        "monthly" -> (() => graft.operators.Climate.monthlyAgg(spark, sf)),
        "join" -> (() => SparkEntry.queries("q_join_broadcast")(spark, sf)),
        "bad_column" -> (() =>
          Tables.nation(spark, sf).select(col("no_such_column")))))
    }
    // the rehearsal verdict: resolvable pipelines pass, the analysis
    // error is caught and reported, siblings unaffected
    assert(summary.successCount == 2 && summary.failedNames == Seq("bad_column"))
    assert(plans.keySet == Set("monthly", "join"))
    assert(plans.values.forall(p => p.contains("Scan") && p.nonEmpty))
    // the ONLY cluster activity is parquet source-schema resolution
    // (one footer read per source — metadata, the rehearsal analog of
    // the reference's input existence checks); no query job — scan,
    // shuffle, aggregate, sink — may run
    assert(metadataOnly.forall(_.startsWith("parquet at")),
      s"dry-run launched query work: $metadataOnly")
  }

  test("dryRunClimatePipelines rehearses all three reference pipelines, ZERO query jobs") {
    // the SAME zero-query-jobs property pinned for dryRunAll holds for
    // the full three-pipeline rehearsal, over the very frames the real
    // run writes
    val ((summary, plans), metadataOnly) =
      stagesLaunchedBy(PipelineManager.dryRunClimatePipelines(spark, sf))
    assert(summary.allSucceeded && summary.successCount == 3, summary)
    assert(plans.keySet == Set("precipitation", "temperature", "humidity"))
    // each rendered physical plan reaches its source scans
    assert(plans.values.forall(_.contains("Scan")))
    assert(metadataOnly.forall(_.startsWith("parquet at")),
      s"climate dry-run launched query work: $metadataOnly")
  }

  test("building the temperature/humidity composites launches no query job") {
    // construction resolves and plans only: parquet footer reads (source
    // schema resolution) are the one cluster activity allowed — the
    // document stage has a single plan, so nothing is counted before
    // the frame is handed back
    val dir = java.nio.file.Paths.get(sf).resolveSibling("sf0.1").toString
    val (_, stages) = stagesLaunchedBy {
      Climate.temperatureComposite(spark, dir)
      Climate.humidityComposite(spark, dir)
    }
    assert(stages.forall(_.startsWith("parquet at")),
      s"building a composite launched query work: $stages")
  }

  test("prefixSums rejects a double measure at build time, launching no job") {
    val df = spark.range(100).select(col("id"), (col("id") / 2.0).as("x"))
    val (err, stages) = stagesLaunchedBy {
      intercept[IllegalArgumentException] {
        Windows.prefixSums(df, Nil, Seq(col("x") -> "cum"), Seq(col("id")))
      }
    }
    assert(err.getMessage.contains("measure x (-> cum) is double"), err.getMessage)
    assert(stages.isEmpty, s"the rejected build launched work: $stages")
  }

  test("an injected failure is tallied and does NOT stop sibling pipelines") {
    val out = Files.createTempDirectory("graft_orch_fail").toString
    val summary = PipelineManager.runAll(spark, Seq(
      "ok_a" -> (() =>
        Tables.nation(spark, sf).write.mode("overwrite").parquet(s"$out/a")),
      "boom" -> (() => throw new IllegalStateException("injected failure")),
      "ok_b" -> (() =>
        Tables.region(spark, sf).write.mode("overwrite").parquet(s"$out/b"))))
    // continue-on-failure: both siblings completed and their outputs landed
    assert(summary.successCount == 2 && !summary.allSucceeded)
    assert(summary.failedNames == Seq("boom"))
    assert(summary.results.map(_.name) == Seq("ok_a", "boom", "ok_b"))
    assert(summary.results.find(_.name == "boom").get.error.get.contains("injected failure"))
    assert(spark.read.parquet(s"$out/a").count() > 0)
    assert(spark.read.parquet(s"$out/b").count() > 0)
  }
}
