package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** The stage collector's exact drain and the profiler's per-query row. */
class ProfileSpec extends SparkTestBase {

  test("StageLog: twenty back-to-back shuffles, each window sees every stage with no sleep") {
    // a listener ahead of the log on the shared bus queue that lags
    // every stage event: only an exact drain lets each window see its
    // own stages, and none of the previous window's
    val laggard = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Thread.sleep(20)
    }
    spark.sparkContext.addSparkListener(laggard)
    val runs = try (1 to 20).map { _ =>
      StageLog.record(spark) { log =>
        spark.range(0, 10000, 1, 4).repartition(8).count()
        log.stages
      }
    } finally spark.sparkContext.removeSparkListener(laggard)
    val counts = runs.map(_.size).distinct
    assert(counts.size == 1 && counts.head >= 2, s"stage counts per run: ${runs.map(_.size)}")
    runs.foreach(st => assert(st.map(_.shuffleWrite).sum > 0, s"no shuffle write in $st"))
  }

  test("StageLog: launched names the stages of a job still running when the log is read") {
    val (launched, completed) = StageLog.record(spark) { log =>
      // local-mode tasks share this JVM: they hold until the log is read
      val job = spark.sparkContext.parallelize(1 to 4, 4)
        .map { x => ProfileSpec.Release.await(); x }.countAsync()
      try {
        // the status store sees the job's start on the same bus as the log
        while (spark.sparkContext.statusTracker.getActiveJobIds().isEmpty) Thread.sleep(10)
        (log.launched, log.stages)
      } finally {
        ProfileSpec.Release.countDown()
        job.get()
      }
    }
    assert(launched.size == 1 && launched.head.startsWith("countAsync at"), launched)
    assert(completed.isEmpty, completed)
  }

  test("Profile: a construction that throws gives a FAILED row carrying the exception, no time") {
    val boom: Q = (_, _) => throw new IllegalStateException("planted construction failure")
    val row = Profile.profile(spark, "q_planted_failure", boom, sf)
    assert(row.cold.isLeft && row.reps.size == Profile.Reps &&
      row.reps.forall(_.isLeft), row)
    (row.cold +: row.reps).foreach(r =>
      assert(r.swap.exists(_.contains("planted construction failure")), r))
    assert(row.reps.forall(_.swap.exists(_.startsWith("construction"))), row)
    // no number anywhere under a seconds key
    assert(row.json.contains("\"failed\"") &&
      "_s\":[0-9]".r.findFirstIn(row.json).isEmpty, row.json)
  }

  test("Profile: q_scan_parquet splits construction from execution and counts its jobs") {
    val row = Profile.profile(spark, "q_scan_parquet",
      SparkEntry.queries("q_scan_parquet"), sf)
    assert(row.cold.isRight && row.reps.size == Profile.Reps, row)
    row.reps.foreach { r =>
      val rep = r.toOption.get
      assert(rep.jobs >= 1 && rep.stages.nonEmpty, rep)
      assert(rep.constructS > 0 && rep.executeS > 0, rep)
      assert(rep.phases.keySet == Set("analysis", "optimization", "planning"), rep.phases)
    }
    assert(row.json.startsWith("{\"query\":\"q_scan_parquet\"") &&
      row.json.contains("\"construct_jobs\""), row.json)
  }
}

object ProfileSpec {
  val Release = new java.util.concurrent.CountDownLatch(1)
}
