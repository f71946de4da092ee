package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Dev-only: repeated CONSTRUCTION-ONLY timing (fn(spark,dir) without
  * the write) for a query list, with the number of Spark jobs fired
  * during each construction — separates driver-side DSL/analysis tax
  * from in-build actions (localCheckpoint/head/broadcast builds).
  * Run: `sbt "Test/runMain graft.ConstrProbe q1,q2,... [reps]"`. */
object ConstrProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val names = args.headOption.map(_.split(",").toSeq).getOrElse(Seq.empty)
    val reps = if (args.length > 1) args(1).toInt else 5
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config(Tables.NanosConf, "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    @volatile var jobs = 0
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
    })
    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => names.isEmpty || names.contains(n) }
    // a failed construction is reported, never timed as a fast one
    def failed(n: String, phase: String, e: Throwable): Unit =
      System.err.println(s"[constr] $n $phase FAILED: $e")
    // one full warmup (codegen + artifacts) so constructions are warm
    qs.foreach { case (n, f) =>
      try f(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => failed(n, "warmup", e) }
    }
    qs.foreach { case (n, f) =>
      val times = (1 to reps).map { _ =>
        Thread.sleep(20)
        val j0 = jobs
        val t0 = System.nanoTime()
        try {
          f(spark, sfDir)
          s"${(System.nanoTime() - t0) / 1000000L}ms/${jobs - j0}j"
        } catch { case e: Throwable => failed(n, "construction", e); "FAILED" }
      }
      val tstr = times.mkString(" ")
      println(s"[constr] $n  $tstr")
    }
    spark.stop()
  }
}
