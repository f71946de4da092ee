package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import graft.operators.{Climate, PipelineManager, Population}

/** The JVM side of one benchmark run: starts a session, runs the
  * workload's rounds and writes everything it measured to
  * `<out>/run.json`. Input generation, correctness checks and the
  * metric arithmetic live in the Python entry point (`perfbench/run.py`).
  *
  * A round is one `PipelineManager.runAll` batch of the four pipelines
  * or one pass over the query mix. Round 0 is the cold round of a
  * fresh process and writes real outputs (pipeline sinks; each query's
  * result as parquet, for the correctness check). `--rounds` warm
  * rounds follow: pipelines keep their sinks, queries drain through a
  * noop write as `graft.Bench` does. With `--trace 1` warm rounds alternate between
  * untraced and traced, so the run yields the per-layer split and the
  * tracing overhead (each traced round against the untraced rounds
  * either side of it) from one process. The contention probe of
  * `graft.Bench` runs after every warm round, so the entry point can scale
  * the run's times by the host's speed at the time.
  *
  * Usage: `Main --workload <pipelines|query_mix> --data <dir> --out <dir>
  *   --order <name,name,...> --rounds <n> --trace <0|1>`
  */
object Main {
  val Cores = 4
  val ProbesPerRound = 4

  final case class Op(id: String, round: Int, name: String, startMs: Double,
      endMs: Double, ok: Boolean, error: String) {
    def json: String = Json.obj("id" -> Json.str(id), "round" -> round.toString,
      "name" -> Json.str(name), "start_ms" -> Json.num(startMs),
      "end_ms" -> Json.num(endMs), "ok" -> ok.toString, "error" -> Json.str(error))
  }

  final case class Round(index: Int, traced: Boolean, startMs: Double, endMs: Double,
      detail: String) {
    def json: String = Json.obj("round" -> index.toString, "traced" -> traced.toString,
      "start_ms" -> Json.num(startMs), "end_ms" -> Json.num(endMs), "detail" -> detail)
  }

  /** One run of the contention probe, after round `after` (-1: the
    * warm-up of the probe's codegen, not a measurement). */
  final case class Probe(after: Int, startMs: Double, endMs: Double, sec: Double) {
    def json: String = Json.obj("after" -> after.toString, "start_ms" -> Json.num(startMs),
      "end_ms" -> Json.num(endMs), "s" -> Json.num(sec))
  }

  def timedProbe(spark: SparkSession, after: Int): Probe = {
    val t0 = Clock.nowMs
    val sec = graft.Bench.calibrationProbe(spark)
    Probe(after, t0, Clock.nowMs, sec)
  }

  /** One traced operation's Catalyst phases (QueryPlanningTracker), as
    * spans nested under the operation's construct and plan spans. */
  def phaseSpans(id: String, tracker: QueryPlanningTracker): Seq[Span] = {
    val parentOf = Map(QueryPlanningTracker.ANALYSIS -> "construct",
      QueryPlanningTracker.OPTIMIZATION -> "plan", QueryPlanningTracker.PLANNING -> "plan")
    tracker.phases.toSeq.collect { case (phase, s) if parentOf.contains(phase) =>
      Span(id, phase, parentOf(phase), s.startTimeMs.toDouble, s.endTimeMs.toDouble, ok = true)
    }
  }

  def error(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(500)}"

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val dir = opt("data")
    val out = opt("out")
    val order = opt("order").split(",").toSeq.filter(_.nonEmpty)
    val trace = opt("trace") == "1"
    val warmRounds = opt("rounds").toInt

    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$Cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.Tables.NanosConf, "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionReadyMs = Clock.nowMs

    val tracer = new Tracer(trace)
    val listener = new JobListener
    val ops = new ConcurrentLinkedQueue[Op]()
    val rounds = scala.collection.mutable.ArrayBuffer.empty[Round]

    // one operation: construct -> (plan, traced only) -> execute, each a
    // span of the operation's id; the op record is kept in every mode
    def runOp(id: String, round: Int, name: String, traced: Boolean)
        (frame: => DataFrame)(sink: DataFrame => Unit): Unit = {
      val t0 = Clock.nowMs
      def span[T](n: String, parent: String)(body: => T): T =
        if (traced) tracer.span(id, n, parent)(body) else body
      try {
        span("op", "") {
          val df = span("construct", "op")(frame)
          if (traced) {
            span("plan", "op")(df.queryExecution.executedPlan)
            phaseSpans(id, df.queryExecution.tracker).foreach(tracer.record)
          }
          span("execute", "op")(sink(df))
        }
        ops.add(Op(id, round, name, t0, Clock.nowMs, ok = true, ""))
      } catch { case e: Throwable =>
        ops.add(Op(id, round, name, t0, Clock.nowMs, ok = false, error(e)))
        throw e
      }
    }

    // After every warm round, on a heap cleared of the round's garbage,
    // the contention probe (graft.Bench.calibrationProbe) ProbesPerRound
    // times; the first probe of all is an untimed warm-up.
    val probes = scala.collection.mutable.ArrayBuffer.empty[Probe]
    def afterRound(after: Int): Unit = if (after > 0) {
      System.gc()
      if (probes.isEmpty) probes += timedProbe(spark, -1)
      (1 to ProbesPerRound).foreach(_ => probes += timedProbe(spark, after))
    }

    // round 0 cold, then `warmRounds` warm rounds; traced runs alternate
    // untraced and traced rounds, starting and ending untraced, so each
    // traced round has an untraced round on either side
    def runRounds(body: (Int, Boolean) => String): Unit =
      (0 to warmRounds).foreach { i =>
        val traced = trace && i % 2 == 0 && i > 0
        if (traced) spark.sparkContext.addSparkListener(listener)
        val t0 = Clock.nowMs
        val detail = tracer.span(s"r$i", "round", "") { body(i, traced) }
        val t1 = Clock.nowMs
        if (traced) { drain(spark, listener); spark.sparkContext.removeSparkListener(listener) }
        rounds += Round(i, traced, t0, t1, detail)
        afterRound(i)
      }

    workload match {
      case "query_mix" =>
        val queries = graft.SparkEntry.queries
        val sc = spark.sparkContext
        runRounds { (i, traced) =>
          order.foreach { name =>
            val id = s"r$i-$name"
            sc.setJobGroup(s"perfbench-$id", s"perfbench query $name", interruptOnCancel = true)
            try runOp(id, i, name, traced)(queries(name)(spark, dir)) { df =>
              if (i == 0) df.write.mode("overwrite").parquet(s"$out/results/$name")
              else df.write.format("noop").mode("overwrite").save()
            } catch { case _: Throwable => () } // recorded as a failed op
            finally sc.clearJobGroup()
          }
          "{}"
        }

      case "pipelines" =>
        // the bodies runClimatePipelines builds (precipitation is
        // Climate.climatePipeline's frame and sink, split so the spans
        // can tell construction from execution), plus the population
        // program with the same parquet sink as temperature/humidity
        def pipelines(i: Int, traced: Boolean): Seq[(String, () => Unit)] = {
          val root = s"$out/round_$i"
          def body(name: String)(frame: => DataFrame)(sink: DataFrame => Unit) =
            name -> (() => runOp(s"r$i-$name", i, name, traced)(frame)(sink))
          val all = Map(
            body("precipitation")(Climate.precipitationFrame(spark, dir)) {
              _.write.partitionBy("year", "month").mode("overwrite").parquet(s"$root/precipitation")
            },
            body("temperature")(Climate.temperatureComposite(spark, dir)) {
              _.write.mode("overwrite").parquet(s"$root/temperature")
            },
            body("humidity")(Climate.humidityComposite(spark, dir)) {
              _.write.mode("overwrite").parquet(s"$root/humidity")
            },
            body("population")(Population.populationPipeline(spark, dir)) {
              _.write.mode("overwrite").parquet(s"$root/population")
            })
          order.map(n => n -> all(n))
        }
        runRounds { (i, traced) =>
          val summary = PipelineManager.runAll(spark, pipelines(i, traced))
          Json.arr(summary.results.map(r => Json.obj("name" -> Json.str(r.name),
            "ok" -> r.ok.toString, "attempts" -> r.attempts.toString,
            "error" -> Json.str(r.error.getOrElse("")))))
        }

      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val endMs = Clock.nowMs
    // The heap the engine retains: what survives two full collections a
    // moment apart (the first lets Spark's ContextCleaner drop the blocks
    // of unreachable RDDs and broadcasts, the second frees them), made
    // after the last probes, so that the last query of the round, which
    // Spark keeps referenced until the next one runs, is not counted.
    System.gc()
    Thread.sleep(250)
    System.gc()
    val retainedHeapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    val oracle = graft.SparkEntry.oracleSql
    val wanted = if (workload == "query_mix") order else Seq(
      "q_climate_composite", "q_temperature_composite", "q_humidity_composite",
      "q_population_composite")
    val record = Json.obj(
      "workload" -> Json.str(workload),
      "cores" -> Cores.toString,
      "session_ready_ms" -> Json.num(sessionReadyMs),
      "end_ms" -> Json.num(endMs),
      "max_features_per_doc" -> Climate.MaxFeaturesPerDoc.toString,
      "rounds" -> Json.arr(rounds.map(_.json)),
      "probes" -> Json.arr(probes.map(_.json)),
      "ops" -> Json.arr(ops.asScala.toSeq.sortBy(_.startMs).map(_.json)),
      "spans" -> Json.arr(tracer.all.map(_.json)),
      "jobs" -> Json.arr(listener.all.map(_.json)),
      "process_cache" -> Json.obj(graft.ProcessCache.builds.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.num(v) }: _*),
      "oracle_sql" -> Json.obj(wanted.flatMap(n => oracle.get(n).map(n -> Json.str(_))): _*),
      "peak_rss_mb" -> Json.num(peakRssMb()),
      "retained_heap_mb" -> Json.num(retainedHeapMb))
    Files.write(Paths.get(out, "run.json"), record.getBytes(StandardCharsets.UTF_8))
    spark.stop()
    sys.exit(0) // a lingering non-daemon thread must not keep the JVM alive
  }

  /** Wait until Spark's listener bus has delivered every event posted
    * so far: job, stage and task events reach listeners after the
    * action that caused them returns. The bus is internal to Spark,
    * hence the reflective call; if it ever fails, wait until every job
    * the listener saw start has ended instead. */
  def drain(spark: SparkSession, l: JobListener): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
        .invoke(bus, java.lang.Long.valueOf(10000L))
      ()
    } catch { case _: Throwable =>
      val deadline = System.nanoTime() + 10000000000L
      while (l.all.exists(_.endMs.isNaN) && System.nanoTime() < deadline) Thread.sleep(5)
    }

  /** This JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
}
