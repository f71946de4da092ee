package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** FULL-REGISTRY sweep at 10× bench scale ("sf1") — the scale-tail
  * check the plan pins and 3M-row primitive soaks cannot give: every
  * one of the registered queries executes end-to-end on a synthesized
  * sf1 dataset under the standing listener invariant (no single-task
  * stage absorbs a relation-sized shuffle). A quadratic tail that
  * sf0.1 hides (the q_graph_jaccard 24.6 s pathology was found exactly
  * this way) shows up here as an outlier wall time; a plan that
  * collapses at scale trips the invariant.
  *
  * The sweep is OPT-IN (`GRAFT_SCALE_SWEEP=1`) because it costs tens
  * of minutes: the default `sbt test` rotation cancels it. It builds
  * its OWN SparkSession (master from `GRAFT_SCALE_CPUS`, default 8) —
  * run it alone: `GRAFT_SCALE_SWEEP=1 sbt -batch "testOnly graft.ScaleSweepSpec"`.
  *
  * Fixture: 10 id-shifted copies of every sf0.1 table, preserving
  * referential integrity (customer/orders/lineitem/part/supplier key
  * offsets move together; region/nation stay fixed like real dims).
  * Documents get a per-copy suffix token (copies become NEAR-dups —
  * Jaccard ≈ 0.99 — so the LSH family does 10-member-cluster work
  * instead of degenerate exact-copy work, and n_chars is recomputed to
  * stay consistent). Embedding labels shift per copy so the blocked
  * exact near-dup keeps its documented bounded-block contract — label
  * cardinality grows with the corpus, block size does not.
  */
class ScaleSweepSpec extends AnyFunSuite {

  private val SingleTaskShuffleBudget = 32L * 1024 * 1024

  /** Quiet-machine reference for [[Bench.calibrationProbe]] at THIS
    * harness shape (local[8] on the 32-core build box; warm medians
    * 0.25–0.26 s observed on a quiet machine). Same convention as the
    * bench (local[32], 0.52) and soak (local[4], 0.20) references:
    * per-core speed varies with thread count, so each shape carries
    * its own reference and ratios compare only same-shape runs. */
  private val SweepCalibrationRefSec = 0.25

  /** First-shot walls above this get one warm retime pass (see the
    * retime block below) — bounds the extra sweep cost to the slow
    * tail only. */
  private val RetimeThresholdSec = 15.0

  test("full-registry sweep at 10x bench scale: every query runs, no single-task relation-sized shuffle") {
    assume(sys.env.get("GRAFT_SCALE_SWEEP").contains("1"),
      "set GRAFT_SCALE_SWEEP=1 to run the sf1 sweep (tens of minutes)")
    val cpus = sys.env.getOrElse("GRAFT_SCALE_CPUS", "8")
    val spark = sessionBuilder(cpus)
      .appName("graft-scale-sweep")
      // With the default 64 MB advisory, CORRECT AQE coalescing can
      // merge a modest post-shuffle output into one task and exceed
      // the 32 MB budget — indistinguishable from a structural
      // collapse in stage metrics. At 16 MB advisory, AQE splits
      // anything it can; a single-task stage still reading >32 MB is
      // then structural by construction (a partition AQE cannot split:
      // one group, one range key, one skewed hash bucket).
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val src = "/root/testdata/sf0.1"
    val dir = graft.sources.IO.tmp("graft_sf1_")
    val tFix0 = System.nanoTime()
    Sf1Fixture.build(spark, src, dir)
    val tFixture = (System.nanoTime() - tFix0) / 1e9
    assert(spark.read.parquet(s"$dir/lineitem.parquet").count() == 6000000L)

    Bench.calibrationProbe(spark) // codegen/JIT warmup
    val calBefore = Seq.fill(3)(Bench.calibrationProbe(spark)).sorted.apply(1)
    val results = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val retimes = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val failures = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    // one StageLog window over the whole sweep, so every stage that
    // completes in it meets the budget check below; queries run one at
    // a time, and each is attributed the stages that completed since the
    // previous query's read of the log
    val stages = scala.collection.mutable.ArrayBuffer.empty[(String, StageLog.Stage)]
    val (tArtPass, artBuilds) = StageLog.record(spark) { log =>
      def attributed(q: String)(body: => Unit): Unit = {
        body
        stages ++= log.stages.drop(stages.size).map(q -> _)
      }
      // ---- ingest-artifact pre-pass: build every ProcessCache artifact
      // OUTSIDE the consumer slots by running ONE consumer per artifact
      // untimed first. Pre-r13 the first consumer paid the build inside
      // its own slot (the r12 triangles slot read 63.0 s while the
      // census itself was 10.5 s) — attribution noise that would mask a
      // real consumer regression. ProcessCache.builds then carries the
      // per-artifact seconds for the record's own table, and every
      // consumer slot below reflects query cost only (the pre-pass
      // queries re-run timed, now hitting the cache). Stages completed
      // here attribute to <artifact-prebuild>, still under the listener
      // budget.
      val tArt0 = System.nanoTime()
      val prebuilders = Bench.ArtifactConsumers.toSeq
        .flatMap { case (q, ks) => ks.map(k => k -> q) }
        .groupBy(_._1).map { case (_, qs) => qs.map(_._2).min }.toSet
      attributed("<artifact-prebuild>") {
        prebuilders.toSeq.sorted.foreach { q =>
          try SparkEntry.queries(q)(spark, dir)
            .write.format("noop").mode("overwrite").save()
          catch { case _: Throwable => () } // a failure re-surfaces timed below
        }
      }
      val tArtPass = (System.nanoTime() - tArt0) / 1e9
      val artBuilds = ProcessCache.builds.toSeq
        .map { case (k, v) => (k.takeWhile(_ != ':'), v) }.sortBy(-_._2)
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        attributed(name) {
          val t0 = System.nanoTime()
          try {
            fn(spark, dir).write.format("noop").mode("overwrite").save()
            results += ((name, (System.nanoTime() - t0) / 1e9))
          } catch { case e: Throwable =>
            failures += ((name, String.valueOf(e.getMessage).take(300)))
          }
        }
      }
      // RETIME the slow tail: first-shot rows are single-sample and
      // band-sensitive — r16's q_graph_pagerank read 84.3/171.8 s
      // across two sweeps vs a 12.3 s isolated warm probe at the same
      // shape, purely in-sweep pressure. One warm second shot (caches
      // and artifacts hot, plans compiled) separates plan cost from
      // the band: the table reports the MIN and keeps the first shot
      // visible. Bounded: only rows over the threshold pay it.
      val slowQs = results.filter(_._2 > RetimeThresholdSec).map(_._1)
      slowQs.foreach { name =>
        attributed(name) {
          val t0 = System.nanoTime()
          try {
            SparkEntry.queries(name)(spark, dir)
              .write.format("noop").mode("overwrite").save()
            retimes += ((name, (System.nanoTime() - t0) / 1e9))
          } catch { case _: Throwable => () } // first shot already succeeded
        }
      }
      (tArtPass, artBuilds)
    }
    val calAfter = Seq.fill(3)(Bench.calibrationProbe(spark)).sorted.apply(1)

    assert(failures.isEmpty,
      s"queries failed at sf1:\n${failures.map(f => s"  ${f._1}: ${f._2}").mkString("\n")}")
    val violations = stages.filter { case (_, st) =>
      st.tasks == 1 && st.shuffleRead > SingleTaskShuffleBudget }
    assert(violations.isEmpty,
      "single-task stages read relation-sized shuffles:\n" + violations.map {
        case (q, st) =>
          s"  $q stage ${st.id} read ${st.shuffleRead / 1024 / 1024} MB (${st.name})"
      }.mkString("\n"))

    // per-family rollup on MIN(first shot, retime): the retimed value
    // is the query's warm in-sweep cost, the first shot stays visible
    // in the retime table below
    val retimeMap = retimes.toMap
    val minResults = results.map { case (q, s) =>
      (q, math.min(s, retimeMap.getOrElse(q, s))) }
    def family(q: String): String = q.split("_").take(2).mkString("_")
    val byFam = minResults.groupBy(r => family(r._1)).toSeq
      .map { case (f, rs) =>
        val worst = rs.maxBy(_._2)
        (f, rs.size, rs.map(_._2).sum, worst._1, worst._2)
      }.sortBy(-_._3)
    val slowest = minResults.sortBy(-_._2).take(10)
    val total = minResults.map(_._2).sum

    // rows carry a doubled leading pipe: the section template's
    // stripMargin treats a line-leading '|' as the margin bar
    val famRows = byFam.map { case (f, cnt, sum, wq, ws) =>
      s"|| $f | $cnt | ${f"$sum%.1f"} | $wq (${f"$ws%.1f"}) |"
    }.mkString("\n")
    val slowRows = slowest.map { case (q, s) => s"|| $q | ${f"$s%.1f"} |" }
      .mkString("\n")
    val artRows = artBuilds.map { case (k, s) => s"|| $k | ${f"$s%.1f"} |" }
      .mkString("\n")
    val firstMap = results.toMap
    val retimeRows = retimes.toSeq.sortBy(-_._2).map { case (q, r) =>
      s"|| $q | ${f"${firstMap(q)}%.1f"} | ${f"$r%.1f"} |"
    }.mkString("\n")
    // assembled OUTSIDE the template's stripMargin, so prose lines are
    // plain and table rows carry the doubled leading pipe like the
    // sibling row blocks
    val retimeSection =
      if (retimes.isEmpty) ""
      else Seq("",
        s"Slow-tail retime (rows over ${f"$RetimeThresholdSec%.0f"} s got one",
        "warm second shot; family/slowest tables above use the min — a",
        "large first/retime gap is in-sweep band pressure, not plan cost):",
        "",
        "|| query | first shot s | retime s |",
        "||---|---|---|",
        retimeRows,
        "").mkString("\n")
    val section =
      s"""
         |## Full-registry sf1 sweep (regenerated by ScaleSweepSpec)
         |
         |All ${results.size} registered queries end-to-end on a
         |synthesized sf1 dataset (10 referentially-consistent id-shifted
         |copies of every sf0.1 table: 6M lineitem / 1.5M orders / 1M
         |events / 50k near-dup documents / 20k embeddings with per-copy
         |label space), local[$cpus], opt-in via GRAFT_SCALE_SWEEP=1.
         |Fixture build ${f"$tFixture%.0f"} s; artifact pre-pass
         |${f"$tArtPass%.0f"} s (ingest-time builds — LSH pair lists,
         |trained quantizers, graph edges — timed as their OWN rows
         |below; consumer slots reflect query cost only); sweep total
         |${f"$total%.0f"} s; **0 failures, 0 single-task stages over the
         |32 MB shuffle budget** among the ${stages.size} stages of the run; cal ratio
         |${f"${calBefore / SweepCalibrationRefSec}%.2f"} before /
         |${f"${calAfter / SweepCalibrationRefSec}%.2f"} after (median
         |probe vs the ${SweepCalibrationRefSec} s quiet local[$cpus]
         |reference — compare only to same-shape runs).
         |
         || family | queries | wall s | worst query (s) |
         ||---|---|---|---|
         |$famRows
         |
         |Slowest individual queries:
         |
         || query | wall s |
         ||---|---|
         |$slowRows
         |$retimeSection
         |Ingest-artifact builds (one-time cost, own pre-pass):
         |
         || artifact | build s |
         ||---|---|
         |$artRows
         |""".stripMargin
    SoakDoc.upsert(SoakDoc.Path,
      "Full-registry sf1 sweep", section)
  }
}
