package graft

import java.nio.file.Files

/** The one build-once memo: its staleness rule, its build record, and
  * its SparkContext scoping. */
class ProcessCacheSpec extends SparkTestBase {

  test("a DataFrame artifact is served from the memo until its input dir is rewritten") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_memo_").toString + "/t"
    Seq(1, 2).toDF("x").write.parquet(dir)
    val name = "memo_spec:" + dir
    var built = 0
    def artifact() = ProcessCache.get(spark, name, dir) {
      built += 1
      spark.read.parquet(dir).localCheckpoint()
    }
    val a = artifact()
    assert(ProcessCache.builds.contains(name) && built == 1)
    assert(artifact() eq a)
    assert(built == 1, "a second lookup over unchanged files must not rebuild")
    Seq(3, 4, 5).toDF("x").write.mode("overwrite").parquet(dir)
    val b = artifact()
    assert(built == 2 && !(b eq a) && b.count() == 3)
    assert(artifact() eq b)
    assert(built == 2)
    graft.sources.IO.rmTree(dir)
  }

  test("every routed ingest artifact lands in ProcessCache.builds under the name Bench lists") {
    val routed = Seq("q_join_bucketed", "q_prune_dynamic", "q_scan_csv_malformed",
      "q_scan_json_malformed", "q_scan_zip", "q_filter_land_mask",
      "q_population_composite")
    routed.foreach(q => SparkEntry.queries(q)(spark, sf).collect())
    val built = ProcessCache.builds.keySet.map(_.takeWhile(_ != ':'))
    for (q <- routed; a <- Bench.ArtifactConsumers(q))
      assert(built(a), s"$q consumes '$a', which ProcessCache.builds does not name: $built")
  }

  test("q_join_bucketed runs in two successive SparkContexts of one JVM") {
    // a child JVM, because the suite's own session must stay up; C1
    // only, since the child runs two short cold queries and exits
    import scala.jdk.CollectionConverters._
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(_.startsWith("-Xmx"))
    val cmd = Seq(System.getProperty("java.home") + "/bin/java") ++ jvmArgs ++
      Seq("-Xmx1g", "-XX:TieredStopAtLevel=1", "-cp", System.getProperty("java.class.path"),
        "graft.SessionRestartMain", sf)
    val log = Files.createTempFile("graft_restart_", ".log")
    val p = new ProcessBuilder(cmd.asJava).redirectErrorStream(true)
      .redirectOutput(log.toFile).start()
    val finished = p.waitFor(90, java.util.concurrent.TimeUnit.SECONDS)
    if (!finished) p.destroyForcibly().waitFor()
    val out = Files.readString(log)
    Files.delete(log)
    assert(finished && p.exitValue() == 0 &&
      out.linesIterator.count(_.startsWith("context ok")) == 2,
      out.linesIterator.filter(l => l.contains("context") || l.contains("Exception"))
        .take(20).mkString("\n"))
  }
}

/** Runs q_join_bucketed in one SparkContext, stops it, and runs it again
  * in a fresh one; prints `context ok <rows>` after each. */
object SessionRestartMain {
  def main(args: Array[String]): Unit =
    for (_ <- 1 to 2) {
      val s = sessionBuilder("1").appName("graft-session-restart").getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      try println(s"context ok ${SparkEntry.queries("q_join_bucketed")(s, args(0)).collect().length}")
      finally s.stop()
    }
}
