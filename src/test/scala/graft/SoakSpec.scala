package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Climate, Dedup, Windows}

/** Large-fixture soak of the distributed window primitives — evidence
  * the 100 TB posture holds beyond the sf0.1 harness tables. A 3M-row
  * events fixture (30 month-shifted copies of sf0.1) runs the four
  * primitives whose scale story depends on NOT collapsing to a
  * whole-relation single-task stage:
  * `Windows.prefixSums` (global and grouped), `equiHeightHistogram`,
  * `featureCollection` (maxPerDoc forcing multi-shard months),
  * and `axisResolutions` by (year, month). A stage listener proves
  * the property the plans only suggest: across every job here, NO
  * stage with one task reads more than a trivial number of shuffle
  * records — the big shuffles all fan out, and the only single-task
  * stages are the ≤shuffle-partitions-row offset/statistic
  * aggregates. Wall-times are recorded into [[SoakDoc.Path]] via
  * [[SoakDoc.upsert]] — each suite replaces ONLY its own section, so
  * a partial run can never drop a sibling suite's evidence.
  */
class SoakSpec extends SparkTestBase {

  private val Copies = 30
  /** Single-task stages may read at most this much SHUFFLE data.
    * Bytes, not records: AQE legitimately coalesces small-byte shuffles
    * (offset aggregates, the bounded distinct grid set) into one task —
    * that is correct sizing, not a collapse. What must never happen is
    * one task absorbing a relation-sized shuffle (the whole-relation
    * window failure): the fixture's feature shuffle is ~150 MB, so a
    * collapse trips a 32 MB budget with 4× headroom while every
    * legitimate single-task stage here stays under ~15 MB. */
  private val SingleTaskShuffleBudget = 32L * 1024 * 1024

  /** The standing invariant over every stage in `log`'s window so far:
    * no single-task stage read more than [[SingleTaskShuffleBudget]] of
    * shuffle. Returns the largest single-task shuffle read. */
  private def assertShuffleBudget(log: StageLog): Long = {
    val single = log.stages.filter(_.tasks == 1)
    val violations = single.filter(_.shuffleRead > SingleTaskShuffleBudget)
    assert(violations.isEmpty,
      s"single-task stages read relation-sized shuffles: ${violations.mkString(", ")}")
    single.map(_.shuffleRead).maxOption.getOrElse(0L)
  }

  /** Quiet-machine reference for [[Bench.calibrationProbe]] AT THE
    * SOAK HARNESS SHAPE (local[4] on the 32-core build box; median of
    * warm samples 0.19–0.20 s). The probe's work is fixed per core,
    * but per-core SPEED is not thread-count-invariant — 4 busy threads
    * on a 32-core box run at uncontended turbo while 32 saturate it
    * (observed: the same quiet machine probes 0.52 s at local[32] vs
    * ~0.20 s at local[4]) — so the soak carries its own reference and
    * soak ratios are comparable only across runs of this same
    * harness shape, which is exactly what round-over-round SOAK.md
    * adjudication compares. */
  private val SoakCalibrationRefSec = 0.20

  /** Median-of-3 calibration ratio vs [[SoakCalibrationRefSec]] — the
    * machine-speed context every soak row carries so round-over-round
    * wall-time swings adjudicate mechanically (machine-normalized
    * wall = wall / ratio; same pattern as the bench record's
    * `calibration` block). Measured AFTER the timed work, adjacent to
    * what it contextualizes. */
  private def calRatio(): Double = {
    Bench.calibrationProbe(spark) // untimed codegen/JIT warmup
    val s = Seq.fill(3)(Bench.calibrationProbe(spark)).sorted
    s(1) / SoakCalibrationRefSec
  }

  /** 30 copies of sf0.1 events, each shifted c months and re-keyed —
    * 3M rows over 30 distinct (year,month) groups, written multi-file
    * so scans parallelize like any real layout. */
  private lazy val fixture: DataFrame = {
    val out = graft.sources.IO.tmp("graft_soak_")
    Tables.events(spark, "/root/testdata/sf0.1")
      .select(col("event_id"), col("ts"), col("value"))
      .crossJoin(spark.range(Copies).select(col("id").as("c")))
      .select(
        // re-key by OFFSET (not interleave): each copy keeps the dense
        // 0..99999 id range mod the synthetic-grid periods, so every
        // month still covers the full lat/lon grid at its native spacing
        (col("event_id") + col("c") * 10000000L).as("event_id"),
        expr("timestampadd(MONTH, CAST(c AS INT), ts)").as("ts"),
        col("value"))
      .repartition(16)
      .write.mode("overwrite").parquet(out)
    spark.read.parquet(out)
  }

  test("3M-row soak: distributed primitives, no single-task stage at scale") {
    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }

    val n = fixture.count()
    assert(n == Copies * 100000L, s"fixture rows: $n")

    StageLog.record(spark) { log =>
      // 1. global prefix sum over the (ts, event_id) total order
      val (ranked, tPrefix) = timed {
        Windows.prefixSums(fixture, Nil, Seq(lit(1L) -> "rn"),
            Seq(col("ts"), col("event_id")))._1
          .agg(min(col("rn")).as("lo"), max(col("rn")).as("hi")).head()
      }
      assert(ranked.getLong(0) == 1L && ranked.getLong(1) == n)

      // 1b. grouped prefix sum under dominant-group skew: 80% of the
      //     relation in ONE stratum (the 1-language-heavy corpus
      //     shape); the listener invariant below proves the dominant
      //     group spanned tasks instead of collapsing to one
      val skewed = fixture.withColumn("grp",
        when(pmod(col("event_id"), lit(10)) < 8, lit("big"))
          .otherwise(concat(lit("s"), pmod(col("event_id"), lit(10)))))
      val (grouped, tGrouped) = timed {
        Windows.prefixSums(skewed, Seq("grp"), Seq(lit(1L) -> "rn"),
            Seq(col("ts"), col("event_id")))._1
          .groupBy(col("grp")).agg(min(col("rn")).as("lo"),
            max(col("rn")).as("hi"), count(lit(1)).as("cnt"))
          .collect()
      }
      assert(grouped.length == 3)
      grouped.foreach { r =>
        assert(r.getLong(1) == 1L && r.getLong(2) == r.getLong(3),
          s"group ${r.getString(0)}: ${r.toSeq}")
      }
      assert(grouped.find(_.getString(0) == "big").get.getLong(3) == n * 8 / 10)

      // 2. equi-height histogram (global row number + arithmetic buckets)
      val (hist, tHist) = timed {
        Climate.equiHeightHistogram(fixture, "value", "event_id", 16).collect()
      }
      assert(hist.length == 16)
      assert(hist.map(_.getLong(1)).sum ==
        fixture.filter(col("value").isNotNull).count())

      // 3. sharded FeatureCollection: 100k-feature months, maxPerDoc
      //    20k -> every month must emit exactly 5 bounded parts
      val feats = Climate.withYearMonth(Climate.syntheticGrid(fixture), "ts")
        .select(col("year"), col("month"), col("event_id"),
          concat(lit("{\"id\":"), col("event_id"), lit("}")).as("feature"))
      val (shards, tShard) = timed {
        Climate.featureCollection(feats, "feature", "event_id", 20000)
          .select(col("year"), col("month"), col("shard"),
            length(col("collection")).as("len")).collect()
      }
      assert(shards.length == Copies * 5, s"expected ${Copies * 5} parts, got ${shards.length}")
      shards.groupBy(r => (r.getInt(0), r.getInt(1))).foreach { case (_, part) =>
        assert(part.map(_.getInt(2)).sorted.toSeq == (0 until 5), "non-contiguous shards")
      }

      // 4. per-month grid-resolution inference (one aggregate grouped by
      //    (year, month); its buffer is each month's bounded distinct grid set)
      val (res, tRes) = timed {
        Climate.axisResolutions(
          Climate.withYearMonth(Climate.syntheticGrid(fixture), "ts"),
          Seq("lat" -> 0.5, "lon" -> 0.625), Seq("year", "month")).collect()
      }
      assert(res.length == Copies)
      assert(res.forall(r => r.getDouble(2) == 0.5 && r.getDouble(3) == 0.625))

      // 5. linear gap interpolation: 64 series × ~47k rows, gaps
      //    PLANTED on every 7th event (the harness stream itself has
      //    no NULL readings). Both neighbor lookups ride incremental
      //    unbounded-PRECEDING frames (ascending + descending sorts)
      //    — the naive unbounded-FOLLOWING frame re-scans the tail
      //    per row, O(n²)/partition ≈ 2.2G frame evals per series
      //    here, and does not finish in soak time
      val gapped = fixture.withColumn("value",
        when(pmod(col("event_id"), lit(7)) === 0, lit(null))
          .otherwise(col("value")))
      val (interp, tInterp) = timed {
        Climate.interpolateGaps(gapped, col("event_id") % 64)
          .agg(count(lit(1)).as("n"),
            sum(when(col("filled").isNull, 1).otherwise(0)).as("n_null"),
            sum(when(col("src") === "interp", 1).otherwise(0)).as("n_interp"))
          .head()
      }
      assert(interp.getLong(0) == n)
      // every series has observations → no row is left unfilled
      assert(interp.getLong(1) == 0L, s"unfilled rows: ${interp.getLong(1)}")
      assert(interp.getLong(2) > n / 8, "planted gaps not interpolated")

      assertShuffleBudget(log)

      val ratio = calRatio()
      val doc =
        s"""# Distributed-primitive soak (regenerated by SoakSpec)
           |
           |${Copies}× sf0.1 events fixture — ${n / 1000000.0}M rows across
           |$Copies (year,month) groups, multi-file parquet, local[4] test
           |session with 4 shuffle partitions. Listener-checked invariant:
           |no stage with ONE task read more than 32 MB of shuffle data —
           |single-task stages exist only where AQE correctly coalesces a
           |small-byte shuffle (offset/statistic aggregates, the bounded
           |distinct grid set), never absorbing a relation-sized shuffle.
           |That is the property that makes these plans survive a 100×
           |scale-up. Cal ratio = this run's machine speed vs the quiet
           |local[4] reference (median calibration probe /
           |$SoakCalibrationRefSec s; comparable across runs of this
           |same harness shape); machine-normalized wall = wall / ratio.
           |
           || primitive | rows in | wall s | cal ratio |
           ||---|---|---|---|
           || prefixSums, global (ts,event_id order) | ${n / 1000000.0}M | ${f"$tPrefix%.1f"} | ${f"$ratio%.2f"} |
           || prefixSums, grouped (80%-dominant stratum) | ${n / 1000000.0}M | ${f"$tGrouped%.1f"} | ${f"$ratio%.2f"} |
           || equiHeightHistogram (16 buckets) | ${n / 1000000.0}M | ${f"$tHist%.1f"} | ${f"$ratio%.2f"} |
           || featureCollection (20k/doc → ${Copies * 5} parts) | ${n / 1000000.0}M | ${f"$tShard%.1f"} | ${f"$ratio%.2f"} |
           || axisResolutions by (year, month) (2 axes × $Copies months) | ${n / 1000000.0}M | ${f"$tRes%.1f"} | ${f"$ratio%.2f"} |
           || interpolateGaps (64 series, incremental frames) | ${n / 1000000.0}M | ${f"$tInterp%.1f"} | ${f"$ratio%.2f"} |
           |""".stripMargin
      SoakDoc.upsert(SoakDoc.Path,
        "Distributed-primitive soak", doc)
    }
  }

  test("CC fixpoint soak: 1M planted edges, long chain converges in <= log2(n)+2 rounds") {
    // worst case for component propagation: one PATH component of 2^18
    // nodes (any label-propagation scheme needs O(diameter) rounds on
    // it; star contraction must stay O(log n)), plus 250k path-of-4
    // components — ~1.01M edges total, ~30x the sf0.1 pair fixture.
    val chainN = 262144L // 2^18 nodes, 0..chainN-1
    val fillBase = 1000000L
    val nFill = 250000L
    val chain = spark.range(0L, chainN - 1)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val fill = spark.range(0L, nFill)
      .select((lit(fillBase) + col("id") * 4).as("b"))
      .select(explode(array(
        struct(col("b").as("id_a"), (col("b") + 1).as("id_b")),
        struct((col("b") + 1).as("id_a"), (col("b") + 2).as("id_b")),
        struct((col("b") + 2).as("id_a"), (col("b") + 3).as("id_b")))).as("e"))
      .select(col("e.id_a"), col("e.id_b"))
    val edges = chain.union(fill).repartition(8)

    StageLog.record(spark) { log =>
      val t0 = System.nanoTime()
      val (cc, rounds) = Dedup.connectedComponentsWithRounds(edges)
      val total = cc.count()
      val tWall = (System.nanoTime() - t0) / 1e9

      // O(log n) convergence on the worst-case component shape
      val bound = (math.log(chainN.toDouble) / math.log(2)).ceil.toInt + 2
      assert(rounds <= bound, s"$rounds rounds > log2(n)+2 = $bound")

      // every edge-touched node labeled, exactly one root per component
      assert(total == chainN + nFill * 4, s"rows: $total")
      assert(cc.filter(col("cluster_id") === 0).count() == chainN,
        "the whole chain must collapse to cluster 0")
      assert(cc.filter(col("doc_id") === col("cluster_id")).count() == 1 + nFill)
      val wrongFill = cc.filter(col("doc_id") >= fillBase)
        .filter(col("cluster_id") =!=
          expr(s"$fillBase + ((doc_id - $fillBase) DIV 4) * 4")).count()
      assert(wrongFill == 0, s"$wrongFill filler nodes in the wrong cluster")

      val maxSingle = assertShuffleBudget(log)

      val ratio = calRatio()
      val section =
        s"""
           |## Connected-components fixpoint (regenerated by SoakSpec)
           |
           |~1.01M planted edges: one 2^18-node PATH (worst-case diameter)
           |+ 250k path-of-4 components, local[4]. Star contraction
           |converged in **$rounds rounds** (bound log2(n)+2 = $bound) in
           |${f"$tWall%.1f"} s wall (cal ratio ${f"$ratio%.2f"});
           |every chain node labeled cluster 0, one
           |root per component, all filler clusters exact. Largest
           |single-task shuffle read across the whole fixpoint:
           |${maxSingle / 1024} KB (budget ${SingleTaskShuffleBudget / 1024 / 1024} MB).
           |""".stripMargin
      SoakDoc.upsert(SoakDoc.Path,
        "Connected-components fixpoint", section)
    }
  }

  test("incremental dedup soak: 150k docs, 500-member hot cluster, exact survivors") {
    // 30× the sf0.1 documents table, with the skew a crawl-over-crawl
    // dedup actually faces: one 500-member IDENTICAL-text cluster (250
    // existing + 250 new — every band puts all 500 in ONE bucket, the
    // worst bucket-local expansion), 20k existing↔new near-dup pairs,
    // 5k new↔new pairs (earlier id must survive, later must drop), and
    // ~100k singleton docs of unique pseudo-random text. Near-dups are
    // an APPENDED token (shingle-Jaccard 28/29 ≈ 0.97: per-pair LSH
    // miss odds ~1e-7, so the survivor set is exactly computable — a
    // substituted token's j ≈ 0.81 would deterministically miss ~1% of
    // pairs through the 8×4 banding and blur the count). Asserted
    // EXACTLY, plus the standing listener invariant: no single-task
    // stage absorbs a relation-sized shuffle.
    import graft.operators.Dedup
    val vocab = 50000
    def textFor(cluster: org.apache.spark.sql.Column,
        variant: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val base = concat_ws(" ", transform(sequence(lit(0), lit(29)), k =>
        concat(lit("t"), pmod(xxhash64(cluster, k), lit(vocab)))))
      when(variant =!= 0, concat(base, lit(" v"), variant)).otherwise(base)
    }

    val existing = spark.range(0L, 100000L).select(col("id").as("doc_id"),
        when(col("id") < 250, lit(-1L))                 // hot cluster, base text
          .when(col("id") < 20250, col("id") - 249)     // pair cluster c = 1..20000
          .otherwise(col("id") + 100000L).as("cluster"), // unique singleton
        lit(0L).as("variant"))
      .select(col("doc_id"), textFor(col("cluster"), col("variant")).as("text"))
      .repartition(8)
    val newDocs = spark.range(0L, 50000L)
      .select((col("id") + 1000000L).as("doc_id"), col("id").as("nid"))
      .select(col("doc_id"), col("nid"),
        when(col("nid") < 250, lit(-1L))                       // hot: identical text → drops
          .when(col("nid") < 20250, col("nid") - 249)          // pairs an existing base → drops
          .when(col("nid") < 30250,                            // new↔new pair p = 0..4999
            (col("nid") - 20250).divide(2).cast("long") + 50000L)
          .otherwise(col("nid") + 200000L).as("cluster"),      // unique singleton
        when(col("nid") >= 250 && col("nid") < 20250,
            pmod(col("nid"), lit(28)) + 1)                     // near-dup perturbation
          .when(col("nid") >= 20250 && col("nid") < 30250 && pmod(col("nid"), lit(2)) === 1,
            pmod((col("nid") - 20250).divide(2).cast("long"), lit(28)) + 1)
          .otherwise(lit(0L)).as("variant"))
      .select(col("doc_id"), col("nid"), textFor(col("cluster"), col("variant")).as("text"))
      .repartition(8)

    StageLog.record(spark) { log =>
      val t0 = System.nanoTime()
      val survivors = Dedup.dedupIncremental(newDocs.select(col("doc_id"), col("text")), existing)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      val tWall = (System.nanoTime() - t0) / 1e9

      // exact outcome per planted relation
      def nid(s: Set[Long], lo: Long, hi: Long): Int =
        s.count(d => d - 1000000L >= lo && d - 1000000L < hi)
      assert(survivors.size == 50000 - 250 - 20000 - 5000,
        s"expected 24750 survivors, got ${survivors.size}")
      assert(nid(survivors, 0, 250) == 0, "hot-cluster new docs must all drop")
      assert(nid(survivors, 250, 20250) == 0, "docs pairing an existing base must drop")
      assert(nid(survivors, 20250, 30250) == 5000, "exactly the earlier of each new↔new pair")
      assert((20250L until 30250L by 2).forall(n => survivors.contains(1000000L + n)),
        "the EVEN (earlier-id) member of every new↔new pair must survive")
      assert(nid(survivors, 30250, 50000) == 50000 - 30250, "singletons all survive")

      assertShuffleBudget(log)

      val ratio = calRatio()
      val section =
        s"""
           |## Incremental dedup soak (regenerated by SoakSpec)
           |
           |150k docs (100k existing + 50k new crawl, 30× the sf0.1
           |documents table), skew planted: a 500-member identical-text
           |cluster spanning both sides (every LSH band collapses it to
           |ONE bucket — worst bucket-local pair expansion), 20k
           |existing↔new near-dup pairs, 5k new↔new pairs, ~100k unique
           |singletons. dedupIncremental returned the EXACT expected
           |survivor set (24,750: hot + existing-paired news all
           |dropped, earlier member of each new↔new pair kept, every
           |singleton kept) in ${f"$tWall%.1f"} s wall (cal ratio
           |${f"$ratio%.2f"}) on local[4]. Same listener invariant as
           |above: no single-task stage read a relation-sized shuffle.
           |""".stripMargin
      SoakDoc.upsert(SoakDoc.Path,
        "Incremental dedup soak", section)
    }
  }

  test("span dedup soak: 300k docs, 100% boilerplate prefix, exact cleaned corpus") {
    // 300k documents that all open with the same 9-token boilerplate
    // header (3 blocks shared by EVERY doc — the worst corpus-wide
    // block frequency) followed by a 21-token pseudo-random unique
    // tail; 10k docs are boilerplate-ONLY and must vanish. The cleaned
    // corpus is exactly computable: each surviving doc's text_clean is
    // its tail, verbatim. ~3M blocks flow through the digest-keyed
    // count/join; the standing listener invariant applies.
    import graft.operators.Dedup
    val boiler = "bp0 bp1 bp2 bp3 bp4 bp5 bp6 bp7 bp8"
    def tailFor(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      concat_ws(" ", transform(sequence(lit(0), lit(20)), k =>
        concat(lit("u"), xxhash64(id, k))))
    val docs = spark.range(0L, 300000L).select(col("id").as("doc_id"),
        when(col("id") < 10000L, lit(boiler))
          .otherwise(concat(lit(boiler + " "), tailFor(col("id")))).as("text"))
      .repartition(8)

    StageLog.record(spark) { log =>
      val t0 = System.nanoTime()
      val cleaned = Dedup.dedupSpans(docs, 3, 2)
      val expected = spark.range(10000L, 300000L).select(col("id").as("doc_id"),
        tailFor(col("id")).as("text_clean"))
      // exact corpus equality, asserted distributed: inner join on
      // (doc_id, text_clean) must cover both sides completely
      val matched = cleaned.join(expected, Seq("doc_id", "text_clean")).count()
      val total = cleaned.count()
      val tWall = (System.nanoTime() - t0) / 1e9
      assert(total == 290000L, s"expected 290000 surviving docs, got $total")
      assert(matched == 290000L,
        s"cleaned text diverges from the planted tails: $matched/290000 match")

      assertShuffleBudget(log)

      val ratio = calRatio()
      val section =
        s"""
           |## Span dedup soak (regenerated by SoakSpec)
           |
           |300k docs, every one opening with the same 9-token
           |boilerplate header (3 blocks shared corpus-wide — the worst
           |block frequency: one digest's count is 300k) plus a
           |21-token unique tail; 10k docs boilerplate-only. ~3M blocks
           |through the xxhash64-keyed count aggregate and count join.
           |dedupSpans returned EXACTLY the planted cleaned corpus
           |(290,000 docs, each text_clean its tail verbatim — inner
           |join covered both sides; boilerplate-only docs vanished) in
           |${f"$tWall%.1f"} s wall (cal ratio ${f"$ratio%.2f"}) on
           |local[4]. No single-task stage read a relation-sized
           |shuffle.
           |""".stripMargin
      SoakDoc.upsert(SoakDoc.Path,
        "Span dedup soak", section)
    }
  }

  test("BPE training soak: 1M word instances, planted first merge, monotone counts") {
    // 50k documents × 20 words = 1M word instances, ~1M distinct
    // words: every word is "zq" + 6 hex chars (md5 tail), so 'z'/'q'
    // appear ONLY as the planted prefix — merge #1 must be (z,q) with
    // pair count exactly 1M. Later merges are data-dependent; the
    // pinned invariants are determinism across re-runs and the BPE
    // monotonicity law (the winning pair count never increases with
    // rank: any pair at iteration i+1 either existed at i with count
    // ≤ best_i, or involves the just-merged symbol and is bounded by
    // its count).
    import graft.operators.TextOps
    val word = concat(lit("zq"),
      substring(md5(concat(col("id").cast("string"), lit("_"), col("w").cast("string"))), 1, 6))
    val docs = spark.range(0L, 50000L)
      .select(col("id"), explode(sequence(lit(1), lit(20))).as("w"))
      .groupBy(col("id")).agg(concat_ws(" ", collect_list(word)).as("text"))
      .select(col("id").as("doc_id"), col("text"))
      .repartition(8)

    StageLog.record(spark) { log =>
      val t0 = System.nanoTime()
      val merges = TextOps.bpeTrain(docs, 8)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4))).toSeq
      val tWall = (System.nanoTime() - t0) / 1e9
      assert(merges.length == 8, s"expected 8 merges, got ${merges.length}")
      assert(merges.head == ((1L, "z", "q", "zq", 1000000L)),
        s"planted first merge wrong: ${merges.head}")
      val counts = merges.map(_._5)
      assert(counts.zip(counts.tail).forall { case (a, b) => b <= a },
        s"pair counts must be non-increasing over ranks: $counts")
      val (_, tAgain) = {
        val t1 = System.nanoTime()
        val again = TextOps.bpeTrain(docs, 8)
          .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
            r.getString(3), r.getLong(4))).toSeq
        assert(again == merges, "merge table must be deterministic across re-runs")
        ((), (System.nanoTime() - t1) / 1e9)
      }

      assertShuffleBudget(log)

      val ratio = calRatio()
      val section =
        s"""
           |## BPE training soak (regenerated by SoakSpec)
           |
           |1M word instances (50k docs × 20 words, ~1M distinct
           |words of "zq" + 6 hex chars) through 8 distributed BPE
           |merge iterations: one corpus pass builds the (word, freq)
           |vocabulary, every iteration then pair-counts and merges on
           |the VOCAB only. Merge #1 was the planted (z, q) at pair
           |count exactly 1,000,000; winning counts were non-increasing
           |over ranks (the BPE monotonicity law) and the full merge
           |table replayed identically on a second run
           |(${f"$tWall%.1f"} s first, ${f"$tAgain%.1f"} s warm,
           |cal ratio ${f"$ratio%.2f"}) on local[4]. The per-iteration
           |argmax is a 1-row TakeOrdered; no single-task stage read a
           |relation-sized shuffle.
           |""".stripMargin
      SoakDoc.upsert(SoakDoc.Path,
        "BPE training soak", section)
    }
  }

  test("ANN soak: 500k vectors through IVF-PQ, planted neighbors surface") {
    // 1000× the harness embeddings table: 500k deterministic
    // pseudo-random 64-dim vectors plus 10 tiny-jitter near-copies of
    // the query planted at high ids. The full composition runs at this
    // scale — centroid assignment (broadcast 64-centroid table), PQ
    // encode (broadcast codebooks + min_by argmin), candidate-pruned
    // ADC, exact rerank — and must (a) surface every plant, (b) keep
    // the standing listener invariant: no single-task stage absorbs a
    // relation-sized shuffle (the per-vector passes are all broadcast
    // joins + partial aggregates; the only rows that ever reach a
    // single task are the top-k heads).
    import graft.operators.Similarity
    val n = 500000L
    val dim = 64
    val mkVec = (seed: org.apache.spark.sql.Column) =>
      transform(sequence(lit(0), lit(dim - 1)),
        k => pmod(xxhash64(seed, k), lit(1000)).cast("double") / 500.0 - 1.0)
    val base = spark.range(0L, n).select(col("id").as("vec_id"), mkVec(col("id")).as("v"))
    // plants: query 7's vector + a per-plant jitter of ±0.01 per axis —
    // cosine ≈ 0.9997, far above the noise background (≲0.4)
    val plants = spark.range(0L, 10L).select(
      (col("id") + 900000L).as("vec_id"),
      zip_with(mkVec(lit(7L)), mkVec(col("id") + 12345),
        (x, j) => x + j / 100.0).as("v"))
    val emb = base.unionByName(plants).repartition(8)

    StageLog.record(spark) { log =>
      // deployment shape: quantizers train ONCE at ingest (k-means
      // refinement of centroids + codebooks) and every probe reuses
      // them — time the two phases separately, as a cluster would
      // account them
      val tTrain0 = System.nanoTime()
      val cents = Similarity.centroids(emb, 64)
      val books = Similarity.pqCodebooks(emb)
      val tTrain = (System.nanoTime() - tTrain0) / 1e9
      val t0 = System.nanoTime()
      val top = Similarity.ivfPqTopK(emb, 7L, 16, nCentroids = 64, nProbe = 8,
          cents = Some(cents), books = Some(books))
        .collect().map(_.getLong(0))
      val tWall = (System.nanoTime() - t0) / 1e9
      assert(top.head == 7L, s"query must rank itself first: ${top.toSeq}")
      val plantIds = (0L until 10L).map(_ + 900000L).toSet
      val found = plantIds.intersect(top.toSet).size
      assert(found == 10, s"$found/10 plants in top-16: ${top.toSeq}")

      assertShuffleBudget(log)

      val ratio = calRatio()
      val section =
        s"""
           |## ANN / IVF-PQ soak (regenerated by SoakSpec)
           |
           |500k deterministic 64-dim vectors (1000× the harness
           |embeddings table) + 10 planted near-copies (cos ≈0.9997) of
           |the query. Full IVF-PQ composition at 64 centroids / 8
           |probes / 8×16 PQ: k-means training (2 Lloyd iterations for
           |centroids AND codebooks, the once-per-ingest cost)
           |${f"$tTrain%.1f"} s, then centroid assignment, codebook
           |encode, candidate-pruned ADC, exact rerank — query first,
           |**10/10 plants in the top-16**, ${f"$tWall%.1f"} s wall
           |(cal ratio ${f"$ratio%.2f"}) on local[4].
           |Same listener invariant as above: every per-vector pass is
           |broadcast-join + partial aggregate; no single-task stage
           |read a relation-sized shuffle.
           |""".stripMargin
      SoakDoc.upsert(SoakDoc.Path,
        "ANN / IVF-PQ soak", section)
    }
  }

  test("newcomer soak: weighted median / gini / event paths / null-safe join / batch dedup / payload stats at 3M rows") {
    // The round-9 additions had oracle coverage but no scale soak.
    // Every plant here is EXACTLY computable:
    //  - 3M (grp, v, wt) rows, 80% in one dominant group, v uniform
    //    over 800 residues → closed-form weighted medians; a planted
    //    1000× weight mass at v=123 must drag the dominant group's
    //    weighted median from 497 to 123 while the small groups
    //    (which lack v=123) stay put;
    //  - gini vs a locally-computed closed form over the (value,
    //    count) blocks (rank sums are block-permutation-invariant);
    //  - 100k users × 30 events of a cyclic A,B,C stream → top path
    //    (A,B,C) exactly 1M, (B,C,A)/(C,A,B) exactly 900k;
    //  - first-occurrence dedup: 300k (user,type) groups, survivor
    //    event_id = user*30 + {0,1,2} by construction;
    //  - NULL-heavy null-safe join (50% unknown keys — the scaladoc's
    //    skew-hazard shape) against an 11-row dim: exactly 3M matches,
    //    timed BROADCAST vs forced-SHUFFLE so the "salt/broadcast if
    //    unknowns dominate" note carries a measured row;
    //  - payload dedup stats: 100k distinct contents × 30 copies →
    //    dup_rate exactly 1 − 1/30, bytes_total = 30 × bytes_stored.
    import graft.operators.{Aggregations, Joins, Multimodal, Windows}
    import graft.streaming.Streaming

    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }

    StageLog.record(spark) { log =>
      val n = 3000000L

      // ---- weighted median + gini under dominant-group skew ----
      val wm = spark.range(n).select(col("id"),
        when(pmod(col("id"), lit(10)) < 8, lit("big"))
          .otherwise(concat(lit("s"), pmod(col("id"), lit(10)))).as("grp"),
        pmod(col("id"), lit(1000)).cast("double").as("v"))
      val base = wm.withColumn("wt", lit(1.0))
      val (medBase, tMedBase) = timed {
        Aggregations.weightedMedian(base, col("grp"), col("v"), col("wt"),
          Seq(col("id"))).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      }
      // closed form: residues r with r%10<8 (big) / ==8 / ==9, 3000
      // rows each; half-mass lands at eligible-value index 399 / 49
      assert(medBase == Map("big" -> 497.0, "s8" -> 498.0, "s9" -> 499.0),
        s"uniform-weight medians: $medBase")
      val planted = wm.withColumn("wt",
        when(col("v") === 123.0, lit(1000.0)).otherwise(lit(1.0)))
      val (medPlant, tMedPlant) = timed {
        Aggregations.weightedMedian(planted, col("grp"), col("v"), col("wt"),
          Seq(col("id"))).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      }
      assert(medPlant == Map("big" -> 123.0, "s8" -> 498.0, "s9" -> 499.0),
        s"mass-planted medians: $medPlant")

      def giniClosed(residues: Seq[Long], cnt: Long): Double = {
        var rank = 0L; var s = 0.0; var nn = 0L; var sx = 0.0
        residues.sorted.foreach { r =>
          s += r.toDouble * (cnt.toDouble * rank + cnt.toDouble * (cnt + 1) / 2.0)
          rank += cnt; nn += cnt; sx += r.toDouble * cnt
        }
        BigDecimal(2.0 * s / (nn * sx) - (nn + 1.0) / nn)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      val (gini, tGini) = timed {
        Aggregations.groupGini(base, col("grp"), col("v"), Seq(col("id")))
          .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
      }
      val want = Map(
        "big" -> giniClosed((0L until 1000L).filter(_ % 10 < 8), 3000L),
        "s8" -> giniClosed((0L until 1000L).filter(_ % 10 == 8), 3000L),
        "s9" -> giniClosed((0L until 1000L).filter(_ % 10 == 9), 3000L))
      assert(gini == want, s"gini: $gini vs closed-form $want")

      // ---- event paths + batch stream-dedup over a 3M event stream ----
      val nUsers = 100000L
      val ev = spark.range(n).select(
        col("id").as("event_id"),
        expr("id div 30").as("user_id"),
        pmod(col("id"), lit(30)).cast("int").as("i"))
        .select(col("event_id"), col("user_id"),
          expr("timestampadd(SECOND, i, timestamp'2023-01-01 00:00:00')").as("ts"),
          element_at(array(lit("A"), lit("B"), lit("C")),
            (col("i") % 3 + 1).cast("int")).as("event_type"))
        .repartition(8)
      val (paths, tPaths) = timed {
        Windows.eventPaths(ev, 5).collect()
          .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
      }
      assert(paths.take(3).toSeq == Seq(
        ("A", "B", "C", 10L * nUsers),
        ("B", "C", "A", 9L * nUsers),
        ("C", "A", "B", 9L * nUsers)), s"top paths: ${paths.take(3).toSeq}")
      val (fo, tFo) = timed {
        val f = Streaming.firstOccurrence(ev)
        val expectedId = col("user_id") * 30 +
          when(col("event_type") === "A", 0)
            .when(col("event_type") === "B", 1).otherwise(2)
        (f.count(), f.filter(col("first_event_id") =!= expectedId).count())
      }
      assert(fo == ((3 * nUsers, 0L)), s"first-occurrence (groups, wrong): $fo")

      // ---- NULL-heavy null-safe join: broadcast vs forced shuffle ----
      val left = spark.range(n).select(col("id"),
        when(pmod(col("id"), lit(20)) < 10, pmod(col("id"), lit(20)))
          .otherwise(lit(null)).cast("long").as("k")).repartition(8)
      val dim = spark.range(11L).select(
        when(col("id") === 10, lit(null)).otherwise(col("id"))
          .cast("long").as("dk"),
        concat(lit("name"), col("id")).as("name"))
      val (nBcast, tBcast) = timed {
        Joins.nullSafeJoin(left, col("k"), broadcast(dim), col("dk")).count()
      }
      assert(nBcast == n, s"broadcast null-safe matches: $nBcast")
      val (nShuf, tShuf) = timed {
        Joins.nullSafeJoin(left, col("k"), dim.hint("shuffle_hash"), col("dk")).count()
      }
      assert(nShuf == n, s"shuffle null-safe matches: $nShuf")

      // ---- payload dedup stats: 30-copy content-addressed corpus ----
      val docs = spark.range(n).select(col("id").as("doc_id"),
        concat(lit("payload content "), pmod(col("id"), lit(100000L))).as("text"))
        .repartition(8)
      val (stats, tStats) = timed {
        Multimodal.payloadDedupStats(docs).collect()
      }
      assert(stats.length == 1)
      val st = stats.head
      assert(st.getString(0) == "text/plain" && st.getLong(1) == n
        && st.getLong(2) == 100000L && st.getDouble(3) == 0.966667,
        s"payload stats row: ${st.toSeq}")
      assert(st.getLong(4) == 30L * st.getLong(5),
        s"bytes_total ${st.getLong(4)} != 30 × bytes_stored ${st.getLong(5)}")

      assertShuffleBudget(log)

      val ratio = calRatio()
      val section =
        s"""
           |## Round-9 newcomer soak (regenerated by SoakSpec)
           |
           |3M-row fixtures, local[4], every outcome closed-form exact.
           |Weighted median under an 80%-dominant group: uniform-weight
           |medians (497/498/499) exact, and a planted 1000× weight mass
           |at v=123 dragged the dominant group's median to 123 while the
           |small groups stayed put. Gini matched the locally-computed
           |closed form in all three groups to 6 dp. Event paths over a
           |100k-user cyclic stream: top-3 counts exactly (1,000,000 /
           |900,000 / 900,000). Batch stream-dedup: 300k (user,type)
           |groups, zero wrong survivors. NULL-heavy null-safe join (50%
           |unknown keys, 11-row dim): 3,000,000 matches on BOTH plans —
           |broadcast ${f"$tBcast%.1f"} s vs forced shuffle-hash
           |${f"$tShuf%.1f"} s; the broadcast plan never shuffles the
           |NULL-heavy side at all, the measured form of the scaladoc's
           |"broadcast small dims / salt large ones when unknowns
           |dominate" note. Payload dedup stats (100k contents × 30
           |copies): dup_rate exactly 0.966667, bytes_total = 30 ×
           |bytes_stored. Same listener invariant as above: no
           |single-task stage read a relation-sized shuffle.
           |
           || operator | rows in | wall s | cal ratio |
           ||---|---|---|---|
           || weightedMedian (uniform wt) | 3.0M | ${f"$tMedBase%.1f"} | ${f"$ratio%.2f"} |
           || weightedMedian (planted mass) | 3.0M | ${f"$tMedPlant%.1f"} | ${f"$ratio%.2f"} |
           || groupGini (3 groups) | 3.0M | ${f"$tGini%.1f"} | ${f"$ratio%.2f"} |
           || eventPaths (top-5) | 3.0M | ${f"$tPaths%.1f"} | ${f"$ratio%.2f"} |
           || firstOccurrence (300k keys) | 3.0M | ${f"$tFo%.1f"} | ${f"$ratio%.2f"} |
           || nullSafeJoin broadcast | 3.0M | ${f"$tBcast%.1f"} | ${f"$ratio%.2f"} |
           || nullSafeJoin shuffle-hash (NULL skew) | 3.0M | ${f"$tShuf%.1f"} | ${f"$ratio%.2f"} |
           || payloadDedupStats | 3.0M | ${f"$tStats%.1f"} | ${f"$ratio%.2f"} |
           |""".stripMargin
      SoakDoc.upsert(SoakDoc.Path,
        "Round-9 newcomer soak", section)
    }
  }

  test("newcomer soak r10: fuzzy join / TWA / rolling median / markov / decay / intervals / active users at 3M rows") {
    // Round-10 additions, each with an EXACTLY computable plant:
    //  - fuzzy join: 1M names in 100k (block)-groups of 10 built so
    //    every within-block pair is a near-dup by construction →
    //    exactly 4.5M pairs, 2.5M at distance 1 and 2M at distance 2;
    //  - time-weighted avg: 100 series × 30k one-second-held
    //    alternating 0/10 values → twa 149990/29999 per series, mean 5;
    //  - rolling median: cyclic 0..4 per 30-row series → per-series
    //    median sum exactly 55, global 5.5M;
    //  - markov: cyclic A,B,C per 30-event user → exactly three
    //    transition rows, each with probability 1.0;
    //  - decayed sum: ages 0..29 days at weight 30/(30+age) → the same
    //    closed-form Σ for every one of 100k entities;
    //  - interval coalesce: alternating long/short overlapping
    //    intervals → exactly 15 merged spans per user, covered 15,
    //    n_merged 2;
    //  - rolling active users: 1M users on a residue-day lattice →
    //    DAU exactly 100k every day, trailing-7 exactly
    //    min(d+1,7)×100k.
    import graft.operators.{Aggregations, Joins}

    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }
    StageLog.record(spark) { log =>
      val n = 3000000L

      // ---- blocked fuzzy join: 1M rows, all-pairs-in-block plant ----
      val parts = spark.range(1000000L).select(col("id"),
          expr("id div 2").as("k"))
        .select(col("id"),
          pmod(col("k"), lit(100000L)).as("blk"),
          concat(
            when(col("id") % 2 === 0, lit("part name ")).otherwise(lit("part nam ")),
            lpad(col("k").cast("string"), 6, "0")).as("name"))
        .repartition(8)
      val (fz, tFz) = timed {
        Joins.fuzzySelfJoin(parts, col("id"), Seq(col("blk")), col("name"),
            maxDist = 3)
          .groupBy(col("dist")).agg(count(lit(1)).as("c"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      assert(fz == Map(1L -> 2500000L, 2L -> 2000000L),
        s"fuzzy pair histogram: $fz")

      // ---- time-weighted average: alternating held values ----
      val twaIn = spark.range(n).select(
        expr("id div 30000").as("sid"),
        col("id").as("event_id"),
        expr("timestamp_micros((id % 30000) * 1000000)").as("ts"),
        (pmod(col("id"), lit(2)) * 10.0).as("value")).repartition(8)
      val (twa, tTwa) = timed {
        Climate.timeWeightedAvg(twaIn, col("sid")).collect()
          .map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      }
      val twaExpect = BigDecimal(149990.0 / 29999.0)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(twa.length == 100 &&
        twa.forall(_ == ((30000L, twaExpect, 5.0))),
        s"twa rows (expect ($twaExpect, 5.0) × 100): ${twa.take(3).toSeq}")

      // ---- rolling median: cyclic series, exact global sum ----
      val rmIn = spark.range(n).select(
        expr("id div 30").as("sid"), col("id").as("event_id"),
        expr("timestamp_micros((id % 30) * 1000000)").as("ts"),
        pmod(col("id"), lit(5)).cast("double").as("value")).repartition(8)
      val (rmSum, tRm) = timed {
        Windows.rollingMedian(rmIn, col("event_id"), col("sid"), col("ts"),
            col("value"))
          .agg(sum(col("rolling_med"))).head.getDouble(0)
      }
      assert(rmSum == 5500000.0, s"rolling-median global sum: $rmSum")

      // ---- markov transitions: cyclic A,B,C, probabilities all 1 ----
      val mkIn = spark.range(n).select(
        col("id").as("event_id"), expr("id div 30").as("user_id"),
        expr("timestamp_micros((id % 30) * 1000000)").as("ts"),
        element_at(array(lit("A"), lit("B"), lit("C")),
          (pmod(col("id"), lit(30)) % 3 + 1).cast("int")).as("event_type"))
        .repartition(8)
      val (mk, tMk) = timed {
        Windows.markovTransitions(mkIn).collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      }
      assert(mk.toSeq == Seq(("A", "B", 1000000L, 1.0),
        ("B", "C", 1000000L, 1.0), ("C", "A", 900000L, 1.0)),
        s"transition rows: ${mk.toSeq}")

      // ---- decayed sum: 30 known ages per entity ----
      val dcIn = spark.range(n).select(
        expr("id div 30").as("e"),
        expr("date_sub(date'2024-03-01', CAST(id % 30 AS INT))").as("dt"),
        lit(1.0).as("v")).repartition(8)
      val (dc, tDc) = timed {
        val r = Aggregations.decayedSum(dcIn, col("e"), col("dt"), col("v"))
        (r.count(),
          r.select(countDistinct(col("decayed_value"))).head.getLong(0),
          r.select(min(col("decayed_value"))).head.getDouble(0))
      }
      val dcExpect = BigDecimal((0 until 30).map(i => 30.0 / (30 + i)).sum)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(dc == ((100000L, 1L, dcExpect)),
        s"decayed (entities, distinct values, value): $dc vs $dcExpect")

      // ---- interval coalesce: alternating long/short overlaps ----
      val ivIn = spark.range(n).select(
        expr("id div 30").as("u"),
        (pmod(col("id"), lit(30)) * 10L).as("s"),
        (pmod(col("id"), lit(30)) * 10L +
          when(col("id") % 2 === 0, 15L).otherwise(5L)).as("e"))
        .repartition(8)
      val (iv, tIv) = timed {
        val r = Windows.coalesceIntervals(ivIn, col("u"), col("s"), col("e"))
        r.agg(count(lit(1)), min(col("covered_us")), max(col("covered_us")),
            min(col("n_merged")), max(col("n_merged"))).head
      }
      assert((iv.getLong(0), iv.getLong(1), iv.getLong(2), iv.getLong(3),
        iv.getLong(4)) == ((1500000L, 15L, 15L, 2L, 2L)),
        s"interval spans (count, covered range, merged range): $iv")

      // ---- rolling active users: residue-day lattice ----
      val auIn = spark.range(n).select(
        pmod(col("id"), lit(1000000L)).as("user_id"),
        expr("""timestampadd(DAY,
          CAST(pmod(id, 1000000) % 10 + 10 * (id div 1000000) AS INT),
          timestamp'2024-01-01 12:00:00')""").as("ts")).repartition(8)
      val (au, tAu) = timed {
        Aggregations.rollingActiveUsers(auIn).collect()
          .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
      }
      val auExpect = (0 until 30).map { d =>
        (java.time.LocalDate.of(2024, 1, 1).plusDays(d).toString,
          100000L, math.min(d + 1, 7).toLong * 100000L)
      }
      assert(au.toSeq == auExpect, s"active users head: ${au.take(8).toSeq}")

      assertShuffleBudget(log)

      val ratio = calRatio()
      val section =
        s"""
           |## Round-10 newcomer soak (regenerated by SoakSpec)
           |
           |3M-row fixtures (1M for the fuzzy join), local[4], every
           |outcome closed-form exact. Blocked fuzzy join over 100k
           |10-row blocks built so every within-block pair is a near-dup:
           |exactly 4,500,000 pairs split 2.5M/2.0M across distances 1/2
           |— the block-local quadratic at its worst-case density, no
           |all-pairs stage. Time-weighted avg over 100 series × 30k
           |one-second-held alternating values: every series exactly
           |149990/29999 (≈4.9998), naive mean exactly 5.0 — the
           |statistic a plain avg() gets wrong, held to 4 dp at scale.
           |Rolling median over 100k cyclic series: global sum exactly
           |5.5M. Markov transitions over 100k cyclic users: exactly
           |three rows, each probability 1.0. Decayed sum over 100k
           |entities × ages 0..29 d: ONE distinct rounded value across
           |all entities, equal to the closed-form Σ 30/(30+i). Interval
           |coalesce over alternating long/short overlaps: exactly 15
           |spans per user (1.5M total), covered 15 and n_merged 2 in
           |every span. Rolling active users on a 1M-user residue-day
           |lattice: DAU exactly 100k every day, trailing-7 exactly
           |min(d+1,7)×100k. Same listener invariant as above: no
           |single-task stage read a relation-sized shuffle.
           |
           || operator | rows in | wall s | cal ratio |
           ||---|---|---|---|
           || fuzzySelfJoin (worst-case blocks) | 1.0M | ${f"$tFz%.1f"} | ${f"$ratio%.2f"} |
           || timeWeightedAvg (100 series) | 3.0M | ${f"$tTwa%.1f"} | ${f"$ratio%.2f"} |
           || rollingMedian (100k series) | 3.0M | ${f"$tRm%.1f"} | ${f"$ratio%.2f"} |
           || markovTransitions (100k users) | 3.0M | ${f"$tMk%.1f"} | ${f"$ratio%.2f"} |
           || decayedSum (100k entities) | 3.0M | ${f"$tDc%.1f"} | ${f"$ratio%.2f"} |
           || coalesceIntervals (100k users) | 3.0M | ${f"$tIv%.1f"} | ${f"$ratio%.2f"} |
           || rollingActiveUsers (1M users) | 3.0M | ${f"$tAu%.1f"} | ${f"$ratio%.2f"} |
           |""".stripMargin
      SoakDoc.upsert(SoakDoc.Path,
        "Round-10 newcomer soak", section)
    }
  }

  test("adversarial soak r11: flash-crowd bucket / oversized fuzzy block / dominant asof user / bitmap cardinality / label-skewed negatives") {
    // The r10 newcomers rerun under the DATA SHAPES that break naive
    // plans, each with a closed-form exact outcome:
    //  - interval-overlap: 2,000 sessions live in ONE bucket (flash
    //    crowd) behind 1M quiet ones → exactly C(2000,2) = 1,999,000
    //    pairs, every overlap 1000 µs — the bucket-equi join's locally
    //    quadratic worst case is the OUTPUT's size, and the listener
    //    invariant must hold around it;
    //  - fuzzy join: one 3,000-member block (vs the normal 10s) →
    //    C(3000,2) = 4,498,500 extra pairs, all distance 0;
    //  - asof tolerance/nearest: one user owns 90% of 3M events →
    //    a 2.7M-row window partition on one task; ±1 s view/purchase
    //    lattice makes every dt exactly ±1,000,000 µs, and the
    //    tolerance flips ALL matches between the two runs;
    //  - bitmap distinct: 3 groups × 1M distinct ids each (every id
    //    3×-duplicated across groups) → exactly 1,000,000 per group;
    //  - negative sampling: 99%/1% label skew → the modular probe
    //    chain yields EXACTLY 80,000 majority rows (8 of 100 id
    //    residues find their one minority probe) and 40,000 minority
    //    rows (all probes hit the majority, capped at k=4).
    import graft.operators.{Aggregations, Joins, Similarity}

    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }
    StageLog.record(spark) { log =>
      // ---- interval-overlap flash crowd: one hot bucket ----
      val hourUs = 3600L * 1000000
      val hot = spark.range(2000).select(col("id").as("u"),
        col("id").as("sid"), lit(0L).as("s"), lit(1000L).as("e"))
      val quiet = spark.range(1000000L).select(
        (col("id") + 10000L).as("u"), (col("id") + 10000L).as("sid"),
        ((col("id") + 1L) * hourUs + 10L).as("s"),
        ((col("id") + 1L) * hourUs + 1010L).as("e"))
      val ivIn = hot.unionByName(quiet).repartition(8)
      // one untimed warm-up so neither timed path eats the suite's
      // cold JIT/codegen (the salted plan runs three jobs — census,
      // broadcast, join — and absorbed ~7 s of first-run compilation
      // before this warm-up existed)
      Joins.intervalOverlapJoin(ivIn, col("u"), col("sid"), col("s"),
        col("e"), bucketUs = hourUs).agg(count(lit(1))).head
      // default path: the occupancy census finds the 2k-deep bucket
      // and salts it 32 ways — the C(2000,2) probe work spreads over
      // 32 tasks instead of serializing on one
      val (iv, tIv) = timed {
        Joins.intervalOverlapJoin(ivIn, col("u"), col("sid"), col("s"),
            col("e"), bucketUs = hourUs)
          .agg(count(lit(1)), min(col("overlap_us")), max(col("overlap_us"))).head
      }
      assert((iv.getLong(0), iv.getLong(1), iv.getLong(2)) ==
        ((1999000L, 1000L, 1000L)), s"flash-crowd census: $iv")
      // unsalted legacy path on the same fixture: identical census
      val (ivU, tIvU) = timed {
        Joins.intervalOverlapJoin(ivIn, col("u"), col("sid"), col("s"),
            col("e"), bucketUs = hourUs, hotBucketOcc = 0)
          .agg(count(lit(1)), min(col("overlap_us")), max(col("overlap_us"))).head
      }
      assert((ivU.getLong(0), ivU.getLong(1), ivU.getLong(2)) ==
        ((1999000L, 1000L, 1000L)), s"flash-crowd census (unsalted): $ivU")

      // ---- fuzzy join: one oversized block among 100k normal ones ----
      val bg = spark.range(1000000L).select(col("id"),
        expr("id div 10").as("blk"),
        concat(lit("part "), lpad(expr("id div 10").cast("string"), 6, "0"))
          .as("name"))
      val hotBlk = spark.range(3000).select((col("id") + 1000000L).as("id"),
        lit(200000L).as("blk"), lit("hot part name").as("name"))
      val fzIn = bg.unionByName(hotBlk).repartition(8)
      val (fz, tFz) = timed {
        Joins.fuzzySelfJoin(fzIn, col("id"), Seq(col("blk")), col("name"),
            maxDist = 2)
          .groupBy(col("dist")).agg(count(lit(1)).as("c"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      assert(fz == Map(0L -> 8998500L), s"fuzzy pair histogram: $fz")

      // ---- fuzzy join: oversized block with VARIED lengths (r14) ----
      // One 3,200-member block of 32 length classes × 100 identical
      // members, lengths stepping by 3 (> maxDist=2), so every
      // cross-class pair fails the length band. The r14 banded equi
      // key confines candidate generation to within-band cells
      // (32·C(100,2) = 158,400 true dist-0 pairs + ~313k adjacent-band
      // candidates pruned by the length filter) instead of expanding
      // all C(3200,2) = 5,118,400 in-block pairs the r13
      // post-expansion filter paid for. Exact outcome: bg 4.5M dist-0
      // + 158,400 dist-0 from the hot block.
      val varBlk = spark.range(3200).select((col("id") + 2000000L).as("id"),
        lit(300000L).as("blk"),
        expr("repeat('x', CAST(10 + 3 * (id % 32) AS INT))").as("name"))
      val fzIn2 = bg.unionByName(varBlk).repartition(8)
      val (fz2, tFz2) = timed {
        Joins.fuzzySelfJoin(fzIn2, col("id"), Seq(col("blk")), col("name"),
            maxDist = 2)
          .groupBy(col("dist")).agg(count(lit(1)).as("c"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      assert(fz2 == Map(0L -> 4658400L), s"varied-length fuzzy histogram: $fz2")

      // ---- asof under a dominant user: 90% of events on one key ----
      val n = 3000000L
      val asofIn = spark.range(n).select(
        col("id").as("event_id"),
        when(col("id") < 2700000L, 0L).otherwise(col("id")).as("user_id"),
        expr("timestamp_micros(id * 1000000)").as("ts"),
        when(col("id") < 2700000L && col("id") % 2 === 1, lit("purchase"))
          .otherwise(lit("view")).as("event_type")).repartition(8)
      val (tol, tTol) = timed {
        val wide = Joins.asofTolerance(asofIn, tolUs = 1500000L)
          .agg(count(lit(1)), countDistinct(col("dt_us")), min(col("dt_us"))).head
        val narrow = Joins.asofTolerance(asofIn, tolUs = 500000L)
          .agg(count(lit(1)), count(col("matched_ts"))).head
        (wide.getLong(0), wide.getLong(1), wide.getLong(2),
          narrow.getLong(0), narrow.getLong(1))
      }
      assert(tol == ((1350000L, 1L, 1000000L, 1350000L, 0L)),
        s"asof tolerance (rows, distinct dt, dt, rows, matched@narrow): $tol")
      val (near, tNear) = timed {
        Joins.asofNearest(asofIn)
          .agg(count(lit(1)), countDistinct(col("dt_us")), min(col("dt_us"))).head
      }
      assert((near.getLong(0), near.getLong(1), near.getLong(2)) ==
        ((1350000L, 1L, -1000000L)), s"asof nearest: $near")

      // ---- bitmap distinct: 3 groups × 1M distinct, ids 3x-duplicated ----
      val bmIn = spark.range(n).select(pmod(col("id"), lit(3)).as("grp"),
        expr("id div 3").as("v")).repartition(8)
      val (bm, tBm) = timed {
        Aggregations.bitmapDistinct(bmIn, col("grp"), col("v"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      }
      assert(bm == Seq((0L, 1000000L), (1L, 1000000L), (2L, 1000000L)),
        s"bitmap per-group distinct: $bm")

      // ---- negative sampling on a 99/1 label-skewed corpus ----
      val negIn = spark.range(1000000L).select(col("id").as("vec_id"),
        when(col("id") % 100 === 0, lit("minor")).otherwise(lit("major"))
          .as("label")).repartition(8)
      val (neg, tNeg) = timed {
        Similarity.negativeSample(negIn, k = 4, probes = 8)
          .groupBy(col("vec_id") % 100 === 0).agg(count(lit(1)).as("c"))
          .collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
      }
      assert(neg == Map(false -> 80000L, true -> 40000L),
        s"negatives by anchor class (major, minor): $neg")

      assertShuffleBudget(log)

      val ratio = calRatio()
      val section =
        s"""
           |## Round-11 adversarial soak (regenerated by SoakSpec)
           |
           |The r10 newcomers under the data shapes that break naive
           |plans; every outcome closed-form exact, same single-task
           |shuffle-budget listener invariant as the other soaks.
           |Flash-crowd interval overlap: 2,000 sessions concurrent in
           |ONE hourly bucket behind 1M quiet sessions — exactly
           |C(2000,2) = 1,999,000 pairs, all 1000 µs, from BOTH paths:
           |the default occupancy-census salting (hot bucket split 32
           |ways) and the unsalted legacy plan (one locally quadratic
           |task) — identical output, both warm-timed. At this 2k
           |depth the pair work is small, so the rows mostly bound the
           |salting machinery's overhead (census job + broadcast hot
           |probe); the shape where salting pays is the sf1 sweep's
           |dense-every-bucket fixture (23.6 → 7.8 s at local[32],
           |q_join_interval_overlap).
           |Oversized fuzzy block: one 3,000-member block among 100k
           |10-member blocks — the extra C(3000,2) pairs all surface at
           |distance 0, total exactly 8,998,500 (same-length members:
           |the quadratic here IS the output — irreducible by any
           |banding). Varied-length oversized block (r14): 3,200
           |members in 32 length classes stepping by 3 > maxDist — the
           |length-band equi key generates only within-band +
           |adjacent-band candidates (~471k) instead of the r13 form's
           |C(3200,2) = 5,118,400 post-expansion-filtered pairs;
           |exactly 32·C(100,2) = 158,400 hot dist-0 pairs on top of
           |the bg 4.5M. Dominant asof user:
           |one user owns 2.7M of 3M events (a single 2.7M-row window
           |partition — inherent key skew, it must complete, not
           |collapse); the ±1 s lattice makes every backward dt exactly
           |+1 s, every nearest dt exactly −1 s, and the 0.5 s
           |tolerance run NULLs ALL 1.35M matches while keeping their
           |rows. Bitmap distinct with every id 3×-duplicated across 3
           |groups: exactly 1M per group. Negative sampling on a 99/1
           |label-skewed corpus: the modular probe chain admits exactly
           |80,000 majority-anchor rows (8 of 100 residues) + 40,000
           |minority rows (capped at k=4) — scarcity changes counts,
           |never determinism.
           |
           || operator | rows in | wall s | cal ratio |
           ||---|---|---|---|
           || intervalOverlapJoin (flash crowd, salted) | 1.0M | ${f"$tIv%.1f"} | ${f"$ratio%.2f"} |
           || intervalOverlapJoin (flash crowd, unsalted) | 1.0M | ${f"$tIvU%.1f"} | ${f"$ratio%.2f"} |
           || fuzzySelfJoin (3k-member block) | 1.0M | ${f"$tFz%.1f"} | ${f"$ratio%.2f"} |
           || fuzzySelfJoin (varied-length 3.2k block, banded) | 1.0M | ${f"$tFz2%.1f"} | ${f"$ratio%.2f"} |
           || asofTolerance ×2 (dominant user) | 3.0M | ${f"$tTol%.1f"} | ${f"$ratio%.2f"} |
           || asofNearest (dominant user) | 3.0M | ${f"$tNear%.1f"} | ${f"$ratio%.2f"} |
           || bitmapDistinct (3×1M distinct) | 3.0M | ${f"$tBm%.1f"} | ${f"$ratio%.2f"} |
           || negativeSample (99/1 skew) | 1.0M | ${f"$tNeg%.1f"} | ${f"$ratio%.2f"} |
           |""".stripMargin
      SoakDoc.upsert(SoakDoc.Path,
        "Round-11 adversarial soak", section)
    }
  }

  test("newcomer soak r11b: rank-sum / label propagation / Holt / vocab growth at scale") {
    // The round-11 additions under scale shapes with closed-form
    // exact outcomes:
    //  - mannWhitney: 1M users with 1M DISTINCT per-user values (the
    //    rank grid is user-sized — the distributed prefix sum is the
    //    load-bearing piece, not tie collapse): ranks are u+1, so
    //    R_a = Σ_{even u}(u+1) = 500000² exactly and U_a/U_b/z have
    //    closed forms replayed below with the same double chain;
    //  - labelPropagation: 100k disjoint 5-cliques (500k nodes, 1M
    //    edges) — hand induction: round 1 sends the min node to its
    //    second-smallest, round 2 lands every node on the clique min,
    //    rounds 3-4 are stable ⇒ community = 5·(node div 5), size 5;
    //  - holtTrend: 1,000 series × 3,000 days of EXACTLY linear
    //    integer-valued series (slope s%7+1, intercept s) — the fold
    //    is exact on a line with exact-binary α,β, so level/trend/
    //    forecast equal the closed forms with zero tolerance;
    //  - vocabGrowth: 300k docs, each "the t<id> m<id mod 1000>" —
    //    at checkpoint k = 30000·i: tokens 3k, types k + 1001.
    import graft.operators.{Aggregations, Climate, Graph, TextOps}

    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }
    StageLog.record(spark) { log =>
      // ---- Mann-Whitney: 1M-row distinct-value rank grid ----
      val mwIn = spark.range(3000000L).select(
        col("id").as("event_id"),
        expr("id div 3").as("user_id"),
        (expr("id div 3").cast("double") / 100.0).as("value")).repartition(8)
      val (mw, tMw) = timed {
        Aggregations.mannWhitney(mwIn, col("user_id") % 2,
          round(col("value") * 100).cast("long")).collect().head
      }
      // closed forms, same double chain as the operator
      val (naD, nbD, nD) = (500000.0, 500000.0, 1000000.0)
      val uaD = 124999750000L.toDouble
      val varU = naD * nbD * ((nD + 1.0) - 0.0 / (nD * (nD - 1.0))) / 12.0
      val zExp = math.floor(
        (uaD - naD * nbD / 2.0) / math.sqrt(varU) * 10000.0 + 0.5) / 10000.0
      assert((mw.getLong(0), mw.getLong(1)) == ((500000L, 500000L)), s"$mw")
      assert(mw.getDouble(2) == 124999750000.0 &&
        mw.getDouble(3) == 125000250000.0, s"$mw")
      assert(mw.getDouble(4) == zExp && mw.getLong(5) == 0L, s"$mw")

      // ---- label propagation: 100k disjoint 5-cliques ----
      val pi = Seq(0, 0, 0, 0, 1, 1, 1, 2, 2, 3)
      val pj = Seq(1, 2, 3, 4, 2, 3, 4, 3, 4, 4)
      val cliqueEdges = spark.range(1000000L).select(
          expr("id div 10").as("c"), pmod(col("id"), lit(10L)).cast("int").as("p"))
        .select(
          (col("c") * 5 + element_at(
            array(pi.map(x => lit(x.toLong)): _*), col("p") + 1)).as("src"),
          (col("c") * 5 + element_at(
            array(pj.map(x => lit(x.toLong)): _*), col("p") + 1)).as("dst"))
        .repartition(8)
      val (lp, tLp) = timed {
        val r = Graph.labelPropagation(cliqueEdges, rounds = 4)
        val bad = r.filter(
          col("community_id") =!= col("node") - pmod(col("node"), lit(5L)) ||
          col("n_nodes") =!= 5L).count()
        val total = r.count()
        (bad, total)
      }
      assert(lp == ((0L, 500000L)), s"(bad, total) = $lp")

      // ---- Holt: 1,000 exactly-linear series × 3,000 days ----
      val holtIn = spark.range(3000000L).select(
        concat(lit("s"), expr("id div 3000")).as("event_type"),
        expr("timestampadd(DAY, CAST(id % 3000 AS INT), TIMESTAMP '2024-01-01 00:00:00')").as("ts"),
        ((pmod(expr("id div 3000"), lit(7L)) + 1L).cast("double") *
          pmod(col("id"), lit(3000L)).cast("double") +
          expr("id div 3000").cast("double")).as("value")).repartition(8)
      val (ht, tHt) = timed {
        val r = Climate.holtTrend(holtIn)
        val sv = expr("CAST(substr(series, 2) AS LONG)")
        val slope = (pmod(sv, lit(7L)) + 1L).cast("double")
        val level = slope * 2999.0 + sv.cast("double")
        val bad = r.filter(col("n_days") =!= 3000L ||
          col("level") =!= level || col("trend") =!= slope ||
          col("forecast_next") =!= level + slope).count()
        (bad, r.count())
      }
      assert(ht == ((0L, 1000L)), s"(bad, total) = $ht")

      // ---- vocab growth: 300k docs, closed-form curve ----
      val docs = spark.range(300000L).select(col("id").as("doc_id"),
        concat(lit("the t"), col("id"), lit(" m"),
          pmod(col("id"), lit(1000L))).as("text")).repartition(8)
      val (vg, tVg) = timed {
        TextOps.vocabGrowth(docs).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getDouble(4)))
      }
      val vgExpect = (1L to 10L).map { i =>
        val k = 30000L * i
        val ttr = math.floor(
          (k + 1001L).toDouble / (3L * k).toDouble * 1000000.0 + 0.5) / 1000000.0
        (i, k, 3 * k, k + 1001L, ttr)
      }
      assert(vg.toSeq == vgExpect, s"got ${vg.toSeq}")

      assertShuffleBudget(log)

      val ratio = calRatio()
      val section =
        s"""
           |## Round-11 newcomer soak (regenerated by SoakSpec)
           |
           |The round-11 additions at scale, every outcome closed-form
           |exact, same single-task shuffle-budget listener invariant
           |as the other soaks. Mann-Whitney over 1M users with 1M
           |DISTINCT per-user values: the rank grid is user-sized, so
           |the distributed prefix sum carries it (no single-task
           |window); U_a exactly 124,999,750,000 and z matches the
           |operator's fixed double chain to the last rendered digit.
           |Label propagation over 100k disjoint 5-cliques (500k nodes,
           |1M edges, 4 synchronous rounds): every node lands on its
           |clique minimum with component size 5 — zero deviations.
           |Holt smoothing over 1,000 exactly-linear series × 3,000
           |days: the fold locks onto the line (level/trend/forecast
           |equal the closed forms with zero tolerance) — 3M rows
           |reduce to calendar-bounded arrays, never row-count arrays.
           |Vocabulary growth over 300k three-token docs: all ten
           |decile checkpoints exact (tokens 3k, types k+1001, ttr to
           |the rendered digit).
           |
           || operator | rows in | wall s | cal ratio |
           ||---|---|---|---|
           || mannWhitney (1M distinct grid) | 3.0M | ${f"$tMw%.1f"} | ${f"$ratio%.2f"} |
           || labelPropagation (100k cliques, 4 rounds) | 1.0M edges | ${f"$tLp%.1f"} | ${f"$ratio%.2f"} |
           || holtTrend (1k series × 3k days) | 3.0M | ${f"$tHt%.1f"} | ${f"$ratio%.2f"} |
           || vocabGrowth (300k docs) | 0.3M | ${f"$tVg%.1f"} | ${f"$ratio%.2f"} |
           |""".stripMargin
      SoakDoc.upsert(SoakDoc.Path,
        "Round-11 newcomer soak", section)
    }
  }

  test("newcomer soak r11c: BFS / top-share / ACF + runs / seasonality / containment at scale") {
    // The late-round-11 additions under scale shapes with closed-form
    // exact outcomes:
    //  - bfsHops: a 250,001-node PATH with seeds every 100 nodes —
    //    the worst frontier shape (fan-out 2, distance structure fully
    //    determined): after 3 rounds exactly the nodes with
    //    min(m, 100−m) ≤ 3 (m = node mod 100) appear, each at that
    //    distance; 17,501 rows, Σdist = 30,000;
    //  - topShare: 1M customers with revenue = custkey dollars — every
    //    decile holds exactly 100k customers and the share/cum-share
    //    doubles are replayed with the operator's exact chain;
    //  - autocorrelation + runsTest on ONE input: 1,000 series × 3,000
    //    days alternating 10/20 — yₜ₊₁ = 30 − yₜ makes odd lags
    //    exactly −1 and even lags exactly +1 (the Pearson algebra
    //    collapses, no tolerance); runs: 2,999 moves all flipping →
    //    n_runs = 2999, z replayed with the operator's chain;
    //  - weeklySeasonality: 1,000 series × 2,800 days with
    //    y = dow + 1 — within-dow variance 0 ⇒ η² = 1 exactly,
    //    peak (dow 6, mean 7);
    //  - dedupContainment: 150k docs in 75k (host ⊃ sub) pairs with
    //    pair-unique tokens — every shingle is rare, candidates are
    //    exactly the pairs, containment exactly 1.0.
    import graft.operators.{Aggregations, Climate, Dedup, Graph}

    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }
    StageLog.record(spark) { log =>
      // ---- BFS: 250k-node path, seeds every 100 ----
      val pathEdges = spark.range(250000L)
        .select(col("id").as("src"), (col("id") + 1L).as("dst"))
        .repartition(8)
      val (bfs, tBfs) = timed {
        val r = Graph.bfsHops(pathEdges, _ % 100 === 0, rounds = 3)
        val m = pmod(col("node"), lit(100L))
        val expect = least(m, lit(100L) - m)
        val bad = r.filter(col("dist") =!= expect).count()
        val agg = r.agg(count(lit(1)), sum(col("dist")), max(col("dist")))
          .collect().head
        (bad, agg.getLong(0), agg.getLong(1), agg.getLong(2))
      }
      assert(bfs == ((0L, 17501L, 30000L, 3L)), s"(bad, n, sumDist, maxDist) = $bfs")

      // ---- top-share: 1M customers, revenue = custkey ----
      val tsIn = spark.range(1L, 1000001L).select(
        col("id").as("o_custkey"), col("id").cast("double").as("o_totalprice"))
        .repartition(8)
      val (ts, tTs) = timed {
        Aggregations.topShare(tsIn).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      }
      val totC = 100L * 500000500000L
      val decC = (1 to 10).map { d =>
        // decile d = custkeys (1000000 − d·100k, 1000000 − (d−1)·100k]
        val hi = 1000000L - (d - 1).toLong * 100000L
        val lo = 1000000L - d.toLong * 100000L + 1L
        100L * (lo + hi) * 100000L / 2L
      }
      val cumC = decC.scanLeft(0L)(_ + _).tail
      val tsExpect = (1 to 10).map { d =>
        (d.toLong, 100000L,
          math.floor(decC(d - 1).toDouble / totC.toDouble * 1e6 + 0.5) / 1e6,
          math.floor(cumC(d - 1).toDouble / totC.toDouble * 1e6 + 0.5) / 1e6)
      }
      assert(ts.toSeq == tsExpect, s"got ${ts.toSeq}")

      // ---- ACF + runs over one alternating-series input ----
      val altIn = spark.range(3000000L).select(
        concat(lit("s"), expr("id div 3000")).as("event_type"),
        expr("timestampadd(DAY, CAST(id % 3000 AS INT), TIMESTAMP '2024-01-01 00:00:00')").as("ts"),
        when(pmod(col("id"), lit(2L)) === 0L, lit(10.0)).otherwise(lit(20.0))
          .as("value")).repartition(8)
      val (acf, tAcf) = timed {
        val r = Climate.autocorrelation(altIn, maxLag = 4)
        val bad = r.filter(col("acf").isNull || col("acf") =!=
          when(pmod(col("lag"), lit(2L)) === 1L, -1.0).otherwise(1.0)).count()
        (bad, r.count())
      }
      assert(acf == ((0L, 4000L)), s"(bad, total) = $acf")
      val (runs, tRuns) = timed {
        val r = Climate.runsTest(altIn).collect()
          .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3),
            x.getLong(4), x.getDouble(5)))
        r
      }
      // replay the operator's z chain: n1 = 1500 ups, n2 = 1499 downs
      val (n1, n2) = (1500.0, 1499.0)
      val nD = n1 + n2
      val eR = 1.0 + 2.0 * n1 * n2 / nD
      val varR = 2.0 * n1 * n2 * (2.0 * n1 * n2 - nD) / (nD * nD * (nD - 1.0))
      val zExp = math.floor((2999.0 - eR) / math.sqrt(varR) * 1e4 + 0.5) / 1e4
      assert(runs.length == 1000 &&
        runs.forall(x => x._2 == 3000L && x._3 == 1500L && x._4 == 1499L &&
          x._5 == 2999L && x._6 == zExp),
        s"sample ${runs.take(2).toSeq}, zExp $zExp")

      // ---- seasonality: pure weekly function ⇒ η² = 1 ----
      val seaIn = spark.range(2800000L).select(
        concat(lit("s"), expr("id div 2800")).as("event_type"),
        expr("timestampadd(DAY, CAST(id % 2800 AS INT), TIMESTAMP '2024-01-01 00:00:00')").as("ts"),
        (pmod(pmod(col("id"), lit(2800L)), lit(7L)) + 1L).cast("double")
          .as("value")).repartition(8)
      val (sea, tSea) = timed {
        val r = Climate.weeklySeasonality(seaIn)
        val bad = r.filter(col("eta2").isNull || col("n_days") =!= 2800L ||
          col("eta2") =!= 1.0 ||
          col("peak_dow") =!= 6L || col("peak_mean") =!= 7.0).count()
        (bad, r.count())
      }
      assert(sea == ((0L, 1000L)), s"(bad, total) = $sea")

      // ---- containment: 75k planted host ⊃ sub pairs ----
      val contDocs = spark.range(150000L).select(col("id").as("doc_id"),
        when(pmod(col("id"), lit(2L)) === 0L,
          concat(lit("a"), col("id"), lit(" b"), col("id"), lit(" c"), col("id"),
            lit(" d"), col("id"), lit(" e"), col("id"), lit(" f"), col("id"),
            lit(" g"), col("id")))
          .otherwise(
            concat(lit("a"), col("id") - 1L, lit(" b"), col("id") - 1L,
              lit(" c"), col("id") - 1L, lit(" d"), col("id") - 1L,
              lit(" e"), col("id") - 1L)).as("text"))
        .repartition(8)
      val (cont, tCont) = timed {
        val r = Dedup.dedupContainment(contDocs)
        val bad = r.filter(col("b") =!= col("a") + 1L ||
          col("n_shared") =!= 3L || col("sz_a") =!= 5L || col("sz_b") =!= 3L ||
          col("containment") =!= 1.0).count()
        (bad, r.count())
      }
      assert(cont == ((0L, 75000L)), s"(bad, total) = $cont")

      assertShuffleBudget(log)

      val ratio = calRatio()
      val section =
        s"""
           |## Round-11 late-newcomer soak (regenerated by SoakSpec)
           |
           |The late-round-11 additions at scale, every outcome
           |closed-form exact, same single-task shuffle-budget listener
           |invariant as the other soaks. BFS over a 250,001-node path
           |with seeds every 100 nodes (the worst frontier shape):
           |exactly the min(m,100−m) ≤ 3 nodes appear at their true
           |distances (17,501 rows, Σdist 30,000). Top-share over 1M
           |customers with revenue = custkey: all ten deciles hold
           |exactly 100k customers and every share/cum-share double
           |matches the operator's chain to the rendered digit — the
           |global rank rides the distributed prefix sum, never a
           |single-task window. ACF + runs test over 1,000 alternating
           |series × 3,000 days: odd lags exactly −1, even exactly +1
           |(4,000 lag rows, zero deviations); 2,999 always-flipping
           |moves give n_runs = 2999 and the replayed z to the last
           |digit. Weekly seasonality over 1,000 pure-weekly series ×
           |2,800 days: η² exactly 1, peak (dow 6, mean 7). Containment
           |dedup over 150k docs planted as 75k host ⊃ sub pairs with
           |pair-unique tokens: candidates are exactly the pairs,
           |containment exactly 1.0 on all 75,000.
           |
           || operator | rows in | wall s | cal ratio |
           ||---|---|---|---|
           || bfsHops (250k path, 3 rounds) | 250k edges | ${f"$tBfs%.1f"} | ${f"$ratio%.2f"} |
           || topShare (1M customers) | 1.0M | ${f"$tTs%.1f"} | ${f"$ratio%.2f"} |
           || autocorrelation (1k series, lags 1..4) | 3.0M | ${f"$tAcf%.1f"} | ${f"$ratio%.2f"} |
           || runsTest (1k series) | 3.0M | ${f"$tRuns%.1f"} | ${f"$ratio%.2f"} |
           || weeklySeasonality (1k pure-weekly series) | 2.8M | ${f"$tSea%.1f"} | ${f"$ratio%.2f"} |
           || dedupContainment (75k planted pairs) | 150k docs | ${f"$tCont%.1f"} | ${f"$ratio%.2f"} |
           |""".stripMargin
      SoakDoc.upsert(SoakDoc.Path,
        "Round-11 late-newcomer soak", section)
    }
  }

  test("newcomer soak r11d: M4 downsample / k-core peel / monthly growth at scale") {
    // The closing round-11 additions under scale shapes with
    // closed-form exact outcomes:
    //  - m4Downsample: 1,000 series × 3 days × 1,000 points/day with
    //    value = (i·7) mod 1000 (a permutation of 0..999 per bucket):
    //    every bucket's first is exactly 0 (i = 0), last exactly 993
    //    (i = 999), min 0, max 999, n 1000 — 3,000 buckets, zero
    //    tolerance;
    //  - kCorePeel (k = 2, 5 rounds): 100k disjoint triangles (every
    //    node degree-2, survives untouched) + a 100,001-node path
    //    (peels one node per END per round — after 5 rounds nodes
    //    5..N−5 remain, the two new endpoints at degree 1): exact
    //    survivor set, degree sum, and endpoint count;
    //  - monthlyGrowth: 5 priorities × 120 months with (5000+j) $2.50
    //    orders in month j and month j = 60 planted MISSING: every
    //    mom/yoy replayed through the operator's exact cents + double
    //    chain, and the gap must NULL exactly the month-61 MoM and
    //    the 12 YoY rows whose lag-12 crosses the hole.
    import graft.operators.{Climate, Graph, Windows}

    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }
    StageLog.record(spark) { log =>
      // ---- M4: 1k series × 3 days × 1k points, value a per-bucket permutation ----
      val m4In = spark.range(3000000L).select(
        col("id").as("event_id"),
        concat(lit("s"), expr("id div 3000")).as("event_type"),
        expr("""timestampadd(SECOND, CAST(id % 3000000 AS INT) % 1000,
                timestampadd(DAY, CAST((id % 3000) div 1000 AS INT),
                TIMESTAMP '2024-01-01 00:00:00'))""").as("ts"),
        pmod(pmod(col("id"), lit(1000L)) * 7L, lit(1000L)).cast("double")
          .as("value")).repartition(8)
      val (m4, tM4) = timed {
        val r = Climate.m4Downsample(m4In)
        val bad = r.filter(col("v_first") =!= 0.0 || col("v_last") =!= 993.0 ||
          col("v_min") =!= 0.0 || col("v_max") =!= 999.0 ||
          col("n_points") =!= 1000L ||
          col("last_us") - col("first_us") =!= 999000000L).count()
        (bad, r.count())
      }
      assert(m4 == ((0L, 3000L)), s"(bad, buckets) = $m4")

      // ---- k-core: 100k triangles + a 100,001-node path, k=2, 5 rounds ----
      val tri = spark.range(100000L).select(col("id"))
      val triEdges = tri.select((col("id") * 3 + 1).as("src"), (col("id") * 3 + 2).as("dst"))
        .union(tri.select((col("id") * 3 + 2).as("src"), (col("id") * 3 + 3).as("dst")))
        .union(tri.select((col("id") * 3 + 1).as("src"), (col("id") * 3 + 3).as("dst")))
      val pathEdges = spark.range(1000000L, 1100000L)
        .select(col("id").as("src"), (col("id") + 1L).as("dst"))
      val (kc, tKc) = timed {
        val r = Graph.kCorePeel(triEdges.union(pathEdges).repartition(8),
          k = 2, rounds = 5)
        val agg = r.agg(count(lit(1)), sum(col("core_deg")),
          sum(when(col("core_deg") === 1L, 1L).otherwise(0L)),
          min(when(col("node") >= 1000000L, col("node"))),
          max(col("node"))).collect().head
        (agg.getLong(0), agg.getLong(1), agg.getLong(2), agg.getLong(3),
          agg.getLong(4))
      }
      // survivors: 300k triangle nodes (deg 2) + path nodes
      // 1000005..1099995 (99,991 nodes, deg 2 except the two new
      // endpoints at deg 1)
      assert(kc == ((399991L, 799980L, 2L, 1000005L, 1099995L)), s"got $kc")

      // ---- monthly growth: 5 prios × 120 months, (5000+j) orders, j=60 missing ----
      val slot = 6000L
      val gIn = spark.range(5L * 120L * slot).select(
        concat(lit("PR"), expr(s"id div ${120L * slot}")).as("o_orderpriority"),
        expr(s"(id div $slot) % 120").as("j"),
        expr(s"id % $slot").as("idx"))
        .filter(col("idx") < col("j") + 5000L && col("j") =!= 60L)
        .select(col("o_orderpriority"),
          expr("date_add(add_months(DATE '1995-01-01', CAST(j AS INT)), 9)")
            .as("o_orderdate"),
          lit(2.50).as("o_totalprice"))
        .repartition(8)
      val (gr, tGr) = timed {
        Windows.monthlyGrowth(gIn).collect()
          .map(x => (x.getString(0), x.getLong(1), x.getLong(2)) ->
            ((x.getLong(3), Option(x.get(4)).map(_.asInstanceOf[Double]),
              Option(x.get(5)).map(_.asInstanceOf[Double])))).toMap
      }
      // replay: present months in order, guard on exact index gaps
      val present = (0 until 120).filter(_ != 60)
      def cents(j: Int): Long = (5000L + j) * 250L
      def pct(cur: Long, prev: Long): Double =
        math.floor((cur - prev).toDouble / prev.toDouble * 100.0 * 1e4 + 0.5) / 1e4
      val expect = present.zipWithIndex.map { case (j, pos) =>
        val mom = if (pos >= 1 && present(pos - 1) == j - 1)
          Some(pct(cents(j), cents(j - 1))) else None
        val yoy = if (pos >= 12 && present(pos - 12) == j - 12)
          Some(pct(cents(j), cents(j - 12))) else None
        (j, (cents(j), mom, yoy))
      }.toMap
      assert(gr.size == 5 * 119, s"rows = ${gr.size}")
      val grBad = gr.filter { case ((_, y, m), v) =>
        val j = (y - 1995L).toInt * 12 + (m - 1L).toInt
        expect(j) != v
      }
      assert(grBad.isEmpty, s"mismatches: ${grBad.take(3)}")
      // the hole NULLs exactly month-61 MoM and the lag-12-crossing YoYs
      assert(gr(("PR0", 2000L, 2L))._2.isEmpty && gr(("PR0", 2000L, 2L))._3.isEmpty)

      assertShuffleBudget(log)

      val ratio = calRatio()
      val section =
        s"""
           |## Round-11 close-out soak (regenerated by SoakSpec)
           |
           |The closing round-11 additions at scale, every outcome
           |closed-form exact, same single-task shuffle-budget listener
           |invariant as the other soaks. M4 downsample over 1,000
           |series × 3 days × 1,000 points whose per-bucket values are a
           |permutation of 0..999: all 3,000 buckets produce exactly
           |(first 0, last 993, min 0, max 999, n 1000) with the
           |first/last µs span exactly 999 s — the total-order struct
           |extrema, not a window, at 3M rows. K-core peel (k = 2,
           |5 rounds) over 100k disjoint triangles + a 100,001-node
           |path: the triangles survive untouched (degree 2), the path
           |peels exactly one node per end per round leaving nodes
           |5..N−5 with the two fresh endpoints at degree 1 — survivor
           |count, degree sum, and endpoint census all exact. Monthly
           |growth over 5 priorities × 119 present months (~3M orders,
           |month 60 planted missing): every MoM/YoY replays the
           |operator's cents + fixed double chain to the rendered
           |digit, and the hole NULLs exactly the month-61 MoM and the
           |twelve YoY rows whose lag-12 crosses it.
           |
           || operator | rows in | wall s | cal ratio |
           ||---|---|---|---|
           || m4Downsample (1k series × 3 days) | 3.0M | ${f"$tM4%.1f"} | ${f"$ratio%.2f"} |
           || kCorePeel (100k triangles + 100k path) | 400k edges | ${f"$tKc%.1f"} | ${f"$ratio%.2f"} |
           || monthlyGrowth (5 prios × 119 months) | ~3.0M | ${f"$tGr%.1f"} | ${f"$ratio%.2f"} |
           |""".stripMargin
      SoakDoc.upsert(SoakDoc.Path,
        "Round-11 close-out soak", section)
    }
  }

  test("newcomer soak r11e: drawdown / volatility / change-point / Poisson / business days / Pareto cut / skyline / LTV at scale") {
    // The final round-11 additions under scale shapes with closed-form
    // exact outcomes (see each operator's scaladoc for the posture):
    //  - maxDrawdown: 1,000 series × 3,000 points of v = i mod 1000 —
    //    every cycle reset realizes dd = 999 from peak 999 to trough 0,
    //    dd_frac exactly 1.0;
    //  - rollingVolatility: 1,000 series × 3,000 points of v = i — every
    //    full 7-row frame has variance exactly 4 (Σk², k=−3..3 = 28),
    //    vol exactly 2.0; exactly 6 warm-up rows per series;
    //  - changePoint: 1,000 series × 3,000 days split 0/10 at half —
    //    cusum bottoms at day 1499 with exactly −7500, frac 0.5;
    //  - poissonDays: 1,000 series × 365 days of 10 events except day
    //    100 carries 40 — the one flagged day per series, z replayed;
    //  - businessDaySla: 1M items shipped exactly one calendar week
    //    after Mon–Fri order dates — 5 business days on every row;
    //  - paretoCut: 1M equal-revenue customers in 5 segments — the 80%
    //    head is exactly 80% of each segment, both shares exactly 0.8;
    //  - skyline2d: 100 brands × (1,000 frontier anti-chain points +
    //    1,000 strictly-dominated points) — survivors exactly the
    //    frontier;
    //  - cohortLtv: 100k customers spending $1/month for 4 months from
    //    their cohort month — LTV curve exactly 1, 2, 3, 4 dollars.
    import graft.operators.{Aggregations, Climate, Relational, Windows}

    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }
    StageLog.record(spark) { log =>
      // shared event-shaped fixture maker: 1,000 series × 3,000 points
      def series(valueExpr: String, secondsApart: Boolean): org.apache.spark.sql.DataFrame =
        spark.range(3000000L).select(
          col("id").as("event_id"),
          concat(lit("s"), expr("id div 3000")).as("event_type"),
          expr(if (secondsApart)
            "timestampadd(SECOND, CAST(id % 3000 AS INT), TIMESTAMP '2024-01-01 00:00:00')"
          else
            "timestampadd(DAY, CAST(id % 3000 AS INT), TIMESTAMP '2024-01-01 00:00:00')").as("ts"),
          expr(valueExpr).as("value")).repartition(8)

      // ---- drawdown: sawtooth, every reset is a full 999 drop ----
      val (dd, tDd) = timed {
        val r = Windows.maxDrawdown(
          series("CAST(id % 1000 AS DOUBLE)", secondsApart = true))
        val bad = r.filter(col("dd_max") =!= 999.0 || col("dd_peak") =!= 999.0 ||
          col("dd_trough") =!= 0.0 || col("dd_frac") =!= 1.0 ||
          col("n_points") =!= 3000L).count()
        (bad, r.count())
      }
      assert(dd == ((0L, 1000L)), s"(bad, series) = $dd")

      // ---- volatility: linear ramp, every full frame has var 4 ----
      val (vol, tVol) = timed {
        val r = Windows.rollingVolatility(
          series("CAST(id % 3000 AS DOUBLE)", secondsApart = true))
        val badFull = r.filter(col("n_window") === 7L && col("vol") =!= 2.0)
          .count()
        val warm = r.filter(col("n_window") < 7L).count()
        (badFull, warm, r.count())
      }
      assert(vol == ((0L, 6000L, 3000000L)), s"(badFull, warm, n) = $vol")

      // ---- change-point: 0/10 split at half ----
      val (cp, tCp) = timed {
        val r = Climate.changePoint(
          series("CASE WHEN id % 3000 < 1500 THEN 0.0 ELSE 10.0 END",
            secondsApart = false))
        val bad = r.filter(col("cp_day") =!= 1499L ||
          col("cusum_at") =!= -7500.0 || col("frac_through") =!= 0.5 ||
          col("n_days") =!= 3000L).count()
        (bad, r.count())
      }
      assert(cp == ((0L, 1000L)), s"(bad, series) = $cp")

      // ---- Poisson: 10/day, one 40-event day ----
      val pIn = spark.range(3680000L).select(
        col("id").as("event_id"),
        concat(lit("s"), expr("id div 3680")).as("event_type"),
        expr("""timestampadd(DAY, CAST(CASE WHEN id % 3680 < 3640
                THEN (id % 3680) div 10
                ELSE 100 END AS INT), TIMESTAMP '2024-01-01 00:00:00')""")
          .as("ts"),
        lit(1.0).as("value")).repartition(8)
      val (po, tPo) = timed {
        val r = Climate.poissonDays(pIn)
        // 364 base days of 10 + 40 extra on day 100 → that day has 50
        val lam = 3680.0 / 364.0
        def zq(n: Double) = math.floor((n - lam) / math.sqrt(lam) * 1e4 + 0.5) / 1e4
        val flagged = r.filter(col("is_anomaly") === 1L)
        val badFlag = flagged.filter(col("day") =!= 100L ||
          col("n") =!= 50L || col("z") =!= zq(50.0)).count()
        val badNorm = r.filter(col("is_anomaly") === 0L &&
          (col("n") =!= 10L || col("z") =!= zq(10.0))).count()
        (badFlag, badNorm, flagged.count(), r.count())
      }
      assert(po == ((0L, 0L, 1000L, 364000L)),
        s"(badFlag, badNorm, flagged, rows) = $po")

      // ---- business days: ship exactly one week after a weekday ----
      val bdOrders = spark.range(1000000L).select(
        col("id").as("o_orderkey"),
        expr("date_add(DATE '2024-01-01', CAST(id % 5 AS INT))")
          .as("o_orderdate"))
      val bdItems = spark.range(1000000L).select(
        col("id").as("l_orderkey"),
        expr("""CAST(date_add(DATE '2024-01-08', CAST(id % 5 AS INT))
                AS TIMESTAMP)""").as("l_shipdate"))
      val (bd, tBd) = timed {
        val r = Climate.businessDaySla(bdOrders.repartition(8),
          bdItems.repartition(8))
        r.collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2),
          x.getLong(3), x.getLong(4))).toSeq
      }
      assert(bd == Seq((202401L, 1000000L, 5.0, 5L, 5L)), s"got $bd")

      // ---- Pareto cut: equal revenues, head is exactly 80% ----
      val pcOrders = spark.range(1000000L).select(
        col("id").as("o_custkey"),
        expr("date_add(DATE '2024-01-01', CAST(id % 300 AS INT))")
          .as("o_orderdate"),
        lit(1.0).as("o_totalprice"))
      val pcCust = spark.range(1000000L).select(
        col("id").as("c_custkey"),
        concat(lit("SEG"), pmod(col("id"), lit(5L))).as("c_mktsegment"))
      val (pc, tPc) = timed {
        Aggregations.paretoCut(pcOrders.repartition(8),
            pcCust.repartition(8)).collect()
          .map(x => (x.getString(0), x.getLong(1), x.getLong(2),
            x.getDouble(3), x.getDouble(4))).toSeq
      }
      assert(pc == (0 until 5).map(i =>
        (s"SEG$i", 200000L, 160000L, 0.8, 0.8)), s"got $pc")

      // ---- HHI on the same equal-revenue fixture: 1/n exactly ----
      val (hh, tHh) = timed {
        Aggregations.herfindahl(pcOrders.repartition(8),
            pcCust.repartition(8)).collect()
          .map(x => (x.getString(0), x.getLong(1), x.getDouble(2),
            x.getDouble(3))).toSeq
      }
      assert(hh == (0 until 5).map(i =>
        (s"SEG$i", 200000L, 0.000005, 200000.0)), s"got $hh")

      // ---- skyline: planted frontier + strictly-dominated cloud ----
      val skyIn = spark.range(200000L).select(
        col("id").as("p_partkey"),
        concat(lit("B"), pmod(col("id"), lit(100L))).as("p_brand"),
        // frontier: (j, 1000−j); dominated: (j+1, 1001−j) — shifted +1
        // on BOTH axes from frontier point j, so it's strictly beaten
        expr("""CAST(CASE WHEN id < 100000 THEN (id div 100)
                ELSE ((id - 100000) div 100) + 1 END AS DOUBLE)""")
          .as("p_retailprice"),
        expr("""CAST(CASE WHEN id < 100000 THEN 1000 - (id div 100)
                ELSE 1001 - ((id - 100000) div 100) END AS INT)""")
          .as("p_size")).repartition(8)
      val (sky, tSky) = timed {
        val r = Relational.skyline2d(skyIn)
        val bad = r.filter(col("p_partkey") >= 100000L).count()
        (bad, r.count())
      }
      assert(sky == ((0L, 100000L)), s"(dominated leaked, survivors) = $sky")

      // ---- cohort LTV: $1/month for 4 months from the cohort month ----
      val ltvOrders = spark.range(400000L).select(
        (col("id") % 100000L).as("o_custkey"),
        expr("""date_add(add_months(DATE '2024-01-01',
                CAST((id % 100000) % 12 + (id div 100000) AS INT)), 5)""")
          .as("o_orderdate"),
        lit(1.0).as("o_totalprice"))
      val (ltv, tLtv) = timed {
        val r = Windows.cohortLtv(ltvOrders.repartition(8))
        val bad = r.filter(col("cents_period") =!=
            col("n_active") * 100L ||
          col("ltv_per_user") =!= (col("age") + 1L).cast("double")).count()
        (bad, r.count())
      }
      // cohorts = months 0..11 of 2024, ages 0..3 each
      assert(ltv == ((0L, 48L)), s"(bad, rows) = $ltv")

      // ---- two-hop recs: a 200,001-node path — every rec is i±2, score 1 ----
      val thEdges = spark.range(200000L)
        .select(col("id").as("src"), (col("id") + 1L).as("dst"))
        .repartition(8)
      val (th, tTh) = timed {
        val r = graft.operators.Graph.twoHopRecs(thEdges, k = 3)
        val bad = r.filter(col("score") =!= 1L ||
          (col("rec") =!= col("node") - 2L && col("rec") =!= col("node") + 2L))
          .count()
        val nodes = r.select(col("node")).distinct().count()
        (bad, nodes, r.count())
      }
      // interior nodes get both i±2; the two nodes at each end get one
      assert(th == ((0L, 200001L, 399998L)), s"(bad, nodes, rows) = $th")

      // ---- Gumbel: 1k series × 24 months, block max = month index ----
      val guIn = spark.range(3000000L).select(
        col("id").as("event_id"),
        concat(lit("s"), expr("id div 3000")).as("event_type"),
        expr("""timestampadd(DAY, CAST(((id % 3000) div 125) * 30 AS INT),
                TIMESTAMP '2024-01-15 00:00:00')""").as("ts"),
        // month block (id%3000) div 125 ∈ 0..23; j = id%125; max at j=0
        expr("""CAST((id % 3000) div 125 AS DOUBLE)
                - CAST((id % 125) % 100 AS DOUBLE) * 0.001""").as("value"))
        .repartition(8)
      val (gu, tGu) = timed {
        val r = graft.operators.Climate.gumbelExtremes(guIn)
        // replay: maxima 0..23 → s1 = 276e4, s2 = 4324e8, n = 24
        val vq = (4324.0e8 - 276.0e4 * 276.0e4 / 24.0) / 23.0
        val scale = math.sqrt(vq) / 1e4 * graft.operators.Climate.GumbelC
        val loc = 276.0e4 / 24.0 / 1e4 - graft.operators.Climate.GumbelGamma * scale
        val rl = loc + scale * graft.operators.Climate.GumbelZ10
        def h(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
        val bad = r.filter(col("n_blocks") =!= 24L ||
          col("gum_loc") =!= h(loc) || col("gum_scale") =!= h(scale) ||
          col("rl10") =!= h(rl)).count()
        (bad, r.count())
      }
      assert(gu == ((0L, 1000L)), s"(bad, series) = $gu")

      assertShuffleBudget(log)

      val ratio = calRatio()
      val section =
        s"""
           |## Round-11 final-newcomer soak (regenerated by SoakSpec)
           |
           |The final round-11 additions at scale, every outcome
           |closed-form exact, same single-task shuffle-budget listener
           |invariant as the other soaks. Max drawdown over 1,000
           |sawtooth series × 3,000 points: every series realizes
           |exactly dd 999 (peak 999 → trough 0, frac 1.0). Rolling
           |volatility over 1,000 linear ramps: every full 7-row frame
           |has variance exactly 4 (vol 2.0), exactly 6 warm-up rows
           |per series, 3M output rows. Change-point over 1,000 series
           |split 0/10 at half: located at day 1499 with CUSUM exactly
           |−7500, frac 0.5, on all 1,000. Poisson screen over 1,000
           |series × 363 ten-event days + one 50-event day: exactly
           |one flagged day per series, every z replayed to the
           |rendered digit. Business-day SLA over 1M items shipped one
           |calendar week after Mon–Fri orders: exactly 5 business
           |days on every row. Pareto cut over 1M equal-revenue
           |customers in 5 segments: the 80% head is exactly 160k of
           |200k per segment, both shares exactly 0.8 — the grouped
           |prefix sum never collapses a segment to one task; the
           |Herfindahl index on the same fixture is exactly 1/n
           |(0.000005, effective count 200,000) per segment through
           |the 1e-12 quantized-term sum. Skyline
           |over 100 brands × (1,000-point anti-chain frontier + 1,000
           |strictly-dominated points): survivors are exactly the
           |frontier. Cohort LTV over 100k customers spending
           |$$1/month for 4 months: the curve is exactly 1, 2, 3, 4
           |dollars per member at ages 0–3 across all 12 cohorts.
           |Two-hop recommendations over a 200,001-node path: every
           |rec is exactly i±2 with score 1 through the single shared
           |neighbor — 399,998 rows, all 200,001 nodes served, the
           |top-k never leaves WindowGroupLimit. Gumbel fit over 1,000
           |series × 24 month blocks whose maxima are exactly 0..23:
           |loc/scale/return-level replay the fixed constant-literal
           |chain to the rendered digit on all 1,000 series.
           |
           || operator | rows in | wall s | cal ratio |
           ||---|---|---|---|
           || maxDrawdown (1k sawtooth series) | 3.0M | ${f"$tDd%.1f"} | ${f"$ratio%.2f"} |
           || rollingVolatility (1k ramps) | 3.0M | ${f"$tVol%.1f"} | ${f"$ratio%.2f"} |
           || changePoint (1k split series) | 3.0M | ${f"$tCp%.1f"} | ${f"$ratio%.2f"} |
           || poissonDays (1k series, planted spike) | 3.7M | ${f"$tPo%.1f"} | ${f"$ratio%.2f"} |
           || businessDaySla (1M items) | 2.0M | ${f"$tBd%.1f"} | ${f"$ratio%.2f"} |
           || paretoCut (1M customers, 5 segments) | 2.0M | ${f"$tPc%.1f"} | ${f"$ratio%.2f"} |
           || herfindahl (1M equal customers: HHI 1/n) | 2.0M | ${f"$tHh%.1f"} | ${f"$ratio%.2f"} |
           || skyline2d (100 brands, planted frontier) | 200k | ${f"$tSky%.1f"} | ${f"$ratio%.2f"} |
           || cohortLtv (100k customers, 12 cohorts) | 400k | ${f"$tLtv%.1f"} | ${f"$ratio%.2f"} |
           || twoHopRecs (200k path) | 200k edges | ${f"$tTh%.1f"} | ${f"$ratio%.2f"} |
           || gumbelExtremes (1k series × 24 blocks) | 3.0M | ${f"$tGu%.1f"} | ${f"$ratio%.2f"} |
           |""".stripMargin
      SoakDoc.upsert(SoakDoc.Path,
        "Round-11 final-newcomer soak", section)
    }
  }

  test("streaming RocksDB state soak: 3M events, 100k keys, bounded store, rows == keys") {
    // transformWithState at soak scale on the PRODUCTION state store
    // (the toy MemoryStream specs prove semantics; this proves the
    // RocksDB provider holds 100k keys across 5 file-source
    // micro-batches with state rows == keys and bounded memory).
    // 3M events land as 10 parquet files; maxFilesPerTrigger=2 gives 5
    // batches; every user's FINAL running total must be exactly its 30
    // planted events, whatever the file->batch split was.
    import org.apache.spark.sql.streaming.OutputMode
    val dir = graft.sources.IO.tmp("graft_rocks_soak_")
    val ckpt = graft.sources.IO.tmp("graft_rocks_ckpt_")
    spark.range(3000000L).select(
        expr("timestamp_micros((id div 100000) * 60000000)").as("ts"),
        pmod(col("id"), lit(100000L)).as("user_id"),
        col("id").as("event_id"), lit(1.0).as("value"))
      .repartition(10).write.mode("overwrite").parquet(dir)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val t0 = System.nanoTime()
    try {
      import spark.implicits._
      val in = spark.readStream.schema(spark.read.parquet(dir).schema)
        .option("maxFilesPerTrigger", 2).parquet(dir).as[Ev]
      val counted = in.groupByKey(_.user_id)
        .transformWithState(new RunningTotalProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append)
        .toDF("user_id", "running")
      val q = counted.writeStream.format("memory").queryName("rocks_soak")
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append).start()
      try {
        q.processAllAvailable()
        val wall = (System.nanoTime() - t0) / 1e9
        val finals = spark.table("rocks_soak")
          .groupBy(col("user_id")).agg(max(col("running")).as("fin"))
          .agg(count(lit(1)), min(col("fin")), max(col("fin"))).head
        assert((finals.getLong(0), finals.getLong(1), finals.getLong(2)) ==
          ((100000L, 30L, 30L)), s"final running totals: $finals")
        val op = q.lastProgress.stateOperators(0)
        assert(op.numRowsTotal == 100000L,
          s"state rows ${op.numRowsTotal} != 100k keys (state leak or loss)")
        val memMb = op.memoryUsedBytes / 1e6
        assert(op.memoryUsedBytes > 0 && memMb < 2048,
          s"state memory $memMb MB out of the bounded band")
        val ratio = calRatio()
        val section =
          s"""
             |## Streaming RocksDB state soak (regenerated by SoakSpec)
             |
             |transformWithState on the RocksDB state store provider at
             |soak scale: 3M events / 100k keys through 5 file-source
             |micro-batches (maxFilesPerTrigger=2 over 10 parquet
             |files). Every key's final running total exactly its 30
             |planted events; the store reports numRowsTotal exactly
             |100,000 (state rows == live keys — no leak, no loss) and
             |${f"$memMb%.0f"} MB used (bounded; budget 2 GiB). The toy
             |MemoryStream specs pin semantics and event-time timers;
             |this row pins the production store under volume.
             |
             || stream | events | keys | batches | state MB | wall s | cal ratio |
             ||---|---|---|---|---|---|---|
             || transformWithState running totals | 3.0M | 100k | 5 | ${f"$memMb%.0f"} | ${f"$wall%.1f"} | ${f"$ratio%.2f"} |
             |""".stripMargin
        SoakDoc.upsert(SoakDoc.Path,
          "Streaming RocksDB state soak", section)
      } finally {
        q.stop()
        spark.catalog.dropTempView("rocks_soak")
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      graft.sources.IO.rmTree(dir); graft.sources.IO.rmTree(ckpt)
    }
  }

  test("zarr soak: 3M-element cube through the distributed sink and chunked scan") {
    import graft.sources.zarr.Zarr
    val (t, y, x) = (50L, 200L, 300L) // 3M elements, 24 MB of f8
    val chunks = Array(10, 50, 75)    // 5*4*4 = 80 chunks of 37.5k elems
    val dir = graft.sources.IO.tmp("graft_zarr_soak_") + "/cube"

    StageLog.record(spark) { log =>
      val rows = spark.range(0L, t * y * x).select(
        expr(s"id div ${y * x}").as("t"),
        expr(s"(id div $x) % $y").as("y"),
        expr(s"id % $x").as("x"))
        .withColumn("value",
          (col("t") * 1000000 + col("y") * 1000 + col("x")).cast("double"))
      val t0 = System.nanoTime()
      Zarr.writeArrayDistributed(rows, dir, Array(t, y, x), chunks,
        Array("t", "y", "x"))
      val tWrite = (System.nanoTime() - t0) / 1e9

      val back = Zarr.readArray(spark, dir)
      assert(back.rdd.getNumPartitions == 80)
      val t1 = System.nanoTime()
      val got = back.agg(count(lit(1)).as("n"), sum(col("value")).as("s")).head()
      val tRead = (System.nanoTime() - t1) / 1e9
      val want = rows.agg(sum(col("value"))).head().getDouble(0)
      assert(got.getLong(0) == t * y * x && got.getDouble(1) == want)

      // a time slice reads only its chunks, at scan speed
      val t2 = System.nanoTime()
      val sliced = back.filter(col("t") >= 40)
      assert(sliced.rdd.getNumPartitions == 16) // 1 of 5 t-chunks
      assert(sliced.count() == 10 * y * x)
      val tSlice = (System.nanoTime() - t2) / 1e9

      assertShuffleBudget(log)

      val ratio = calRatio()
      val section =
        s"""
           |## Zarr connector soak (regenerated by SoakSpec)
           |
           |3M-element f8 cube (50×200×300, 24 MB) through the DISTRIBUTED
           |sink (chunk-keyed shuffle, 80 chunks) and back through the
           |chunked scan, local[4]. Write ${f"$tWrite%.1f"} s; full scan +
           |aggregate ${f"$tRead%.1f"} s over 80 chunk-partitions, sum exact
           |vs the source rows; a 1-of-5 time slice plans 16 partitions and
           |counts in ${f"$tSlice%.1f"} s (cal ratio ${f"$ratio%.2f"}).
           |Same listener invariant as above:
           |no single-task stage read a relation-sized shuffle.
           |""".stripMargin
      SoakDoc.upsert(SoakDoc.Path,
        "Zarr connector soak", section)
    }
  }

  test("staged malformed split soak: 3M dirty rows parsed once, source never re-read") {
    import graft.sources.IO
    // 3M-row CSV, 30% malformed (wrong arity / non-numeric value —
    // both PERMISSIVE-quarantine shapes), written multi-file so the
    // parse parallelizes like a real crawl drop
    val n = 3000000L
    val srcDir = IO.tmp("graft_stagedsoak_src_")
    spark.range(n).select(
      when(pmod(col("id"), lit(10)) < 3,
        concat(lit("r"), col("id"), lit(",broken-line-no-arity")))
        .otherwise(concat(col("id"), lit(",name_"), col("id"), lit(","),
          (col("id") % 1000).cast("double")))
        .as("line"))
      .repartition(16)
      .write.mode("overwrite").text(srcDir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("name",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.DoubleType)))
      .add(IO.CorruptCol, org.apache.spark.sql.types.StringType)

    StageLog.record(spark) { log =>
      val staging = IO.tmp("graft_stagedsoak_stage_")
      val parsed = spark.read.option("mode", "PERMISSIVE")
        .schema(schema).csv(srcDir)
      val t0 = System.nanoTime()
      val (clean0, quarantine0) = IO.stagedMalformedSplit(spark, parsed, staging)
      val tStage = (System.nanoTime() - t0) / 1e9
      // the parse happened ONCE, into the staging write: the SOURCE is
      // now deleted, and both branches must still answer — any re-read
      // of the raw files would throw
      IO.rmTree(srcDir)
      val t1 = System.nanoTime()
      val nClean = clean0.count()
      val nQuar = quarantine0.count()
      val tRead = (System.nanoTime() - t1) / 1e9
      assert(nClean + nQuar == n, s"$nClean + $nQuar != $n")
      assert(nQuar == (0L until n).count(_ % 10 < 3),
        s"quarantine $nQuar != planted malformed count")
      // quarantine keeps the verbatim rejected line for repair
      val sample = quarantine0.select(IO.CorruptCol).head.getString(0)
      assert(sample.contains("broken-line-no-arity"), sample)

      assertShuffleBudget(log)

      val ratio = calRatio()
      val section =
        s"""
           |## Staged malformed split soak (regenerated by SoakSpec)
           |
           |3M-row dirty CSV (30% malformed: arity/type rejects),
           |16 source files, local[4]. One PERMISSIVE parse into the
           |staging parquet in ${f"$tStage%.1f"} s; the SOURCE DIRECTORY
           |WAS THEN DELETED and both branches still answered from the
           |staging table (clean ${nClean / 1000000.0}M + quarantine
           |${nQuar / 1000000.0}M rows counted in ${f"$tRead%.1f"} s,
           |cal ratio ${f"$ratio%.2f"}) — the parse-once, disk-shaped
           |contract at crawl scale. Quarantine rows keep the verbatim
           |rejected text. Same listener invariant as above: no
           |single-task stage read a relation-sized shuffle.
           |""".stripMargin
      SoakDoc.upsert(SoakDoc.Path,
        "Staged malformed split soak", section)
    }
  }

  test("newcomer soak r12: paired stats / graph lcc+assortativity / Holt-Winters replay / decompose / theil+counts / k-center at scale") {
    // Round-12 additions at scale, every outcome closed-form exact or
    // replayed step-for-step, under the standing single-task
    // shuffle-budget listener invariant:
    //  - ONE 3M-event paired stream (1,000 days × 1,500 events per
    //    (type, day); view = day/100, purchase = day/200) feeds three
    //    operators: spearman (both series strictly increasing → ρ=1),
    //    wilcoxon (d = day/200: distinct positive diffs, the day-0
    //    zero diff DROPPED → n=999, W⁺=499500, z = the closed chain),
    //    rolling corr (y = x/2 linear in the integer grid → vx·vy/4
    //    is an exact perfect square → r = 1.0 EXACTLY in every ≥2-row
    //    window);
    //  - localClusteringCoeff over 100k disjoint 5-cliques (every
    //    node deg 4, n_tri 6, lcc 1.0) and degreeAssortativity over
    //    100k disjoint K1,4 stars (every edge joins deg 4 to deg 1 →
    //    exactly −1 from exact integer moments);
    //  - holtWinters over 1,000 series × 1,500 days (line + exact-
    //    binary weekly cycle + per-series integer offset): all 1,000
    //    folds replayed in Scala step for step, rendered digits equal;
    //  - seasonalDecompose on the SAME input: Σcycle = 0 over any 7
    //    consecutive days, so trend = 0.5·day + offset BIT-EXACTLY,
    //    seasonal = the cycle value, residual = 0, edges NULL;
    //  - theil = 0.0 over 3M all-equal-per-group rows; count-of-counts
    //    over 2.8M rows with planted key sizes 1..7 → exactly 100k
    //    keys per size;
    //  - kCenterSelect over 200k dim-8 vectors: the greedy max-min
    //    radius sequence is non-increasing (the Gonzalez invariant).
    import graft.operators.{Aggregations, Climate, Graph, Similarity}

    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }
    StageLog.record(spark) { log =>
      // ---- A: paired stream → spearman / wilcoxon / rolling corr ----
      val paired = spark.range(3000000L).select(
        col("id").as("event_id"),
        when(pmod(col("id"), lit(2L)) === 0L, "view")
          .otherwise("purchase").as("event_type"),
        expr("timestampadd(DAY, CAST(id div 3000 AS INT), TIMESTAMP '2024-01-01 00:00:00')").as("ts"),
        when(pmod(col("id"), lit(2L)) === 0L, expr("(id div 3000) / 100.0"))
          .otherwise(expr("(id div 3000) / 200.0")).as("value"))
        .repartition(8)
      val (sp, tSp) = timed(
        Climate.spearmanRho(paired, "view", "purchase").collect().head)
      assert((sp.getLong(0), sp.getDouble(1)) == ((1000L, 1.0)), s"$sp")
      val (wx, tWx) = timed(
        Climate.wilcoxonSignedRank(paired, "view", "purchase").collect().head)
      val zExp = math.floor(
        (499500.0 - 999.0 * (999.0 + 1.0) / 4.0) /
          math.sqrt(999.0 * (999.0 + 1.0) * (2.0 * 999.0 + 1.0) / 24.0 - 0.0 / 48.0)
          * 1000000.0 + 0.5) / 1000000.0
      assert((wx.getLong(0), wx.getDouble(1), wx.getDouble(2)) ==
        ((999L, 499500.0, zExp)), s"$wx")
      val (rc, tRc) = timed {
        val r = Climate.rollingCorrelation(paired, "view", "purchase")
        val bad = r.filter(
          (col("day") === 0L && col("r").isNotNull) ||
          (col("day") > 0L && (col("r").isNull || col("r") =!= 1.0))).count()
        (bad, r.count())
      }
      assert(rc == ((0L, 1000L)), s"(bad, total) = $rc")

      // ---- B: clique lcc + star assortativity ----
      val pi = Seq(0, 0, 0, 0, 1, 1, 1, 2, 2, 3)
      val pj = Seq(1, 2, 3, 4, 2, 3, 4, 3, 4, 4)
      val cliqueEdges = spark.range(1000000L).select(
          expr("id div 10").as("c"), pmod(col("id"), lit(10L)).cast("int").as("p"))
        .select(
          (col("c") * 5 + element_at(
            array(pi.map(x => lit(x.toLong)): _*), col("p") + 1)).as("src"),
          (col("c") * 5 + element_at(
            array(pj.map(x => lit(x.toLong)): _*), col("p") + 1)).as("dst"))
        .repartition(8)
      val (lc, tLc) = timed {
        val r = Graph.localClusteringCoeff(cliqueEdges)
        val bad = r.filter(col("deg") =!= 4L || col("n_tri") =!= 6L ||
          col("lcc") =!= 1.0).count()
        (bad, r.count())
      }
      assert(lc == ((0L, 500000L)), s"(bad, total) = $lc")
      val starEdges = spark.range(400000L).select(
        (expr("id div 4") * 5).as("src"),
        (expr("id div 4") * 5 + pmod(col("id"), lit(4L)) + 1).as("dst"))
        .repartition(8)
      val (asr, tAs) = timed(
        Graph.degreeAssortativity(starEdges).collect().head)
      assert((asr.getLong(0), asr.getDouble(1)) == ((400000L, -1.0)), s"$asr")

      // ---- C: Holt-Winters full replay + decompose on the same input ----
      val cyc = Array(2.0, -1.0, 0.5, -0.5, 1.0, -2.0, 0.0)
      val hwIn = spark.range(1500000L).select(
        concat(lit("s"), expr("id div 1500")).as("event_type"),
        expr("timestampadd(DAY, CAST(id % 1500 AS INT), TIMESTAMP '2024-01-01 00:00:00')").as("ts"),
        (lit(0.5) * pmod(col("id"), lit(1500L)).cast("double") +
          element_at(array(cyc.map(lit): _*),
            (pmod(pmod(col("id"), lit(1500L)), lit(7L)) + 1).cast("int")) +
          expr("id div 1500").cast("double")).as("value"))
        .repartition(8)
      def hwReplay(s: Long): (Double, Double, Double) = {
        val q = Array.tabulate(1500)(d => 0.5 * d + cyc(d % 7) + s.toDouble)
        var l = q.take(7).foldLeft(0.0)(_ + _) / 7.0
        var b = (0 until 7).map(i => q(7 + i) - q(i)).foldLeft(0.0)(_ + _) / 49.0
        val sa = Array.tabulate(7)(i => q(i) - l)
        var t = 7
        while (t < 1500) {
          val x = q(t)
          val due = sa(0)
          val lN = 0.5 * (x - due) + 0.5 * (l + b)
          val bN = 0.25 * (lN - l) + 0.75 * b
          val sN = 0.25 * (x - lN) + 0.75 * due
          System.arraycopy(sa, 1, sa, 0, 6)
          sa(6) = sN
          l = lN; b = bN; t += 1
        }
        (l, b, sa(0))
      }
      def h(x: Double, n: Int) =
        math.floor(x * math.pow(10, n) + 0.5) / math.pow(10, n)
      val (hw, tHw) = timed {
        val got = Climate.holtWinters(hwIn).collect()
          .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
            r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
        val bad = (0L until 1000L).count { s =>
          val (l, b, s0) = hwReplay(s)
          got(s"s$s") != ((1500L, h(l, 4), h(b, 6), h(s0, 4), h(l + b + s0, 4)))
        }
        (bad, got.size)
      }
      assert(hw == ((0, 1000)), s"(bad, total) = $hw")
      val (dc, tDc) = timed {
        val r = Climate.seasonalDecompose(hwIn)
        val sOff = expr("CAST(substr(series, 2) AS LONG)").cast("double")
        val expTrend = graft.halfUp(
          lit(0.5) * col("day").cast("double") + sOff, 4)
        val expSeas = graft.halfUp(element_at(array(cyc.map(lit): _*),
          (pmod(col("day"), lit(7L)) + 1).cast("int")), 4)
        val bad = r.filter(
          (col("day").between(3, 1496) &&
            (col("trend") =!= expTrend || col("residual") =!= 0.0)) ||
          ((col("day") < 3 || col("day") > 1496) && col("trend").isNotNull) ||
          col("seasonal") =!= expSeas).count()
        (bad, r.count())
      }
      assert(dc == ((0L, 1500000L)), s"(bad, total) = $dc")

      // ---- D: theil zero + count-of-counts closed form ----
      val eqIn = spark.range(3000000L).select(
        pmod(col("id"), lit(5L)).cast("string").as("grp"),
        (pmod(col("id"), lit(5L)) + 1).cast("double").as("v"))
        .repartition(8)
      val (th, tTh) = timed {
        val r = Aggregations.theilIndex(eqIn, col("grp"), col("v"))
        val bad = r.filter(col("n") =!= 600000L || col("theil") =!= 0.0).count()
        (bad, r.count())
      }
      assert(th == ((0L, 5L)), s"(bad, total) = $th")
      val cocIn = (1 to 7).map(k =>
        spark.range(700000L).select(col("id").as("key"))
          .filter(pmod(col("key"), lit(7L)) === (k - 1).toLong)
          .crossJoin(spark.range(k.toLong).select(col("id").as("rep")))
          .select(col("key"))).reduce(_ unionAll _).repartition(8)
      val (coc, tCoc) = timed {
        Aggregations.countOfCounts(cocIn, col("key")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq
      }
      assert(coc == (1 to 7).map(k => (k.toLong, 100000L)), s"got $coc")

      // ---- E: k-center greedy invariant at 200k × dim 8 ----
      val vecs = spark.range(200000L).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(7)), j =>
          pmod(col("id") * (j + 3) + j * j, lit(1000L)).cast("double") / 100.0)
          .as("embedding"))
      val (kc, tKc) = timed(
        Similarity.kCenterSelect(vecs, k = 8).collect().sortBy(_.getLong(0)))
      assert(kc.length == 8 && kc.map(_.getLong(1)).distinct.length == 8)
      val radii = kc.drop(1).map(_.getDouble(2))
      assert(radii.sliding(2).forall(p => p(0) >= p(1)),
        s"greedy max-min radii must be non-increasing: ${radii.toSeq}")

      assertShuffleBudget(log)

      val ratio = calRatio()
      val section =
        s"""
           |## Round-12 newcomer soak (regenerated by SoakSpec)
           |
           |The round-12 additions at scale, every outcome closed-form
           |exact or replayed step for step, same single-task
           |shuffle-budget listener invariant as the other soaks. One
           |3M-event paired stream (1,000 days) feeds three operators:
           |Spearman reads exactly 1.0 on the strictly-monotone pair,
           |Wilcoxon drops the planted day-0 zero diff and lands W⁺ =
           |499,500 with z equal to the closed chain, and the rolling
           |correlation reads EXACTLY 1.0 in every ≥2-row window (the
           |linear integer grid makes vx·vy a perfect square). Local
           |clustering over 100k disjoint 5-cliques: all 500k nodes
           |read deg 4, n_tri 6, lcc 1.0. Degree assortativity over
           |100k disjoint K1,4 stars: exactly −1 from exact integer
           |moments. Holt–Winters over 1,000 series × 1,500 days
           |(line + exact-binary weekly cycle + integer offsets): all
           |1,000 folds replayed in Scala digit for digit. Seasonal
           |decomposition on the same input: trend = 0.5·day + offset
           |bit-exactly (Σcycle = 0 over any 7 consecutive days),
           |seasonal = the cycle, residual = 0, edges NULL. Theil reads
           |0.0 over 3M all-equal-per-group rows; count-of-counts over
           |2.8M rows with planted key sizes 1..7 reads exactly 100k
           |keys per size. k-center over 200k dim-8 vectors keeps the
           |Gonzalez non-increasing max-min radius invariant.
           |
           || operator | rows in | wall s | cal ratio |
           ||---|---|---|---|
           || spearmanRho (3M paired events) | 3.0M | ${f"$tSp%.1f"} | ${f"$ratio%.2f"} |
           || wilcoxonSignedRank (same stream) | 3.0M | ${f"$tWx%.1f"} | ${f"$ratio%.2f"} |
           || rollingCorrelation (same stream) | 3.0M | ${f"$tRc%.1f"} | ${f"$ratio%.2f"} |
           || localClusteringCoeff (100k cliques) | 1.0M edges | ${f"$tLc%.1f"} | ${f"$ratio%.2f"} |
           || degreeAssortativity (100k stars) | 0.4M edges | ${f"$tAs%.1f"} | ${f"$ratio%.2f"} |
           || holtWinters (1k series × 1.5k days) | 1.5M | ${f"$tHw%.1f"} | ${f"$ratio%.2f"} |
           || seasonalDecompose (same input) | 1.5M | ${f"$tDc%.1f"} | ${f"$ratio%.2f"} |
           || theilIndex (5 groups × 600k) | 3.0M | ${f"$tTh%.1f"} | ${f"$ratio%.2f"} |
           || countOfCounts (sizes 1..7 × 100k) | 2.8M | ${f"$tCoc%.1f"} | ${f"$ratio%.2f"} |
           || kCenterSelect (200k × dim 8) | 0.2M | ${f"$tKc%.1f"} | ${f"$ratio%.2f"} |
           |""".stripMargin
      SoakDoc.upsert(SoakDoc.Path,
        "Round-12 newcomer soak", section)
    }
  }

  test("newcomer soak r14: log-rank / McNemar / BH-FDR battery / sharded zarr sink at scale") {
    // Round-14 additions at scale, every outcome closed-form exact or
    // replayed step-for-step, under the standing single-task
    // shuffle-budget listener invariant:
    //  - log-rank over a 1.5M-event survival stream where the plant
    //    makes the arms symmetric BY CONSTRUCTION (converter bit =
    //    bit1 of user_id, arm = bit0 — independent), so O₁ = E₁ =
    //    250,000 exactly and χ² = 0 through the quantized chain;
    //  - McNemar over a 1.75M-event paired calendar with planted
    //    250k/250k discordant pairs → χ² = 1/500000 exactly;
    //  - the BH-FDR battery over 200k users with one hot cohort:
    //    counts exact, and the FULL z → A&S-erfc → step-up chain
    //    replayed in Scala digit-for-digit from the planted counts;
    //  - the sharded v3 sink writing a 3M-element cube (24 shards ×
    //    125 inner chunks), read back through the range-read scan:
    //    sum exact, pruning inner-chunk granular.
    import graft.operators.Inference
    import graft.sources.zarr.Zarr

    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }
    StageLog.record(spark) { log =>
      // ---- A: symmetric-arm survival stream -> log-rank chi2 = 0 ----
      // 1M users view on day u%500; users with bit1 = 0 purchase 3
      // days later. No censored span falls below 3 (502−499), so the
      // single event day's risk set is ALL 1M, split exactly in half.
      val views = spark.range(1000000L).select(
        col("id").as("user_id"), lit("view").as("event_type"),
        expr("timestampadd(DAY, CAST(id % 500 AS INT), " +
          "TIMESTAMP '2024-01-01 00:00:00')").as("ts"),
        lit(1.0).as("value"))
      val purchases = spark.range(1000000L)
        .filter(expr("(id div 2) % 2 = 0"))
        .select(col("id").as("user_id"), lit("purchase").as("event_type"),
          expr("timestampadd(DAY, CAST(id % 500 AS INT) + 3, " +
            "TIMESTAMP '2024-01-01 00:00:00')").as("ts"),
          lit(1.0).as("value"))
      val survEvents = views.unionByName(purchases).repartition(8)
      val (lr, tLr) = timed(Inference.logRank(survEvents).collect().head)
      assert((lr.getLong(0), lr.getLong(1), lr.getDouble(2),
        lr.getDouble(4)) == ((1L, 250000L, 250000.0, 0.0)), s"$lr")

      // ---- B: planted discordant pairs -> McNemar exact ----
      val mcViews = spark.range(1000000L).select(
        col("id").as("user_id"), lit("view").as("event_type"),
        expr("TIMESTAMP '2024-01-01 00:00:00'").as("ts"),
        lit(1.0).as("value"))
      val p1 = spark.range(1000000L).filter(expr("id % 4 IN (1, 3)"))
        .select(col("id").as("user_id"), lit("purchase").as("event_type"),
          expr("timestampadd(DAY, 100, TIMESTAMP '2024-01-01 00:00:00')")
            .as("ts"),
          lit(1.0).as("value"))
      val p2 = spark.range(1000000L).filter(expr("id % 4 IN (2, 3)"))
        .select(col("id").as("user_id"), lit("purchase").as("event_type"),
          expr("timestampadd(DAY, 900, TIMESTAMP '2024-01-01 00:00:00')")
            .as("ts"),
          lit(1.0).as("value"))
      val mcEvents = mcViews.unionByName(p1).unionByName(p2).repartition(8)
      val (mc, tMc) = timed(
        Inference.mcnemarPaired(mcEvents).collect().head)
      assert((mc.getLong(0), mc.getLong(1), mc.getLong(2), mc.getLong(3),
        mc.getDouble(4)) ==
        ((1000000L, 250000L, 250000L, 250000L, 0.000002)), s"$mc")

      // ---- C: BH-FDR battery, full chain replayed from the plant ----
      // cohort 0: x=1200 of n=11200 (hot); cohorts 1..19: x=1000 of
      // n=11000 each — near the pool, so only the hot cohort rejects.
      val fViews = spark.range(200000L).select(
        col("id").as("user_id"), lit("view").as("event_type"),
        expr("TIMESTAMP '2024-01-01 00:00:00'").as("ts"),
        lit(1.0).as("value"))
      val fPur = spark.range(200000L).filter(expr(
        "(id % 20 = 0 AND (id div 20) % 100 < 12) OR " +
          "(id % 20 <> 0 AND (id div 20) % 10 = 0)"))
        .select(col("id").as("user_id"), lit("purchase").as("event_type"),
          expr("TIMESTAMP '2024-01-02 00:00:00'").as("ts"),
          lit(1.0).as("value"))
      val fEvents = fViews.unionByName(fPur).repartition(8)
      val (fr, tF) = timed(Inference.fdrBh(fEvents).collect())
      assert(fr.length == 20)
      val byCo = fr.map(r => r.getLong(0) -> r).toMap
      assert(byCo(0L).getLong(1) == 1200 && byCo(0L).getLong(2) == 11200,
        s"${byCo(0L)}")
      (1L until 20L).foreach(i => assert(
        byCo(i).getLong(1) == 1000 && byCo(i).getLong(2) == 11000,
        s"${byCo(i)}"))
      // replay z -> A&S erfc -> rank -> step-up -> render, exactly
      val xs = 1200L +: Seq.fill(19)(1000L)
      val nsC = 11200L +: Seq.fill(19)(11000L)
      val pPool = xs.sum.toDouble / nsC.sum.toDouble
      def pv(x: Long, n: Long): Double = {
        val rate = x.toDouble / n.toDouble
        val z = (rate - pPool) /
          math.sqrt(pPool * (1.0 - pPool) / n.toDouble)
        val xa = math.abs(z) / math.sqrt(2.0)
        val t = 1.0 / (1.0 + 0.3275911 * xa)
        ((((1.061405429 * t - 1.453152027) * t + 1.421413741) * t
          - 0.284496736) * t + 0.254829592) * t * math.exp(-xa * xa)
      }
      val ranked = (0 until 20).map(i => (pv(xs(i), nsC(i)), i))
        .sorted.zipWithIndex
        .map { case ((p, co), r0) => (co, p, r0 + 1) }
      val suffixMin = ranked.reverse
        .scanLeft(Double.MaxValue) { case (acc, (_, p, rk)) =>
          math.min(acc, p * 20.0 / rk) }.tail
      val wantBh = ranked.reverse.zip(suffixMin)
        .map { case ((co, _, _), m) =>
          co -> math.floor(math.min(1.0, m) * 1e6 + 0.5) / 1e6 }.toMap
      (0L until 20L).foreach { co =>
        assert(byCo(co).getDouble(6) == wantBh(co.toInt),
          s"cohort $co: ${byCo(co)} vs ${wantBh(co.toInt)}")
        assert(byCo(co).getInt(7) == (if (co == 0L) 1 else 0),
          s"reject drift: ${byCo(co)}")
      }

      // ---- D: sharded v3 sink, 3M-element cube ----
      val (st, sy, sx) = (300L, 100L, 100L)
      val dir = graft.sources.IO.tmp("graft_zarr_shard_soak_") + "/cube"
      val cube = spark.range(0L, st * sy * sx).select(
        expr(s"id div ${sy * sx}").as("t"),
        expr(s"(id div $sx) % $sy").as("y"),
        expr(s"id % $sx").as("x"))
        .withColumn("value",
          (col("t") * 1000000 + col("y") * 1000 + col("x")).cast("double"))
      val (_, tWrite) = timed(Zarr.writeArrayV3ShardedDistributed(
        cube, dir, Array(st, sy, sx), Array(50, 50, 50),
        Array(10, 10, 10), Array("t", "y", "x")))
      val back = Zarr.readArray(spark, dir)
      assert(back.rdd.getNumPartitions == 3000) // inner-chunk granular
      val (got, tRead) = timed(
        back.agg(count(lit(1)).as("n"), sum(col("value")).as("s")).head())
      val want = cube.agg(sum(col("value"))).head().getDouble(0)
      assert(got.getLong(0) == st * sy * sx && got.getDouble(1) == want)
      val sliced = back.filter(col("t") >= 250)
      assert(sliced.rdd.getNumPartitions == 500) // 1 of 6 t-shards
      assert(sliced.count() == 50L * sy * sx)

      assertShuffleBudget(log)

      val ratio = calRatio()
      val section =
        s"""
           |## Round-14 newcomer soak (regenerated by SoakSpec)
           |
           |local[4], planted closed forms, same single-task
           |shuffle-budget listener invariant as above (no violations):
           |log-rank over a 1.5M-event symmetric-arm survival stream
           |(O₁ = E₁ = 250,000 exactly, χ² = 0 through the quantized
           |chain) ${f"$tLr%.1f"} s; McNemar over 1.75M paired events
           |(250k/250k discordant, χ² = 1/500000 exactly)
           |${f"$tMc%.1f"} s; BH-FDR battery over 200k users with one
           |hot cohort — counts exact and the full z → A&S-erfc →
           |step-up chain replayed digit-for-digit, only the hot
           |cohort rejects — ${f"$tF%.1f"} s; sharded v3 sink writing
           |a 3M-element cube (24 shards × 125 inner chunks,
           |zstd) ${f"$tWrite%.1f"} s, full range-read scan-back sum
           |exact over 3,000 inner-chunk partitions ${f"$tRead%.1f"} s,
           |a 1-of-6 t-slice prunes to 500 partitions
           |(cal ratio ${f"$ratio%.2f"}).
           |""".stripMargin
      SoakDoc.upsert(SoakDoc.Path,
        "Round-14 newcomer soak", section)
    }
  }
}
