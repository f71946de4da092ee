package graft

/** Physical-plan assertions: the properties that decide whether a query
  * survives a 100× scale-up — scan pruning, pushdown, broadcast
  * strategy, top-k strategy, and the absence of whole-relation
  * single-task windows. These pin the PLAN, complementing the
  * value-level oracle.
  */
class PlanSpec extends SparkTestBase {

  // formatted explain: full (untruncated) PushedFilters/ReadSchema;
  // the raw executedPlan string keeps partitioning arguments visible.
  private def executed(name: String): String = {
    val qe = SparkEntry.queries(name)(spark, sf).queryExecution
    qe.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted")) +
      qe.executedPlan.toString()
  }

  test("q_filter_time_range: range predicate reaches parquet PushedFilters") {
    val plan = executed("q_filter_time_range")
    assert(plan.contains("PushedFilters:"), plan.take(2000))
    assert(plan.contains("GreaterThanOrEqual(l_shipdate") &&
      plan.contains("LessThan(l_shipdate"),
      s"l_shipdate range not pushed:\n${plan.take(2000)}")
  }

  test("q_agg_group_monthly (flagship): scan is pruned by the time range") {
    val plan = executed("q_agg_group_monthly")
    assert(plan.contains("GreaterThanOrEqual(l_shipdate") &&
      plan.contains("LessThan(l_shipdate") &&
      plan.contains("IsNotNull(l_quantity)"),
      s"flagship filters not pushed:\n${plan.take(2000)}")
  }

  test("q_project: ReadSchema contains only the projected columns") {
    val plan = executed("q_project")
    val schema = plan.linesIterator.find(_.contains("ReadSchema:")).getOrElse("")
    assert(schema.contains("l_orderkey") && schema.contains("l_linenumber") &&
      schema.contains("l_extendedprice") && !schema.contains("l_shipdate") &&
      !schema.contains("l_quantity"), schema)
  }

  test("q_topk plans as TakeOrderedAndProject (no global sort)") {
    assert(executed("q_topk").contains("TakeOrderedAndProject"))
  }

  test("q_stats_fisher: the md5 subsample cap is a TakeOrdered merge, never a full sort") {
    // the scale contract of the exact test: the bounded subsample is
    // a per-partition heap + driver merge, so the factorial spine and
    // the exploded term frame stay k-bounded at ANY corpus size
    val plan = executed("q_stats_fisher")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
  }

  test("q_join_broadcast plans as BroadcastHashJoin") {
    assert(executed("q_join_broadcast").contains("BroadcastHashJoin"))
  }

  test("q_agg_approx_percentile: one mergeable hash aggregate, no sort, no window") {
    // the sketch's scale contract: partial sketches merge map-side,
    // the shuffle carries O(accuracy) state per group, and nothing
    // ever globally sorts or windows the raw values
    val plan = executed("q_agg_approx_percentile")
    val aggs = plan.linesIterator.count(l =>
      l.contains("ObjectHashAggregate") || l.contains("HashAggregate"))
    assert(aggs >= 2, s"expected partial+final aggregate pair:\n${plan.take(2000)}")
    assert(plan.contains("partial_percentile_approx") ||
      plan.contains("percentile_approx"), plan.take(2000))
    assert(!plan.contains("Window"), "sketch path must not window")
    // `executed` concatenates the formatted AND raw renderings of the
    // SAME plan, so one physical Sort prints twice; the single allowed
    // sort is the tiny post-aggregate orderBy(grp) — ≤ 2 lines here
    // means ≤ 1 SortExec in the plan
    val sorts = plan.linesIterator.count(l =>
      l.trim.startsWith("Sort ") || l.contains("(Sort)") || l.contains("+- Sort"))
    assert(sorts <= 2, s"unexpected sorts in the sketch path:\n${plan.take(2000)}")
  }

  test("q_climate_anomaly: climatology and anomaly share ONE cell-month exchange") {
    val plan = executed("q_climate_anomaly")
    // the REPARTITION_BY_NUM exchange is spread()'s single-file-scan
    // correction (graft.spread scaladoc), not part of the plan shape
    // under test — count only the requirement-driven exchanges
    val hashExchanges = plan.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning") &&
        l.contains("ENSURE_REQUIREMENTS")).toSeq
    assert(hashExchanges.size == 1,
      s"expected one hash exchange (lat, lon, month), got:\n${hashExchanges.mkString("\n")}")
    assert(!plan.contains("Join"), "anomaly must not join back to its aggregate")
  }

  test("q_agg_moments: the window and the same-key aggregate share ONE exchange") {
    val plan = executed("q_agg_moments")
    val hashExchanges = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(hashExchanges.size == 1,
      s"expected one hash exchange (grp), got:\n${hashExchanges.mkString("\n")}")
  }

  test("q_join_star: full dimension chain broadcasts, fact never sort-merges") {
    val plan = executed("q_join_star")
    val nBroadcast = plan.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(nBroadcast >= 3,
      s"expected 3 broadcast joins (customer, nation, region), got $nBroadcast")
    assert(!plan.contains("SortMergeJoin"),
      s"star rollup must never shuffle the fact side into a sort-merge join")
  }

  test("q_curation_composite: one digest-keyed exchange, text never shuffles") {
    val plan = executed("q_curation_composite")
    val hashExchanges = plan.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning")).toSeq
    assert(hashExchanges.size == 1,
      s"expected exactly one hash exchange (text_sha), got:\n${hashExchanges.mkString("\n")}")
    assert(hashExchanges.head.contains("text_sha"),
      s"the single exchange must key on the content digest: ${hashExchanges.head}")
    // every signal is computed before the exchange: no exchange (hash
    // or range) carries the raw text column — in formatted explain,
    // each "(n) Exchange" block's Input line lists what shuffles
    val lines = plan.linesIterator.toIndexedSeq
    val exchangeInputs = lines.zipWithIndex
      .filter { case (l, _) => l.matches("""\(\d+\) Exchange.*""") }
      .map { case (_, i) =>
        lines.slice(i + 1, i + 4).find(_.trim.startsWith("Input")).getOrElse("") }
    assert(exchangeInputs.nonEmpty && exchangeInputs.forall(!_.contains("text#")),
      s"document bytes shuffle:\n${exchangeInputs.mkString("\n")}")
  }

  test("q_funnel: the chained stage windows and per-user reduction share ONE hash exchange") {
    val plan = executed("q_funnel")
    val hashExchanges = plan.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning")).toSeq
    assert(hashExchanges.size == 1,
      s"expected exactly one hash exchange (user_id), got:\n${hashExchanges.mkString("\n")}")
    assert(hashExchanges.head.contains("user_id"),
      s"the single exchange must key on user_id: ${hashExchanges.head}")
  }

  test("q_text_tfidf: rank filter pre-reduces map-side, df model broadcast") {
    val plan = executed("q_text_tfidf")
    // rk <= 3 rewrites into a WindowGroupLimit (≤k rows per doc ship
    // into the final order)
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
    // the vocab-sized df table re-attaches by broadcast, not shuffle
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("q_attribution: both touch columns and the conversion filter share ONE user_id exchange") {
    val plan = executed("q_attribution")
    val hashExchanges = plan.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning")).toSeq
    assert(hashExchanges.size == 1,
      s"expected exactly one hash exchange (user_id), got:\n${hashExchanges.mkString("\n")}")
    assert(hashExchanges.head.contains("user_id"),
      s"the single exchange must key on user_id: ${hashExchanges.head}")
  }

  test("q_time_weighted_avg: lead window and per-series aggregate share ONE hash exchange") {
    val plan = executed("q_time_weighted_avg")
    val hashExchanges = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(hashExchanges.size == 1,
      s"expected one hash exchange (series), got:\n${hashExchanges.mkString("\n")}")
    assert(hashExchanges.head.contains("series"),
      s"the single exchange must key on series: ${hashExchanges.head}")
  }

  test("q_interval_coalesce: break flag, ordinal, and span aggregate share ONE key exchange") {
    val plan = executed("q_interval_coalesce")
    val hashExchanges = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(hashExchanges.size == 1,
      s"expected one hash exchange (k), got:\n${hashExchanges.mkString("\n")}")
  }

  test("q_join_fuzzy: equi join on the block key — never a nested-loop or cartesian") {
    val plan = executed("q_join_fuzzy")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin"),
      s"fuzzy join must hash on the block key:\n${plan.take(1500)}")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      "fuzzy join degenerated to an all-pairs strategy")
    // the cheap length-band predicate must be PRESENT in the same
    // conjunction as the edit distance (so the band can short-circuit
    // it). Intra-conjunct ORDER is Catalyst layout, not a contract —
    // current Sparks keep the authored band-first order, but an
    // optimizer reorder would not be a behavior regression, so only
    // co-presence is asserted.
    val cond = plan.linesIterator.find(_.contains("levenshtein")).getOrElse("")
    assert(cond.contains("length"),
      s"length band missing from the levenshtein conjunction: $cond")
  }

  test("q_agg_active_users: raw events are scanned ONCE; fan-out joins the deduped day table") {
    val plan = executed("q_agg_active_users")
    val scans = plan.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("events.parquet"))
    // self-join of two aggregates over one cached-scan subtree: Spark
    // reuses the exchange, so the events file may appear at most twice
    // in the formatted tree (dau + wau branches) but the fan-out
    // explode must operate on the DISTINCT (user, day) table, i.e.
    // below an aggregate, never directly over raw events
    assert(scans <= 2, s"events scanned $scans times")
    // in the top-down tree, the explode's CHILD subtree (the lines
    // between the Generate node and its leaf scan) must contain the
    // dedup HashAggregate — the fan-out never touches raw events
    val lines = plan.linesIterator.toIndexedSeq
    val genIdx = lines.indexWhere(_.contains("Generate explode"))
    assert(genIdx >= 0, "fan-out explode missing")
    val below = lines.drop(genIdx + 1)
      .takeWhile(l => !l.contains("Scan parquet"))
    assert(below.exists(_.contains("HashAggregate")),
      "explode must consume the deduped (user, day) aggregate, not raw events")
  }

  test("q_sample_negatives: embedding vectors never enter an exchange") {
    val plan = executed("q_sample_negatives")
    val lines = plan.linesIterator.toIndexedSeq
    val exchangeInputs = lines.zipWithIndex
      .filter { case (l, _) => l.matches("""\(\d+\) Exchange.*""") }
      .map { case (_, i) =>
        lines.slice(i + 1, i + 4).find(_.trim.startsWith("Input")).getOrElse("") }
    assert(exchangeInputs.nonEmpty &&
      exchangeInputs.forall(!_.contains("embedding#")),
      s"vectors shuffle:\n${exchangeInputs.mkString("\n")}")
  }

  test("q_join_interval_overlap: equi join on the time bucket, never a nested loop") {
    val plan = executed("q_join_interval_overlap")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"overlap join must hash on the bucket:\n${plan.take(1500)}")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      "overlap join degenerated to an all-pairs strategy")
    assert(plan.contains("bk#") || plan.contains("[bk"),
      "join key is not the time bucket")
  }

  test("q_split_holdout / q_filter_gopher: pure projections — no Exchange except the output order") {
    // the split carve and the rule gate are row-local; the only
    // exchange either may show is the final presentation sort's range
    // partitioning (asserted on the raw plan, where partitioning
    // arguments are inline — formatted-explain tree lines are bare)
    for (q <- Seq("q_split_holdout", "q_filter_gopher")) {
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString()
      assert(!plan.contains("Exchange hashpartitioning") &&
        !plan.contains("Exchange SinglePartition"),
        s"$q must not shuffle beyond the output sort:\n${plan.take(2000)}")
    }
  }

  test("q_sample_reservoir: global k-sample is a TakeOrdered merge, never a full sort") {
    val plan = executed("q_sample_reservoir")
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject:\n${plan.take(1200)}")
    // the corpus must not range-shuffle below the limit; the only sort
    // allowed is the ≤k-row presentation orderBy above it
    val rangeExchanges = plan.linesIterator
      .count(_.contains("Exchange rangepartitioning"))
    assert(rangeExchanges == 0,
      s"corpus-wide range exchange in a top-k plan:\n${plan.take(1200)}")
  }

  test("q_sample_per_group: stratum rank filter pre-reduces map-side (WindowGroupLimit)") {
    // rk <= k folds into a Partial WindowGroupLimit below the stratum
    // exchange — a dominant stratum ships ≤ k rows per map task, never
    // its whole population to one window task
    assert(executed("q_sample_per_group").contains("WindowGroupLimit"))
  }

  test("q_join_bloom: sketch probe filters the fact scan BEFORE the broadcast join") {
    val plan = executed("q_join_bloom")
    // the probe is a Filter expression, not a join operator
    assert(plan.contains("graft_bloom_might_contain"),
      s"bloom probe missing from the plan:\n${plan.take(2000)}")
    // exact false-positive cleanup stays broadcast — never a shuffle
    // of the (pre-filtered) fact side
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"exact rerun must be a broadcast left-semi join:\n${plan.take(2000)}")
    assert(!plan.contains("SortMergeJoin"), "fact side must not shuffle")
    // probe sits below the join: the Filter mentioning the sketch must
    // appear AFTER the join operator in the top-down executedPlan dump
    val probeAt = plan.lastIndexOf("graft_bloom_might_contain")
    val joinAt = plan.lastIndexOf("BroadcastHashJoin")
    assert(joinAt >= 0 && probeAt > joinAt,
      "bloom probe must sit on the scan side, below the join")
  }

  test("q_filter_land_mask plans as the codegen'd bitmask FILTER — no join at all") {
    val plan = executed("q_filter_land_mask")
    assert(plan.contains("graft_cellmask"), plan.take(2000))
    assert(!plan.contains("Join"),
      s"bitmask form must not plan a join:\n${plan.take(2000)}")
  }

  test("landMask semi-join fallback plans as a broadcast LEFT-SEMI hash join") {
    import graft.operators.Climate
    val pts = Tables.customer(spark, sf).select(
      org.apache.spark.sql.functions.col("c_custkey"),
      Climate.cellIndex(org.apache.spark.sql.functions.col("c_acctbal"), 90.0, 30.0).as("cell_lat"),
      Climate.cellIndex(org.apache.spark.sql.functions.col("c_acctbal"), 180.0, 30.0).as("cell_lon"))
    val plan = Climate.landMask(pts, Climate.landCells(spark, sf))
      .queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"), plan.take(2000))
  }

  test("q_window_ntile: range-partitioned, no repartition(1), no whole-table global window") {
    val plan = executed("q_window_ntile")
    assert(plan.contains("rangepartitioning"), plan.take(2000))
    // the only SinglePartition exchange feeds the tiny per-partition
    // offset aggregate, never the base scan: the window over _pid is
    // hash-partitioned
    assert(plan.contains("hashpartitioning(_pid"), plan.take(2000))
  }

  test("q_snapshot_diff: shuffles carry digests, never document bytes") {
    val qe = SparkEntry.queries("q_snapshot_diff")(spark, sf).queryExecution
    val plan = qe.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // every Exchange input schema must be digest/key-only — the text
    // column is reduced to sha-256 BELOW the shuffle boundary
    val lines = plan.linesIterator.toVector
    val exchanges = lines.zipWithIndex.filter(_._1.matches("\\(\\d+\\) Exchange.*"))
    assert(exchanges.nonEmpty, plan.take(1500))
    exchanges.foreach { case (_, i) =>
      val input = lines.drop(i + 1).find(_.startsWith("Input")).getOrElse("")
      assert(!input.contains("text#"),
        s"shuffle carries the text column: $input")
      assert(input.contains("digest") || input.contains("doc_id"), input)
    }
  }

  test("q_pack_sequences: distributed prefix sum, no single-task global window") {
    val plan = executed("q_pack_sequences")
    assert(plan.contains("rangepartitioning"), plan.take(2000))
    // the running sum windows over _pid partitions — never the whole relation
    assert(plan.contains("hashpartitioning(_pid"), plan.take(2000))
  }

  test("q_mix_token_budget: grouped prefix sum range-partitions, never windows per-stratum") {
    val plan = executed("q_mix_token_budget")
    // a dominant stratum must SPAN tasks: the running sum is windowed
    // by (_pid, stratum) over a range partitioning, and no window is
    // partitioned by the stratum alone (that would be one task per
    // language at 100 TB)
    assert(plan.contains("rangepartitioning"), plan.take(2000))
    assert(plan.contains("hashpartitioning(_pid"), plan.take(2000))
    val lp = SparkEntry.queries("q_mix_token_budget")(spark, sf)
      .queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val strataOnly = lp.collect {
      case w: LWindow if w.partitionSpec.nonEmpty &&
        !w.partitionSpec.exists(_.references.exists(_.name == "_pid")) => w
    }.filterNot(_.child.collectFirst {
      // the offset stage windows by stratum alone — but over the
      // (_pid, stratum) aggregate, provably ≤ partitions rows/stratum
      case a: Aggregate if a.groupingExpressions.exists(
        _.references.exists(_.name == "_pid")) => a
    }.isDefined)
    assert(strataOnly.isEmpty,
      s"window partitioned by the stratum alone: ${strataOnly.map(_.partitionSpec)}")
  }

  test("q_agg_min_diff: neighbor gaps under an (axis,bucket)-partitioned window") {
    val plan = executed("q_agg_min_diff")
    assert(plan.contains("hashpartitioning(axis") && plan.contains("bucket"),
      plan.take(2000))
  }

  test("bucketed join: sort-merge over bucketed scans with ZERO exchanges") {
    val qe = graft.operators.Joins.bucketedJoin(spark, sf).queryExecution
    val plan = qe.executedPlan.toString()
    assert(plan.contains("SortMergeJoin"), plan.take(2000))
    assert(plan.contains("Bucketed: true"), plan.take(2000))
    // the property that matters at 100 TB: no network movement. (A
    // LOCAL per-bucket sort remains — Spark ≥3.0 ignores sortBy
    // metadata on read by default, SPARK-28632 — linear, in-memory,
    // no exchange.)
    assert(!plan.contains("Exchange"),
      s"bucketed join must not shuffle:\n${plan.take(2000)}")
  }

  test("q_join_salted: the join SHUFFLES on (key, salt)") {
    val plan = executed("q_join_salted")
    // the property under test is the shuffle distribution itself — a
    // broadcast plan would also contain the string 'salt' but would
    // never exercise the skew mitigation
    assert("hashpartitioning\\([^)]*salt".r.findFirstIn(plan).isDefined,
      plan.take(2000))
  }

  test("IVF cells stored bucketBy(cell): a probe reads only its buckets") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sf)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        Similarity.toDouble(org.apache.spark.sql.functions.col("embedding")).as("v"))
    val cells = emb.join(Similarity.ivfAssign(emb), "vec_id")
    val path = graft.sources.IO.tmp("graft_ivf_store_")
    cells.write.mode("overwrite").bucketBy(16, "cell")
      .option("path", s"$path/cells").saveAsTable("graft_ivf_cells")
    // a probe of 4 cells must read ≤ 4 of the 16 buckets — the scan
    // prunes buckets by the filter, which is what turns an ANN probe
    // into a few-bucket read instead of a full scan at 100 TB.
    // (autoBucketedScan would switch a bare filter scan to non-bucketed
    // for parallelism at this tiny size; disable it for the assertion —
    // at real scale the pruned read is the win.)
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val probe = spark.table("graft_ivf_cells")
        .filter(org.apache.spark.sql.functions.col("cell").isin(0, 1, 2, 3))
      probe.collect()
      val plan = probe.queryExecution.executedPlan.toString()
      val m = "SelectedBucketsCount: (\\d+) out of 16".r.findFirstMatchIn(plan)
      assert(m.isDefined, s"no bucket pruning in plan:\n${plan.take(1500)}")
      assert(m.get.group(1).toInt <= 4, plan.take(1500))
    } finally {
      spark.conf.set(key, prev)
      // leave no catalog/warehouse residue for the rest of the suite
      spark.sql("DROP TABLE IF EXISTS graft_ivf_cells")
      graft.sources.IO.rmTree(path)
    }
  }

  test("window sweep: every partition-less Window in every registered query is the bounded prefix-sum offset stage") {
    // A Window with no partitionBy moves its whole input to ONE task —
    // the canonical scale-killer. The engine's contract (Windows.scala
    // scaladoc): the ONLY unpartitioned window anywhere is the second
    // stage of Windows.prefixSums without groups, which runs over
    // a groupBy(_pid) aggregate — provably ≤ spark.sql.shuffle
    // .partitions rows, one per range partition. That stage is also the
    // provenance of the "No Partition Defined for Window operation"
    // warnings in the verify/soak logs: WindowExec warns on ANY empty
    // partitionSpec, bounded input or not. This sweep proves the
    // contract over every registered query: any partition-less Window
    // whose child subtree does NOT contain the _pid aggregate fails.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val lp = SparkEntry.queries(name)(spark, sf).queryExecution.optimizedPlan
      lp.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
        .filterNot(_.child.collectFirst {
          case a: Aggregate if a.groupingExpressions.exists(
            _.references.exists(_.name == "_pid")) => a
        }.isDefined)
        .map(_ => name)
    }
    assert(offenders.isEmpty,
      s"partition-less Window over non-prefix-sum input in: ${offenders.distinct}")
  }

  test("cartesian sweep: no non-broadcast cartesian product in any registered query") {
    // CartesianProductExec is the physical shape Spark falls back to
    // when NEITHER side of a cross/cross-like join is broadcastable —
    // the all-pairs scale-killer. Every deliberate cross in the engine
    // (scalar 1-row statistic attaches, the tiny-dims cross demo, the
    // broadcast NN assignment) must plan as BroadcastNestedLoopJoin
    // instead. Sweep the PHYSICAL plan of every registered query.
    val offenders = SparkEntry.queries.keys.toSeq.sorted.filter { name =>
      SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString().contains("CartesianProduct")
    }
    assert(offenders.isEmpty,
      s"non-broadcast cartesian product in: ${offenders.mkString(", ")}")
  }

  test("q_dedup_containment: blocking and exact-count joins hash on the gram digest, never nested-loop") {
    // the candidate self-join and both exact-count joins must be equi
    // joins keyed on the 8-byte gram digest — a nested-loop fallback
    // here would be the all-pairs scan the blocking exists to avoid
    val plan = executed("q_dedup_containment")
    assert(plan.contains("hashpartitioning(g#") ||
      plan.contains("hashpartitioning(g,"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("q_window_concurrency: the sweep is the _pid-staged prefix sum, day rollup is a hash aggregate") {
    // the ranged layout itself is behind the prefix sum's eager
    // localCheckpoint (so the range exchange is not in this plan
    // string — the fleet window sweep proves the partition-less
    // offset window is the bounded _pid aggregate); what must be
    // visible here: the per-partition running sum windows on _pid
    // (never a whole-relation window) and a map-side-partial day
    // rollup
    val plan = executed("q_window_concurrency")
    assert(plan.contains("_pid"), plan.take(3000))
    assert(plan.contains("HashAggregate"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("q_agg_quantiles_rank: no percentile buffer anywhere; ranks ride the grouped range exchange") {
    val plan = executed("q_agg_quantiles_rank")
    assert(!plan.toLowerCase.contains("percentile"), plan.take(3000))
    assert(plan.contains("rangepartitioning(grp#") ||
      plan.contains("rangepartitioning(grp,"), plan.take(3000))
  }

  test("q_time_m4: one hash-aggregate pair, no Window anywhere (first/last via struct extrema)") {
    // M4's first/last picks must ride the same partial/final aggregate
    // as min/max/count — a window-rank formulation would shuffle every
    // raw row under a (series, day) sort instead of pre-reducing
    // map-side to 4 points + a count per bucket
    val plan = executed("q_time_m4")
    assert(!plan.contains("Window"), plan.take(3000))
    assert(plan.contains("partial_min") || plan.contains("Partial"),
      plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("q_graph_kcore: each peel round's filters are hash equi joins, never nested-loop") {
    // the registered query's rounds run eagerly behind localCheckpoint,
    // so pin the round shape directly: degree-keep filtering must plan
    // as hash joins keyed on the node id — a nested-loop fallback
    // would scan edges × keep-table
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val und = e.select(col("src").as("u"), col("dst").as("v"))
      .union(e.select(col("dst").as("u"), col("src").as("v")))
    val keep = und.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 2).select(col("u"))
    val round = und.join(keep, "u")
      .join(keep.select(col("u").as("v")), "v").select(col("u"), col("v"))
    val plan = round.queryExecution.executedPlan.toString()
    assert(plan.contains("HashJoin"), plan.take(3000))
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      plan.take(3000))
    // and the registered final aggregate hash-partitions on the node
    val reg = executed("q_graph_kcore")
    assert(reg.contains("HashAggregate"), reg.take(3000))
  }

  test("q_window_growth: both lags share ONE prio-partitioned window over the month rollup") {
    // the lag windows must run over the (prio, month) aggregate — a
    // window over raw orders would sort the fact table; and both lag
    // offsets (1 and 12) must share a single Window operator / one
    // prio exchange
    val plan = executed("q_window_growth")
    val windowOps = plan.linesIterator.count(_.matches("""\(\d+\) Window\s*"""))
    assert(windowOps == 1, s"expected one Window op, got $windowOps:\n${plan.take(3000)}")
    assert(plan.contains("hashpartitioning(prio#") ||
      plan.contains("hashpartitioning(prio,"), plan.take(3000))
    assert(plan.contains("HashAggregate"), plan.take(3000))
  }

  test("q_skyline: one brand-key window, never the quadratic nested-loop the oracle uses") {
    val plan = executed("q_skyline")
    val windowOps = plan.linesIterator.count(_.matches("""\(\d+\) Window\s*"""))
    assert(windowOps == 1, s"expected one Window op, got $windowOps:\n${plan.take(3000)}")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("q_window_drawdown / q_window_volatility: one series window each, rolling sums collapsed") {
    for (q <- Seq("q_window_drawdown", "q_window_volatility")) {
      val plan = executed(q)
      val windowOps = plan.linesIterator.count(_.matches("""\(\d+\) Window\s*"""))
      assert(windowOps == 1,
        s"$q: expected one Window op, got $windowOps:\n${plan.take(3000)}")
      assert(plan.contains("hashpartitioning(series#") ||
        plan.contains("hashpartitioning(series,"), s"$q:\n${plan.take(3000)}")
    }
  }

  test("q_stats_poisson: no window anywhere; λ rides a broadcast join") {
    val plan = executed("q_stats_poisson")
    assert(!plan.contains("Window"), plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("q_stats_changepoint: series means broadcast back, window partitioned on the series key") {
    val plan = executed("q_stats_changepoint")
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(plan.contains("hashpartitioning(series#") ||
      plan.contains("hashpartitioning(series,"), plan.take(3000))
  }

  test("q_agg_pareto_cut: head membership rides the _pid-staged grouped prefix sum + broadcast joins") {
    // the ranged layout itself sits behind the prefix sum's eager
    // localCheckpoint (Scan ExistingRDD in this plan string — the
    // fleet window sweep proves the offset windows stay bounded);
    // what must be visible: the _pid local-sum staging, the broadcast
    // totals join, and no nested-loop anywhere
    val plan = executed("q_agg_pareto_cut")
    assert(plan.contains("_pid"), plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("q_time_business_days / q_cohort_ltv: month math is aggregate-shaped, no global window") {
    val bd = executed("q_time_business_days")
    assert(!bd.contains("Window"), bd.take(3000))
    assert(bd.contains("HashAggregate"), bd.take(3000))
    val ltv = executed("q_cohort_ltv")
    // the running sum windows over the (cohort, age) aggregate,
    // partitioned by cohort
    assert(ltv.contains("hashpartitioning(cmidx#") ||
      ltv.contains("hashpartitioning(cmidx,"), ltv.take(3000))
  }

  test("q_graph_two_hop: top-k pre-reduces map-side; exclusion is a hash anti join") {
    val plan = executed("q_graph_two_hop")
    assert(plan.contains("WindowGroupLimit"), plan.take(3000))
    assert(plan.contains("LeftAnti"), plan.take(3000))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("q_climate_extreme: two aggregates, no window, no join") {
    val plan = executed("q_climate_extreme")
    assert(!plan.contains("Window"), plan.take(3000))
    assert(!plan.contains("Join"), plan.take(3000))
    val aggs = plan.linesIterator.count(_.matches("""\(\d+\) HashAggregate\s*"""))
    // raw → blocks (partial+final) → series moments (partial+final)
    assert(aggs == 4, s"expected 4 HashAggregate nodes, got $aggs:\n${plan.take(3000)}")
  }

  test("q_agg_hhi: totals broadcast back; no window anywhere") {
    val plan = executed("q_agg_hhi")
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("Window"), plan.take(3000))
  }

  test("q_similarity_knn_join: rank filter pre-reduces map-side (WindowGroupLimit)") {
    // the per-query top-k must NOT shuffle the full pair set: the
    // rnk <= k filter rewrites into a Partial WindowGroupLimit below
    // the exchange, so each map task ships at most k rows per query
    val plan = executed("q_similarity_knn_join")
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
    assert(plan.contains("Partial"), plan.take(2000))
  }

  test("incremental dedup: existing-side signatures stored bucketBy(band_addr), probe prunes buckets, survivors unchanged") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.{col, pmod, lit, least, greatest}
    val docs = Tables.documents(spark, sf)
    val newDocs = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
    val existing = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    // semantic anchor: the registered operator's survivor set, before
    // any at-rest layout machinery exists
    val expected = Dedup.dedupIncremental(newDocs, existing)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq

    // the at-rest artifact the scaladoc promises: the EXISTING corpus's
    // banded MinHash signatures, bucketed by the combined band address
    val store = Dedup.bandedSignatures(
      Dedup.docSignatures(existing), "doc_id", "sig", 8, 4)
    val path = graft.sources.IO.tmp("graft_incdedup_store_")
    store.write.mode("overwrite").bucketBy(16, "band_addr")
      .option("path", s"$path/sigs").saveAsTable("graft_inc_sigs")
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      // a single-document arrival (the latency path of a streaming
      // dedup) carries ≤ 8 literal band addresses — the scan must
      // read ≤ 8 of the 16 buckets, not the whole corpus
      val oneDoc = Dedup.bandedSignatures(
        Dedup.docSignatures(newDocs.filter(col("doc_id") === 1L)),
        "doc_id", "sig", 8, 4)
        .select("band_addr").collect().map(_.getLong(0)).distinct.toSeq
      assert(oneDoc.nonEmpty && oneDoc.length <= 8, s"${oneDoc.length} addrs")
      val probe = spark.table("graft_inc_sigs")
        .filter(col("band_addr").isin(oneDoc: _*))
      probe.collect()
      val plan = probe.queryExecution.executedPlan.toString()
      val m = "SelectedBucketsCount: (\\d+) out of 16".r.findFirstMatchIn(plan)
      assert(m.isDefined, s"no bucket pruning in plan:\n${plan.take(1500)}")
      assert(m.get.group(1).toInt <= 8, plan.take(1500))

      // candidate parity: the whole new batch's band join against the
      // STORE must surface exactly the mixed (new x existing) candidate
      // pairs the inline pipeline's bucket-groupBy generates — the
      // exact-verify and greedy drop are pure functions of this set,
      // so candidate parity is survivor parity for the existing side
      val newBanded = Dedup.bandedSignatures(
        Dedup.docSignatures(newDocs), "doc_id", "sig", 8, 4)
      val viaStore = spark.table("graft_inc_sigs").select(
          col("id").as("eid"), col("band_id"), col("band_hash"))
        .join(newBanded.select(col("id").as("nid"), col("band_id"),
          col("band_hash")), Seq("band_id", "band_hash"))
        .select(least(col("eid"), col("nid")).as("a"),
          greatest(col("eid"), col("nid")).as("b"))
        .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val inline = Dedup.lshCandidates(
          Dedup.docSignatures(docs), "doc_id", "sig", 8, 4)
        .filter(pmod(col("id_a"), lit(2)) =!= pmod(col("id_b"), lit(2)))
        .collect().map(r => (math.min(r.getLong(0), r.getLong(1)),
          math.max(r.getLong(0), r.getLong(1)))).toSet
      assert(viaStore == inline,
        s"store-probe candidates diverge: only-store=${(viaStore -- inline).take(5)} " +
          s"only-inline=${(inline -- viaStore).take(5)}")

      // and the operator's survivor set is unchanged
      val again = Dedup.dedupIncremental(newDocs, existing)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(again == expected)
    } finally {
      spark.conf.set(key, prev)
      spark.sql("DROP TABLE IF EXISTS graft_inc_sigs")
      graft.sources.IO.rmTree(path)
    }
  }

  test("SRP bands stored bucketBy(band_addr): a probe reads only its buckets") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sf)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        Similarity.toDouble(org.apache.spark.sql.functions.col("embedding")).as("v"))
    val banded = Similarity.srpBanded(emb)
    val path = graft.sources.IO.tmp("graft_srp_store_")
    banded.write.mode("overwrite").bucketBy(16, "band_addr")
      .option("path", s"$path/bands").saveAsTable("graft_srp_bands")
    // a probe carries the query's 8 band addresses — the scan must
    // read ≤ 8 of the 16 buckets, which is what turns an SRP probe
    // into a few-bucket read instead of a full scan at 100 TB (the
    // layout the srpBanded scaladoc promises; same pin as the IVF
    // bucketBy(cell) case above).
    val qAddrs = banded
      .filter(org.apache.spark.sql.functions.col("vec_id") === 0L)
      .select("band_addr").collect().map(_.getLong(0)).toSeq
    assert(qAddrs.length == 8, s"query signature: ${qAddrs.length} bands")
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val probe = spark.table("graft_srp_bands")
        .filter(org.apache.spark.sql.functions.col("band_addr").isin(qAddrs: _*))
      probe.collect()
      val plan = probe.queryExecution.executedPlan.toString()
      val m = "SelectedBucketsCount: (\\d+) out of 16".r.findFirstMatchIn(plan)
      assert(m.isDefined, s"no bucket pruning in plan:\n${plan.take(1500)}")
      assert(m.get.group(1).toInt <= 8, plan.take(1500))
    } finally {
      spark.conf.set(key, prev)
      spark.sql("DROP TABLE IF EXISTS graft_srp_bands")
      graft.sources.IO.rmTree(path)
    }
  }

  test("composite filters sit on the scan side of the spread repartition") {
    // the humidity/temperature composites spread the scan (explicit
    // repartition) before CPU-heavy narrow stages. events.ts ships as
    // parquet TIMESTAMP(MICROS) (TIMESTAMP_NTZ in-plan), so the range
    // predicate is on the RAW stored column and MUST push into the
    // scan (row-group skipping) along with the null predicates; the
    // scan reads only the 3 needed columns, and the residual filter
    // evaluates directly on scan output (before any exchange),
    // discarding rows before they shuffle.
    val plan = executed("q_temperature_composite")
    assert(plan.contains("IsNotNull(ts)") && plan.contains("IsNotNull(value)"),
      s"null predicates not pushed:\n${plan.take(2000)}")
    assert(plan.contains("GreaterThanOrEqual(ts,") && plan.contains("LessThan(ts,"),
      s"time range not pushed into the parquet scan:\n${plan.take(2000)}")
    val eventsSchema = plan.linesIterator
      .filter(_.contains("ReadSchema:")).find(_.contains("event_id"))
      .getOrElse("")
    assert(!eventsSchema.contains("user_id") && !eventsSchema.contains("event_type"),
      s"events scan not pruned: $eventsSchema")
    val filterLine = plan.linesIterator
      .find(l => l.contains("Condition :") && l.contains("2022-01-01")).getOrElse("")
    assert(filterLine.contains("ts#") && filterLine.contains("2025-06-01"),
      s"time range does not evaluate at the scan:\n${plan.take(2000)}")
  }

  test("composites join only by broadcast — no sort-merge join anywhere") {
    // the land-mask semi-join and the per-month resolution attach must
    // both broadcast (their right sides are bounded: the cell lookup
    // and one row per month); an SMJ would mean the fact side shuffles
    Seq("q_humidity_composite", "q_temperature_composite").foreach { q =>
      val plan = executed(q)
      assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
        s"$q land mask not broadcast semi:\n${plan.take(1500)}")
      assert(!plan.contains("SortMergeJoin"),
        s"$q has a sort-merge join:\n${plan.take(1500)}")
    }
  }

  test("document validation parses above the sort's range exchange, never beneath it") {
    // a range-partitioned sort evaluates its input twice (the sampling
    // job, then the shuffle map): a parse beneath the exchange parses
    // every document twice
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val helper = new AdaptiveSparkPlanHelper {}
    // either parse form: get_json_object, or from_json (JsonToStructs)
    def parses(p: SparkPlan): Boolean =
      helper.find(p)(_.expressions.exists { e =>
        val s = e.toString
        s.contains("get_json_object") || s.contains("from_json")
      }).isDefined
    Seq("q_humidity_composite", "q_geojson_validate").foreach { q =>
      // the plan as submitted: at this tiny scale AQE's runtime row
      // counts can drop the one-document sort from the final plan
      val plan = SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan
      val ranges = helper.collect(plan) {
        case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
      }
      assert(ranges.nonEmpty, s"$q has no range exchange:\n$plan")
      assert(parses(plan), s"$q never parses its documents:\n$plan")
      ranges.foreach(e =>
        assert(!parses(e.child), s"$q parses beneath the range exchange:\n$plan"))
    }
  }

  test("q_fn_explode: the row filter pushes below the generator into the scan") {
    val plan = executed("q_fn_explode")
    assert(plan.contains("LessThan(vec_id,20)"),
      s"vec_id filter not pushed:\n${plan.take(2000)}")
  }

  test("q_sql_entry: the SQL path gets the same parquet pushdown as the DataFrame API") {
    val plan = executed("q_sql_entry")
    assert(plan.contains("LessThanOrEqual(l_shipdate"),
      s"SQL-path filter not pushed:\n${plan.take(2000)}")
    val schema = plan.linesIterator.find(_.contains("ReadSchema:")).getOrElse("")
    assert(!schema.contains("l_orderkey") && !schema.contains("l_partkey"), schema)
  }

  test("hot per-row pipelines run inside WholeStageCodegen spans") {
    // the per-row metric pipelines must run inside generated code —
    // a UDF in the hot path would produce a span-free plan. AQE shows
    // codegen only in the FINAL plan, so execute (tiny sf) first; the
    // `*(n)` stage prefix is the codegen marker in the plan string.
    // (Projections containing higher-order-function lambdas stay
    // interpreted by design — Spark HOFs don't participate — which is
    // exactly why the hot HOF loops were replaced with the native
    // MinHashSig/SimHashVotes/VectorDot expressions.)
    Seq("q_text_quality", "q_fn_math", "q_fn_geo", "q_case_when",
        "q_similarity_topk").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString()
      assert(plan.contains("*("), s"$q has no codegen stage:\n${plan.take(1500)}")
    }
  }

  test("q_similarity_topk: single-pass top-k, broadcast query vector") {
    val plan = executed("q_similarity_topk")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      plan.take(2000))
  }

  test("q_text_repetition: both aggregation levels reuse the spread's doc_id partitioning") {
    val plan = executed("q_text_repetition")
    val exchanges = plan.linesIterator
      .filter(_.matches("\\(\\d+\\) Exchange.*")).toVector
    // exactly 3 shuffles: one hash(doc_id) spread per branch (the
    // single-split-source correction) and the final presentation sort.
    // Both the (doc_id, token/gram) merge and the per-doc reduction run
    // ON the spread's distribution — doc_id partitioning co-locates
    // every finer grouping, so neither aggregation level re-shuffles,
    // and the stats join needs no exchange at all (small side
    // broadcasts). A 4th exchange means that reuse broke.
    assert(exchanges.length == 3,
      s"expected 3 exchanges, got ${exchanges.length}:\n${exchanges.mkString("\n")}")
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
  }

  test("q_climate_composite: grid resolution in one aggregate, no Window, 6 shuffles") {
    val plan = executed("q_climate_composite")
    val exchanges = plan.linesIterator
      .filter(_.matches("\\(\\d+\\) Exchange.*")).toVector
    // the resolution is one global collect_set aggregate, never the
    // bucketed window chain (13 exchanges and 2 Windows when it was)
    assert(!plan.contains("Window"), s"resolution inference windows:\n${plan.take(3000)}")
    // exactly 6 shuffles, as submitted: per branch (resolution,
    // features) one hash(event_id) spread, which prune different
    // columns and so stay two exchanges, and one land-cell distinct
    // (identical, listed twice before AQE reuses one at run time); the
    // aggregate's single-partition exchange; the final range sort.
    // A 7th means the resolution grew a stage back.
    assert(exchanges.length == 6,
      s"expected 6 exchanges, got ${exchanges.length}:\n${exchanges.mkString("\n")}")
  }

  test("q_join_range_bucketed: the keyless range join plans as an EQUI join on buckets") {
    val plan = executed("q_join_range_bucketed")
    // the whole point: a bare |Δt| <= w predicate would plan as a
    // nested loop; the bucket expansion must yield a keyed join
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"range join fell back to a nested loop:\n${plan.take(2000)}")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("q_prune_dynamic: runtime month dim dynamically prunes the hive partition scan") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = SparkEntry.queries("q_prune_dynamic")(spark, sf)
    // the pruning subquery must be IN the plan (not optimized away to a
    // static filter — the month set only exists at runtime)
    val planned = df.queryExecution.executedPlan.toString()
    assert(planned.contains("dynamicpruning"),
      s"no dynamic pruning subquery in plan:\n${planned.take(2000)}")
    df.collect()
    // after execution the partitioned scan must have READ only the dim's
    // months: the layout holds 80 (year,month) directories, Q1 shipping
    // months are ~20 — the partitions-read metric is the proof the
    // subquery reached the file index, not just the plan text
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val factScan = scans(df.queryExecution.executedPlan)
      .find(_.metadata.get("Location").exists(_.contains("graft_hive_orders_")))
    assert(factScan.isDefined, "partitioned fact scan not found in executed plan")
    val read = factScan.get.metrics("numPartitions").value
    assert(read > 0 && read <= 40,
      s"expected ~20 of 80 partitions read under dynamic pruning, got $read")
  }

  private def ensureHashExchanges(plan: String): Seq[String] =
    plan.linesIterator.filter(l => l.contains("Exchange hashpartitioning") &&
      l.contains("ENSURE_REQUIREMENTS")).toSeq

  test("q_climate_trend: one cell-key exchange, no join") {
    val plan = executed("q_climate_trend")
    val ex = ensureHashExchanges(plan)
    assert(ex.size == 1, s"expected one hash exchange (lat, lon):\n${ex.mkString("\n")}")
    assert(!plan.contains("Join"), "trend must be a pure aggregate")
  }

  test("q_climate_degree_days: one cell-month exchange, no join") {
    val plan = executed("q_climate_degree_days")
    val ex = ensureHashExchanges(plan)
    assert(ex.size == 1, s"expected one hash exchange:\n${ex.mkString("\n")}")
    assert(!plan.contains("Join"), "degree days must be a pure aggregate")
  }

  test("q_window_percent_rank: both rank functions share one partition-key exchange") {
    val ex = ensureHashExchanges(executed("q_window_percent_rank"))
    assert(ex.size == 1,
      s"expected one hash exchange (o_orderpriority):\n${ex.mkString("\n")}")
  }

  test("q_text_chunk: row-local generate — zero hash exchanges") {
    val plan = executed("q_text_chunk")
    val ex = plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(ex.isEmpty, s"chunking must not shuffle:\n${ex.mkString("\n")}")
    assert(plan.contains("Generate"), "expected the sequence explode generator")
  }

  test("q_join_asof_nearest: forward and backward passes share ONE user-key exchange") {
    // the descending-sort trick means both running-last frames live on
    // the same hashpartitioning(user_id) layout — a second exchange
    // would mean the time-reversed pass re-shuffled the union
    val ex = ensureHashExchanges(executed("q_join_asof_nearest"))
    assert(ex.size == 1,
      s"expected one user_id exchange for both asof directions:\n${ex.mkString("\n")}")
  }

  test("q_climate_heatwave: daily reduction + island window = two exchanges, no join") {
    val plan = executed("q_climate_heatwave")
    val ex = ensureHashExchanges(plan)
    // (lat, day) for the daily max, then (lat) for the island window —
    // the run and band aggregates ride the lat partitioning (subset
    // clustering), so nothing else exchanges
    assert(ex.size == 2, s"expected two hash exchanges:\n${ex.mkString("\n")}")
    assert(!plan.contains("Join"), "heatwave must not join")
  }

  test("q_agg_listagg: rank bound pre-reduces map-side (WindowGroupLimit)") {
    // rk <= 5 must fold into a WindowGroupLimit below the shuffle so
    // at most k rows per language reach the listagg aggregate
    assert(executed("q_agg_listagg").contains("WindowGroupLimit"))
  }

  test("q_sample_weighted: global weighted top-k is TakeOrderedAndProject, never a sort") {
    val plan = executed("q_sample_weighted")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
  }

  test("q_text_collocations: vocab re-attaches by broadcast, top-k never global-sorts the pair table") {
    val plan = executed("q_text_collocations")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"),
      s"vocab joins must broadcast, not shuffle:\n${plan.take(3000)}")
  }

  test("q_embed_kmeans: assignment never shuffles the corpus (literal model, no join at all)") {
    val plan = executed("q_embed_kmeans")
    // the k×d model is a driver-held literal (r17: the MLlib Lloyd
    // posture) — the assignment plan joins NOTHING: scan → project →
    // sort. Any join here means the model stopped being O(model).
    assert(!plan.contains("Join"),
      s"kmeans assignment must not join (literal model):\n${plan.take(3000)}")
  }

  test("q_agg_winsorized: cut points re-attach by broadcast; one window shuffle on the group key") {
    val plan = executed("q_agg_winsorized")
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"),
      s"winsorize cut join must broadcast:\n${plan.take(3000)}")
  }
}
