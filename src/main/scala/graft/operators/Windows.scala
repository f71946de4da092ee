package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Window-function surface (SURVEY §2.5).
  *
  * Reference semantics: the neighbor-gap computation in grid-resolution
  * inference (pipelines/precipitation_pipeline.py:174-182) is a lag;
  * everything else generalizes it (ranked/running/moving/frame forms).
  *
  * Scale posture: every window over unbounded input is PARTITIONED
  * (partitionBy a key) — a global window moves the whole relation to
  * one task; where a global order is genuinely required
  * (ntile/percent_rank), it is decomposed into range-partitioned
  * local windows plus a cumulative pass over one row per partition
  * (see prefixSums). Window order keys always include a
  * unique tiebreaker so results are deterministic under ties.
  */
object Windows {

  import org.apache.spark.sql.{Column, DataFrame}

  private def perCustomerByDate = Window
    .partitionBy(col("o_custkey"))
    .orderBy(col("o_orderdate"), col("o_orderkey"))

  /** Distributed running sums over a total order — the one scale-safe
    * replacement for `sum(…) OVER ([PARTITION BY groups] ORDER BY …)`,
    * for `row_number()` (the running sum of 1) and, through
    * [[withGlobalNtile]], for `ntile`. The naive window moves the whole
    * relation, or each group, to ONE task: a dominant group (30% of a
    * 100 TB corpus in one stratum) becomes a single-task stage. Here:
    *  1. one range repartition on `groups ++ sortCols` — a big group
    *     SPANS partitions contiguously;
    *  2. one pin of that layout: the running-sum window and the
    *     offsets aggregate both consume it, and each re-executing the
    *     range exchange on its own (exchange reuse is not guaranteed —
    *     AQE canonicalization can decline it) may SAMPLE DIFFERENT
    *     RANGE BOUNDARIES, making `_pid` disagree between the branches
    *     and silently corrupting the sums. `lazyPin = false` pins with
    *     an eager `localCheckpoint`; `lazyPin = true` with `persist()`,
    *     so the range exchange still runs once (inside the cached
    *     relation's lazily built buffer) but BUILDING the frame
    *     launches no job — the form for frames that dry-run plans
    *     without executing ([[Climate.featureCollection]]). The lazy pin
    *     keeps the layout in the block-manager cache for the plan's
    *     lifetime instead of truncating it from lineage;
    *  3. per-row running sums under a (_pid, groups…) window (rows
    *     frame — per-row even among sort-key peers);
    *  4. per-(partition, group) partials, from which both the broadcast
    *     offsets (≤ shuffle-partitions rows per group, under a window
    *     partitioned by the groups — never by nothing) and the totals
    *     derive.
    *
    * Returns `(ranked, totals)`. `ranked` is the input rows (group
    * columns first when grouped) plus one `out` column per measure.
    * `totals` is lazy and has one row per group — exactly one row when
    * `groups` is empty, as a global aggregate has — holding the row
    * count `_n` and each measure's total under its `out` name; it
    * aggregates the pinned layout's partials, never the input chain,
    * so callers needing "the running sum AND the total" do not
    * re-aggregate their input.
    *
    * EXACTNESS CONTRACT: running sums and totals are reassociated
    * partial sums, bit-identical to a one-pass sum only under exact
    * arithmetic, so every measure must be integral (byte, short, int
    * or long). Any other type is rejected from the schema at build
    * time, before any job. `sortCols` must be a total order (include a
    * unique tiebreaker) so range boundaries and running sums are
    * deterministic. */
  def prefixSums(df: DataFrame, groups: Seq[String],
      measures: Seq[(Column, String)], sortCols: Seq[Column],
      lazyPin: Boolean = false): (DataFrame, DataFrame) = {
    require(measures.nonEmpty, "need at least one (value, out) measure")
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    measures.foreach { case (v, out) =>
      // a literal is typed as is: analysing it would give it a fresh
      // alias id, shifting every id printed in a lazily pinned plan
      val e = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .expression(v)
      val t = if (e.resolved) e.dataType else df.select(v).schema.head.dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t),
        s"prefixSums: measure $v (-> $out) is ${t.simpleString}; " +
          "only byte/short/int/long measures sum exactly across partitions")
    }
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val keys = groups.map(col)
    val ranged = df.repartitionByRange(parts, keys ++ sortCols: _*)
      .withColumn("_pid", spark_partition_id())
    val runFrame = Window.partitionBy(col("_pid") +: keys: _*)
      .orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ms = measures.zipWithIndex
    val local = ms.foldLeft(if (lazyPin) ranged.persist() else ranged.localCheckpoint()) {
      case (acc, ((v, _), i)) => acc.withColumn(s"_lcs$i", sum(v).over(runFrame))
    }
    val sums = ms.map { case ((v, _), i) => sum(v).as(s"_cnt$i") }
    val partials = local.groupBy(col("_pid") +: keys: _*)
      .agg(sums.head, sums.tail :+ count(lit(1)).as("_rc"): _*)
    // Global offsets partition by pmod(_pid, 1): semantically the same
    // single-partition window as a partition-less spec (the offsets
    // table is bounded at <= shuffle-partitions rows BY CONSTRUCTION,
    // so one task is correct), but WindowExec only logs its "No
    // Partition Defined" performance warning for an EMPTY partition
    // spec — ~400 known-benign lines per test run that would bury a
    // FUTURE partition-less window over an unbounded relation (a real
    // bug). The key must be NON-FOLDABLE: a literal partition key is
    // constant-folded out of the spec (AQE re-optimizes checkpointed
    // subplans too), bringing the warning back.
    val offFrame = Window
      .partitionBy((if (keys.isEmpty) Seq(pmod(col("_pid"), lit(1))) else keys): _*)
      .orderBy(col("_pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = partials.select(col("_pid") +: keys ++: ms.map { case (_, i) =>
      coalesce(sum(col(s"_cnt$i")).over(offFrame), lit(0L)).as(s"_off$i") }: _*)
    val ranked = ms.foldLeft(local.join(broadcast(offsets), "_pid" +: groups)) {
      case (acc, ((_, out), i)) =>
        acc.withColumn(out, col(s"_lcs$i") + col(s"_off$i")).drop(s"_lcs$i", s"_off$i")
    }.drop("_pid")
    val totals = partials.groupBy(keys: _*)
      .agg(coalesce(sum(col("_rc")), lit(0L)).as("_n"),
        ms.map { case ((_, out), i) => sum(col(s"_cnt$i")).as(out) }: _*)
    (ranked, totals)
  }

  /** SQL-standard ntile bucket of row `rn` among `n` rows (LONG column
    * names): the first n mod b buckets take ⌈n/b⌉ rows, the rest
    * ⌊n/b⌋ — pure integer arithmetic. With n < b every row is its own
    * bucket: rn ≤ n = n mod b takes the first branch, so the ÷ q branch
    * is never evaluated at q = 0. */
  private[operators] def ntileBucket(rn: String, n: String, buckets: Int): Column = {
    require(buckets >= 1, s"need buckets >= 1: $buckets")
    val (q, r) = (s"($n div $buckets)", s"($n % $buckets)")
    expr(s"IF($rn <= $r * ($q + 1), ($rn + $q) div ($q + 1), " +
      s"$r + ($rn - $r * ($q + 1) + $q - 1) div $q)")
  }

  /** Distributed GLOBAL ntile over the `sortCols` total order: the
    * [[ntileBucket]] formula over [[prefixSums]]' distributed row number,
    * with N from the same layout's `totals` — no single-task
    * whole-relation window, and no second pass over `df` to count it.
    * Sort keys must be a total order. */
  def withGlobalNtile(df: DataFrame, out: String, buckets: Int,
      sortCols: Column*): DataFrame = {
    val bucket = ntileBucket("__rn", "__n", buckets)
    val (ranked, totals) = prefixSums(df, Nil, Seq(lit(1L) -> "__rn"), sortCols)
    ranked.crossJoin(broadcast(totals.select(col("_n").as("__n"))))
      .withColumn(out, bucket)
      .drop("__rn", "__n")
  }

  /** RFM segmentation — the classic customer-value triage: per-entity
    * Recency (days since last order, vs the corpus max date), Frequency
    * (order count), Monetary (total spend, rounded to cents BEFORE the
    * rank so cross-engine float sums cannot reorder ties), each cut
    * into `buckets` quantile scores, concatenated into the segment
    * label ("555" = most recent / most frequent / biggest spender under
    * ascending-rank convention... quintile 1 = lowest value of the
    * metric).
    *
    * Scale posture: the corpus reduces to one row per entity first;
    * the three quantile cuts are [[withGlobalNtile]] passes — range
    * repartition + broadcast offsets each, never a single-task global
    * window — over the entity table, which is orders-of-magnitude
    * smaller than the order log. */
  def rfm(orders: DataFrame, buckets: Int = 5): DataFrame = {
    // entity table checkpointed once: the reference date is the max
    // of the PER-ENTITY last-order dates (same value as a second
    // orders scan, by max-of-max), so the order log is read exactly
    // once and the three quantile cuts plus the reference aggregate
    // all work from the entity-sized checkpoint
    val per = orders.groupBy(col("o_custkey"))
      .agg(max(to_date(col("o_orderdate"))).as("__last"),
        count(lit(1)).cast("long").as("f_orders"),
        round(sum(col("o_totalprice")), 2).as("m_total"))
      .localCheckpoint()
    val ref = per.agg(max(col("__last")).as("__ref"))
    val base = per.crossJoin(broadcast(ref))
      .withColumn("r_days", datediff(col("__ref"), col("__last")).cast("long"))
      .drop("__ref", "__last")
    // each quantile pass takes N from its own pinned layout's partials,
    // so no pass re-executes pass k-1's chain just to recount the rows
    val scored = Seq(
      ("r_q", col("r_days")), ("f_q", col("f_orders")), ("m_q", col("m_total")))
      .foldLeft(base) { case (df, (out, metric)) =>
        withGlobalNtile(df, out, buckets, metric, col("o_custkey"))
      }
    scored
      .withColumn("segment", concat(col("r_q").cast("string"),
        col("f_q").cast("string"), col("m_q").cast("string")))
      .select(col("o_custkey"), col("r_days"), col("f_orders"),
        col("m_total"), col("r_q"), col("f_q"), col("m_q"), col("segment"))
      .orderBy(col("o_custkey"))
  }

  /** Gap-based sessionization over (user_id, ts, event_id) events: a
    * session breaks after > gapSec of inactivity. One row per session:
    * (user_id, session_id ordinal-within-user, n_events, start_us,
    * end_us). One shuffle total — the break-flag lag, the running-sum
    * ordinal, AND the final per-session aggregate all live on the
    * window's user_id hash partitioning (partitioning by a subset of
    * the grouping keys satisfies the aggregate's distribution), and
    * sessions never span users, so the layout holds at any scale. */
  def sessionize(events: DataFrame, gapSec: Long): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val prev = lag(col("us"), 1).over(w)
    events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("brk",
        when(prev.isNull || col("us") - prev > gapSec * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("us")).as("start_us"), max(col("us")).as("end_us"))
  }

  /** Ordered funnel analysis: how many users completed each prefix of
    * the stage sequence IN ORDER (a later stage only counts after an
    * earlier one has already happened for that user). Stage membership
    * is computed as chained cumulative flags over ONE (user_id)-hash
    * window partitioning — flag i is the running max of "this event is
    * stage i AND flag i-1 is already set at this row" — so all |stages|
    * window passes, the per-user reduction, AND the final 1-row count
    * share a single shuffle; nothing user-spanning ever re-exchanges.
    * Ties at identical timestamps break on event_id, so the order (and
    * the result) is deterministic. */
  def funnel(events: DataFrame, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    var df = events.select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("us"), col("event_type"))
    stages.zipWithIndex.foreach { case (st, i) =>
      val hit =
        if (i == 0) when(col("event_type") === st, 1).otherwise(0)
        else when(col("event_type") === st && col(s"s${i - 1}") === 1, 1)
          .otherwise(0)
      df = df.withColumn(s"s$i", max(hit).over(w))
    }
    val perUser = df.groupBy(col("user_id"))
      .agg(max(col("s0")).as("s0"),
        stages.indices.drop(1).map(i => max(col(s"s$i")).as(s"s$i")): _*)
    val counts = count(lit(1)).cast("long").as("n_users") +:
      stages.indices.map(i =>
        sum(col(s"s$i")).cast("long").as(s"n_stage${i + 1}"))
    perUser.agg(counts.head, counts.tail: _*)
  }

  /** Cohort retention: users bucketed by their first-active period
    * (`fmt` picks the grain — day/week/month), then distinct (cohort,
    * activity-period) user counts — the standard retention triangle.
    * Shuffles carry (user_id, period) pairs and counts, never event
    * rows: the distinct collapses each user's period activity first,
    * the cohort reduction and the join both key on user_id, and the
    * final aggregate keys on the (tiny) period pair. */
  def cohortRetention(events: DataFrame,
      fmt: String = "yyyy-MM"): DataFrame = {
    val activity = events
      .select(col("user_id"), date_format(col("ts"), fmt).as("ym"))
      .distinct()
    val cohorts = activity.groupBy(col("user_id"))
      .agg(min(col("ym")).as("cohort"))
    activity.join(cohorts, "user_id")
      .groupBy(col("cohort"), col("ym"))
      .agg(count(lit(1)).cast("long").as("n_users"))
      .orderBy(col("cohort"), col("ym"))
  }

  /** Gaps-and-islands: maximal runs of CONSECUTIVE active calendar
    * days per user (the classic streak query — "N-day streaks" in
    * engagement analytics). Island key = day − row_number(day within
    * user): consecutive days share the key, any gap shifts it.
    *
    * Scale posture: the distinct collapses the event stream to
    * (user_id, day) pairs first — the window and the island aggregate
    * then run over ≤ users × days rows, orders of magnitude below the
    * event count, and the per-user window is always partitioned (a
    * user's history is bounded by the calendar, not the corpus). */
  def gapIslands(events: DataFrame): DataFrame = {
    val days = events
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    days
      .withColumn("grp", date_sub(col("day"), row_number().over(w)))
      .groupBy(col("user_id"), col("grp"))
      .agg(date_format(min(col("day")), "yyyy-MM-dd").as("streak_start"),
        date_format(max(col("day")), "yyyy-MM-dd").as("streak_end"),
        count(lit(1)).cast("long").as("n_days"))
      .select(col("user_id"), col("streak_start"), col("streak_end"),
        col("n_days"))
      .orderBy(col("user_id"), col("streak_start"))
  }

  /** INTERVAL COALESCING: merge overlapping-or-touching [start, end)
    * intervals per key into maximal covered spans — the "total time
    * actually covered" primitive (machine uptime, sensor coverage,
    * on-screen time) that naive SUM(end − start) double-counts. The
    * sibling of [[gapIslands]] on a continuous axis: a new span starts
    * exactly where an interval's start exceeds the running max of all
    * PRIOR ends (strictly-preceding frame, so the flag never sees its
    * own end), and the running sum of start flags is the span ordinal.
    *
    * One shuffle on the key: the prior-end max, the span ordinal, and
    * the final per-span aggregate all sit on the same user_id hash
    * partitioning (grouping on (key, span) is satisfied by the
    * window's key distribution). Spans never cross keys, so the
    * layout holds at any scale. */
  def coalesceIntervals(intervals: DataFrame, key: Column,
      startUs: Column, endUs: Column): DataFrame = {
    val base = intervals.select(key.as("k"), startUs.as("s_us"),
      endUs.as("e_us"))
    val ord = Window.partitionBy(col("k")).orderBy(col("s_us"), col("e_us"))
    val prior = ord.rowsBetween(Window.unboundedPreceding, -1)
    val brk = when(coalesce(col("s_us") > max(col("e_us")).over(prior),
      lit(true)), 1L).otherwise(0L)
    base
      .withColumn("span", sum(brk).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("k"), col("span"))
      .agg(min(col("s_us")).as("start_us"), max(col("e_us")).as("end_us"),
        count(lit(1)).as("n_merged"))
      .select(col("k"), col("span"), col("start_us"), col("end_us"),
        (col("end_us") - col("start_us")).as("covered_us"), col("n_merged"))
      .orderBy(col("k"), col("span"))
  }

  /** MONTH-over-month + YEAR-over-year growth per group over a money
    * measure — the canonical finance/BI readout a period table exists
    * to answer; the month key is the integer month INDEX
    * (year·12 + month − 1) so both deltas are GAP-GUARDED: mom/yoy
    * come out NULL unless the lagged row is exactly 1/12 months back
    * (a naive lag over a gapped month series silently compares
    * non-adjacent periods — the classic dashboard bug).
    *
    * Parity: monthly revenue sums integer CENTS (order-free BIGINTs);
    * each pct is one fixed-order double chain over two exact longs,
    * halfUp-rendered. Scale posture: facts collapse to (group, month)
    * in one map-side-partial hash aggregate; the lag windows run over
    * the calendar-bounded month table, partitioned by group — never a
    * global window. */
  def monthlyGrowth(orders: DataFrame): DataFrame = {
    val m = orders.groupBy(col("o_orderpriority").as("prio"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
          .cast("long").as("midx"))
      .agg(sum(floor(col("o_totalprice") * lit(100.0) + lit(0.5))
        .cast("long")).as("cents"))
    val w = Window.partitionBy(col("prio")).orderBy(col("midx"))
    def pct(cur: Column, prev: Column) =
      graft.halfUp((cur - prev).cast("double") / prev.cast("double") *
        lit(100.0), 4)
    m.select(col("prio"), col("midx"), col("cents"),
        lag(struct(col("midx"), col("cents")), 1).over(w).as("p1"),
        lag(struct(col("midx"), col("cents")), 12).over(w).as("p12"))
      .select(col("prio"), expr("midx div 12").as("year"),
        (pmod(col("midx"), lit(12L)) + 1L).as("month"), col("cents"),
        when(col("p1.midx") === col("midx") - 1L,
          pct(col("cents"), col("p1.cents"))).as("mom_pct"),
        when(col("p12.midx") === col("midx") - 12L,
          pct(col("cents"), col("p12.cents"))).as("yoy_pct"))
      .orderBy(col("prio"), col("year"), col("month"))
  }

  /** MAX DRAWDOWN per series: the largest drop from a running peak
    * over the (ts, event_id)-ordered value stream — the
    * peak-to-trough degradation readout (portfolio risk, capacity
    * headroom, throughput regression) that per-point z-scores and
    * the mean-anchored CUSUM ([[cusumProfile]]) cannot express,
    * because the reference level is the running MAXIMUM, not a
    * constant. Emitted per series: the max drawdown in value units,
    * the peak/trough pair that realized it, and the relative
    * drawdown as a fraction of that peak (NULL when the peak is
    * ≤ 0 — a ratio against a non-positive peak is meaningless).
    *
    * Float parity is by INTEGER construction: values quantize to a
    * 1e-6 grid as BIGINTs, the running peak is an integer max (no
    * arithmetic), the drawdown is an integer difference, and the
    * per-series argmax picks by the total (ddq, peakq, vq) struct
    * order — bit-identical on any engine/partitioning. The one
    * double division (dd/peak) is a fixed two-operand chain over
    * exact longs, halfUp-rendered.
    *
    * Scale posture: one series-key window shuffle (running max
    * carries a single long), one map-side-partial hash aggregate.
    * Relation-sized single series escalate to the distributed
    * prefix-sum pattern. */
  def maxDrawdown(events: DataFrame): DataFrame = {
    val base = events.filter(col("value").isNotNull)
      .select(col("event_type").as("series"), col("ts"), col("event_id"),
        floor(col("value") * lit(1e6) + lit(0.5)).cast("long").as("vq"))
    val w = Window.partitionBy(col("series"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .withColumn("peakq", max(col("vq")).over(w))
      .withColumn("ddq", col("peakq") - col("vq"))
      .groupBy(col("series"))
      .agg(count(lit(1)).as("n_points"),
        max(struct(col("ddq"), col("peakq"), col("vq"))).as("m"))
      .select(col("series"), col("n_points"),
        graft.halfUp(col("m.ddq").cast("double") / lit(1e6), 6).as("dd_max"),
        graft.halfUp(col("m.peakq").cast("double") / lit(1e6), 6).as("dd_peak"),
        graft.halfUp(col("m.vq").cast("double") / lit(1e6), 6).as("dd_trough"),
        when(col("m.peakq") > 0L,
          graft.halfUp(col("m.ddq").cast("double") /
            col("m.peakq").cast("double"), 6)).as("dd_frac"))
      .orderBy(col("series"))
  }

  /** Cohort LTV curves: cumulative revenue per customer by cohort
    * age — the money companion of [[cohortRetention]] ("how much has
    * the average January customer spent by month 6?", the payback /
    * LTV:CAC readout). Cohort = the customer's FIRST order month
    * (integer month index, so ages are gap-exact); per (cohort, age):
    * active customers that month, cohort size, period and cumulative
    * revenue, and cumulative LTV per cohort member.
    *
    * Revenue sums integer CENTS (order-free BIGINTs); the cumulative
    * sum accumulates longs over the calendar-bounded (cohort, age)
    * table; LTV is one fixed double division over two exact longs,
    * halfUp-rendered.
    *
    * Scale posture: orders collapse to (customer, month) partials
    * map-side; the cohort assignment is a min-aggregate + equi join
    * on the customer key; the running sum windows over the
    * cohort-months table (bounded by calendar², thousands of rows at
    * any corpus size) partitioned by cohort. */
  def cohortLtv(orders: DataFrame): DataFrame = {
    val m = orders.groupBy(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
          .cast("long").as("midx"))
      .agg(sum(floor(col("o_totalprice") * lit(100.0) + lit(0.5))
        .cast("long")).as("cents"))
    val cohorts = m.groupBy(col("o_custkey")).agg(min(col("midx")).as("cmidx"))
    val byAge = m.join(cohorts, "o_custkey")
      .groupBy(col("cmidx"), (col("midx") - col("cmidx")).as("age"))
      .agg(count(lit(1)).as("n_active"), sum(col("cents")).as("cents_period"))
    val sizes = cohorts.groupBy(col("cmidx"))
      .agg(count(lit(1)).as("cohort_size"))
    val w = Window.partitionBy(col("cmidx")).orderBy(col("age"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byAge.join(sizes, "cmidx")
      .withColumn("cents_cum", sum(col("cents_period")).over(w))
      .select(expr("cmidx div 12").as("cohort_year"),
        (pmod(col("cmidx"), lit(12L)) + 1L).as("cohort_month"),
        col("age"), col("cohort_size"), col("n_active"),
        col("cents_period"), col("cents_cum"),
        graft.halfUp(col("cents_cum").cast("double") / lit(100.0) /
          col("cohort_size").cast("double"), 4).as("ltv_per_user"))
      .orderBy(col("cohort_year"), col("cohort_month"), col("age"))
  }

  /** ROLLING VOLATILITY per series: population standard deviation
    * over a trailing `window`-row frame of the (ts, event_id)-ordered
    * value stream — the local-dispersion readout next to
    * [[q_window_moving_avg]]'s local level and [[q_window_zscore]]'s
    * GLOBAL dispersion ("is the signal getting noisier" is a rolling
    * question a whole-series σ cannot answer).
    *
    * Parity: values quantize to a 1e-4 grid as BIGINTs; the rolling
    * Σv and Σv² accumulate LONGS (exact under Spark's sequential vs
    * DuckDB's segment-tree frame evaluation — the whole point of the
    * integer grid); the variance (Σv² − (Σv)²/n)/n is one fixed
    * double chain over three exact longs per row, √ exactly-rounded,
    * halfUp-rendered. Grid headroom: |value| < 10⁶ keeps Σv² of a
    * 10⁵-row frame under 2⁶³.
    *
    * Scale posture: ONE series-key window shuffle serves both
    * rolling sums (same frame); the frame carries two longs. */
  def rollingVolatility(events: DataFrame, window: Int = 7): DataFrame = {
    require(window >= 2, s"need window >= 2: $window")
    val base = events.filter(col("value").isNotNull)
      .select(col("event_type").as("series"), col("ts"), col("event_id"),
        floor(col("value") * lit(1e4) + lit(0.5)).cast("long").as("vq"))
    val w = Window.partitionBy(col("series"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-(window - 1).toLong, Window.currentRow)
    val s1 = sum(col("vq")).over(w).cast("double")
    val s2 = sum(col("vq") * col("vq")).over(w).cast("double")
    val nw = count(lit(1)).over(w).cast("double")
    base
      .select(col("series"), col("event_id"),
        count(lit(1)).over(w).as("n_window"),
        graft.halfUp(
          sqrt(greatest((s2 - s1 * s1 / nw) / nw, lit(0.0))) / lit(1e4), 4)
          .as("vol"))
      .orderBy(col("series"), col("event_id"))
  }

  /** Peak CONCURRENCY per day by sweep line — "how many intervals are
    * open at once, and when does load peak" (the capacity-planning
    * readout over session/connection intervals; [[coalesceIntervals]]
    * answers coverage, this answers HEIGHT). Each interval emits
    * (+1 at start, −1 at end); the running sum over the global
    * (time, delta, id) order IS the number of open intervals at each
    * boundary instant. Ends sort BEFORE starts at the same microsecond
    * (delta asc), so back-to-back intervals never double-count — the
    * half-open [s, e) convention, documented here and replayed by the
    * oracle. Output: per UTC day of the boundary, the day's peak open
    * count and boundary-event count.
    *
    * Scale posture: the sweep is the distributed global prefix sum
    * ([[prefixSums]]: range repartition + broadcast offsets —
    * a global ORDER with no single-task window); the day rollup is a
    * counts-only hash aggregate over the boundary stream (2 rows per
    * interval). A 100 TB interval table sweeps as 2× its row count in
    * (long, long, long) triples. */
  def concurrencyPeaks(intervals: DataFrame, startUs: Column,
      endUs: Column, id: Column): DataFrame = {
    val bounds = intervals.select(startUs.as("t"), lit(1L).as("delta"),
        id.as("_id"))
      .union(intervals.select(endUs.as("t"), lit(-1L).as("delta"),
        id.as("_id")))
    val (swept, _) = prefixSums(bounds, Nil, Seq(col("delta") -> "open"),
      Seq(col("t"), col("delta"), col("_id")))
    swept
      .groupBy(to_date(timestamp_micros(col("t"))).as("day"))
      .agg(max(col("open")).as("peak_concurrency"),
        count(lit(1)).as("n_boundaries"))
      .orderBy(col("day"))
  }

  /** TIME-TO-CONVERT distribution: per user, the gap between the first
    * `from` event and the first `to` event — counted only when the
    * first `to` does not precede the first `from` (a purchase before
    * ever viewing is not a conversion of this funnel) — reduced to the
    * funnel-latency summary (converted-user count, mean, median, p90
    * seconds): the "how long does conversion take" companion to
    * [[funnel]]'s "how many convert".
    *
    * One counts-only hash aggregate per user (two conditional mins —
    * the raw stream collapses immediately), then a single 1-row
    * reduction. Exact `percentile` buffers one value per CONVERTED
    * user — fine at dashboard cardinalities; swap approx_percentile at
    * billions of users (the [[Aggregations]] percentile convention).
    * Arithmetic is integer µs and interpolated midpoints — exact. */
  def timeToConvert(events: DataFrame, from: String, to: String): DataFrame = {
    val per = events.groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === from, unix_micros(col("ts")))).as("v"),
        min(when(col("event_type") === to, unix_micros(col("ts")))).as("p"))
      .filter(col("v").isNotNull && col("p").isNotNull && col("p") >= col("v"))
      .select(((col("p") - col("v")).cast("double") / 1e6).as("gap_s"))
    per.agg(count(lit(1)).as("n_converted"),
      round(avg(col("gap_s")), 2).as("avg_s"),
      round(percentile(col("gap_s"), lit(0.5)), 2).as("median_s"),
      round(percentile(col("gap_s"), lit(0.9)), 2).as("p90_s"))
  }

  /** First-/last-touch attribution: each conversion event is credited
    * to the FIRST and the MOST RECENT preceding touch event (strictly
    * earlier in the user's history; ties at identical timestamps break
    * on event_id). Touch id and type ride the same
    * unbounded-preceding-to-−1 frame with ignore-nulls first/last —
    * one user-partitioned window pass, then the conversion filter.
    *
    * Scale posture: a single user_id-hash shuffle; both attribution
    * columns and the filter are evaluated inside the same window
    * stage, and conversions with no prior touch surface as nulls
    * rather than dropping (the unattributed share is itself a metric
    * marketers need). */
  def attribution(events: DataFrame, touches: Seq[String],
      conversion: String): DataFrame = {
    require(touches.nonEmpty, "attribution needs at least one touch type")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val isTouch = col("event_type").isin(touches.map(t => t: Any): _*)
    events
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("event_type"))
      .withColumn("first_touch_id",
        first(when(isTouch, col("event_id")), ignoreNulls = true).over(w))
      .withColumn("first_touch_type",
        first(when(isTouch, col("event_type")), ignoreNulls = true).over(w))
      .withColumn("last_touch_id",
        last(when(isTouch, col("event_id")), ignoreNulls = true).over(w))
      .withColumn("last_touch_type",
        last(when(isTouch, col("event_type")), ignoreNulls = true).over(w))
      .filter(col("event_type") === conversion)
      .select(col("event_id"), col("user_id"), col("first_touch_id"),
        col("first_touch_type"), col("last_touch_id"),
        col("last_touch_type"))
      .orderBy(col("event_id"))
  }

  /** Per-group standardization + winsorization: z-score of each value
    * against its group's mean/stddev, outlier flag at |z| > 2, and the
    * value clamped to mean ± 2σ — the per-stratum outlier treatment a
    * feature pipeline applies before training. One unordered window
    * partition (whole-group frame): mean, stddev, z, and the clamp all
    * come out of a SINGLE shuffle on the group key — no aggregate-
    * then-join-back, no second scan. */
  def groupZscore(df: DataFrame, id: Column, group: Column, value: Column): DataFrame = {
    val w = Window.partitionBy(group)
    val mu = avg(value).over(w)
    val sd = stddev_samp(value).over(w)
    val z = (value - mu) / sd
    df.select(id.as("id"), group.as("grp"),
        round(z, 4).as("z"),
        coalesce(abs(z) > 2.0, lit(false)).as("is_outlier"),
        round(least(greatest(value, mu - lit(2.0) * sd), mu + lit(2.0) * sd), 2)
          .as("winsorized"))
      .orderBy(col("id"))
  }

  /** Exponentially-weighted moving average, TRUNCATED to a fixed tap
    * count: y_t = Σ_{k<taps} (1−α)^k·x_{t−k} / Σ_{k<taps} (1−α)^k over
    * the taps that exist (series heads renormalize over available
    * history — pandas `ewm(adjust=True)` semantics, truncated). The
    * truncation is the scale contract: the exact recursive EWMA needs
    * either a sequential scan per series or an overflow-prone
    * (1−α)^(−rn) rescaling trick, while a fixed tap window is a pure
    * lag chain — codegen'd, one shuffle on the series key, identical
    * math on any engine. At α = 0.25 the dropped tail mass is
    * 0.75^8 ≈ 10%, documented, and the per-row renormalization keeps
    * the output an unbiased weighted mean of what IS included. */
  def ewma(df: DataFrame, id: Column, series: Column, ts: Column, value: Column,
      alpha: Double = 0.25, taps: Int = 8): DataFrame = {
    require(alpha > 0 && alpha < 1 && taps >= 1, "need 0<alpha<1, taps>=1")
    val w = Window.partitionBy(series).orderBy(ts, id)
    val terms = (0 until taps).map { k =>
      (math.pow(1.0 - alpha, k), if (k == 0) value else lag(value, k).over(w))
    }
    val num = terms.map { case (c, v) =>
      when(v.isNotNull, lit(c) * v).otherwise(lit(0.0)) }.reduce(_ + _)
    val den = terms.map { case (c, v) =>
      when(v.isNotNull, lit(c)).otherwise(lit(0.0)) }.reduce(_ + _)
    df.select(id.as("id"), series.as("series"), round(num / den, 4).as("ewma"))
      .orderBy(col("id"))
  }

  /** Top event PATHS: the most frequent k-step consecutive event-type
    * sequences across users (k = 3 here) — the "how do users actually
    * move" product-analytics staple, and the event-stream analog of
    * the text tier's n-gram mining. Consecutive means adjacent in the
    * per-user (ts, event_id) order.
    *
    * One shuffle on the user key builds every path via lead(); the
    * count aggregate's shuffle carries (path, count) partials. Top-k
    * by (count desc, path) is a TakeOrderedAndProject — no global
    * sort. */
  def eventPaths(events: DataFrame, k: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val e2 = lead(col("event_type"), 1).over(w)
    val e3 = lead(col("event_type"), 2).over(w)
    events
      .select(col("user_id"), col("event_type").as("e1"),
        e2.as("e2"), e3.as("e3"))
      .filter(col("e2").isNotNull && col("e3").isNotNull)
      .groupBy(col("e1"), col("e2"), col("e3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("e1"), col("e2"), col("e3"))
      .limit(k)
  }

  /** Ratio-to-report: each row's share of its group total (the
    * classic RATIO_TO_REPORT window) — one unordered window partition,
    * single shuffle on the group key.
    *
    * A group whose total is exactly 0.0 has no defined share: doubles
    * would give ±Infinity/NaN with engine-dependent rendering, so the
    * contract FAILS LOUDLY in-plan (raise_error names the offending
    * group) instead of emitting them — pre-filter zero-sum groups or
    * choose a strictly-signed measure (the registered query's order
    * totals are strictly positive, so the guard never fires there).
    * The guard is a per-row codegen'd branch on the already-computed
    * window total: zero extra jobs, zero extra shuffles. */
  def ratioToReport(df: DataFrame, id: Column, group: Column,
      value: Column): DataFrame = {
    val w = Window.partitionBy(group)
    val total = sum(value).over(w)
    val guarded = when(total === 0.0, raise_error(concat(
        lit("ratioToReport: group "), group.cast("string"),
        lit(" sums to exactly 0.0 — share is undefined; pre-filter " +
          "zero-sum groups or use a strictly-signed measure"))))
      .otherwise(total)
    df.select(id.as("id"), group.as("grp"),
        round(value / guarded, 6).as("share"))
      .orderBy(col("id"))
  }

  /** EXACT rolling median over a trailing row frame — the robust
    * sibling of `q_window_moving_avg` (a median smoother shrugs off
    * the spike a mean drags along). Implemented as the `percentile`
    * aggregate over a bounded ROWS frame: one shuffle on the series
    * key, and the frame buffer holds at most `window` values per row —
    * constant state, unlike a whole-partition sort-based rank.
    *
    * Determinism across engines: with a ≤`window`-element frame the
    * interpolated median is `(a+b)/2` on two stored doubles — basic
    * IEEE ops, bit-identical in any engine (no transcendentals), so
    * the oracle hash-matches without tolerance. */
  def rollingMedian(df: DataFrame, id: Column, series: Column, ts: Column,
      value: Column, window: Int = 5): DataFrame = {
    val w = Window.partitionBy(series).orderBy(ts, id)
      .rowsBetween(-(window - 1), Window.currentRow)
    df.select(id.as("id"), series.as("series"),
        round(percentile(value, lit(0.5)).over(w), 4).as("rolling_med"))
      .orderBy(col("id"))
  }

  /** First-order MARKOV transition matrix over the event stream:
    * P(next = b | current = a) from consecutive same-user event pairs
    * — the one-step generalization of [[eventPaths]] (which mines
    * specific k-paths; this summarizes the whole chain). Row counts
    * after the lead() are (types × types)-bounded, so the probability
    * normalization runs over a tiny table: one shuffle on the user key
    * builds pairs, one counts-only hash aggregate, one unordered
    * window over ≤|types|² rows for the per-source total. */
  def markovTransitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = events
      .select(col("user_id"), col("event_type").as("src"),
        lead(col("event_type"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull)
    val counts = pairs.groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("n"))
    val tot = Window.partitionBy(col("src"))
    counts
      .select(col("src"), col("dst"), col("n"),
        round(col("n").cast("double") / sum(col("n")).over(tot), 6).as("p"))
      .orderBy(col("src"), col("dst"))
  }

  /** CUSUM excursion profile per series — the classic
    * change-detection statistic (Page 1954): running sum of
    * deviations from the series mean, whose maximum excursion marks
    * a sustained level shift that per-point outlier tests
    * ([[Aggregations.anomalyMad]]) cannot see. Emitted per series:
    * the max/min excursion and its range, the drift triage row.
    *
    * Float parity is by INTEGER construction end to end: the series
    * mean divides an integer-quantized sum (order-free), each
    * deviation is quantized to a 1e-6 grid as BIGINT, and the running
    * sum accumulates LONGS — exact regardless of accumulation order,
    * which matters because engines disagree on windowed float
    * summation order (Spark accumulates sequentially, DuckDB by
    * segment tree — ulp drift over a 100k-row series would poison a
    * float cusum's hash).
    *
    * Scale posture: one mean aggregate (map-side partials) broadcast
    * back, one window shuffle on the series key; the running frame
    * carries a single long. Relation-sized single series escalate to
    * the distributed running sums of [[prefixSums]]. */
  def cusumProfile(events: DataFrame, series: Column, ts: Column,
      value: Column): DataFrame = {
    val base = events.filter(value.isNotNull)
      .select(series.as("series"), ts.as("ts"), col("event_id"),
        value.as("v"))
    val means = base.groupBy(col("series"))
      .agg((sum(floor(col("v") * lit(1e9) + lit(0.5)).cast("long"))
        .cast("double") / lit(1e9) / count(lit(1)).cast("double")).as("mu"))
    val w = Window.partitionBy(col("series"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.join(broadcast(means), Seq("series"))
      .withColumn("devq",
        floor((col("v") - col("mu")) * lit(1e6) + lit(0.5)).cast("long"))
      .withColumn("cusumq", sum(col("devq")).over(w))
      .groupBy(col("series"))
      .agg(count(lit(1)).as("n"),
        graft.halfUp(max(col("cusumq")).cast("double") / lit(1e6), 4)
          .as("cusum_max"),
        graft.halfUp(min(col("cusumq")).cast("double") / lit(1e6), 4)
          .as("cusum_min"),
        graft.halfUp((max(col("cusumq")) - min(col("cusumq"))).cast("double")
          / lit(1e6), 4).as("cusum_range"))
      .orderBy(col("series"))
  }

  val queries: Map[String, Q] = Map(
    // per-event-type drift triage over the value stream
    "q_window_cusum" -> ((s, d) =>
      cusumProfile(Tables.events(s, d), col("event_type"), col("ts"),
        col("value"))),
    "q_window_rolling_median" -> ((s, d) =>
      rollingMedian(Tables.events(s, d), col("event_id"), col("user_id"),
        col("ts"), col("value"))),
    // each event opens a 10-minute activity interval; merged spans per
    // user = actual engaged time (the double-count-free coverage)
    "q_interval_coalesce" -> ((s, d) =>
      coalesceIntervals(
        Tables.events(s, d).select(col("user_id"),
          unix_micros(col("ts")).as("s"),
          (unix_micros(col("ts")) + lit(600000000L)).as("e")),
        col("user_id"), col("s"), col("e"))),
    "q_event_markov" -> ((s, d) => markovTransitions(Tables.events(s, d))),
    // gap-guarded MoM/YoY revenue growth per priority
    "q_window_growth" -> ((s, d) =>
      monthlyGrowth(Tables.orders(s, d))),
    // peak-to-trough degradation per event type over the value stream
    "q_window_drawdown" -> ((s, d) =>
      maxDrawdown(Tables.events(s, d))),
    // trailing-7 population std per series: local dispersion
    "q_window_volatility" -> ((s, d) =>
      rollingVolatility(Tables.events(s, d))),
    // cumulative revenue per first-order-month cohort by age
    "q_cohort_ltv" -> ((s, d) =>
      cohortLtv(Tables.orders(s, d))),
    // each event opens a (event_id%120 + 1)-minute interval; daily
    // peak of simultaneously-open intervals via the sweep line
    "q_window_concurrency" -> ((s, d) =>
      concurrencyPeaks(
        Tables.events(s, d).select(col("event_id"),
          unix_micros(col("ts")).as("s"),
          (unix_micros(col("ts")) +
            (pmod(col("event_id"), lit(120L)) + 1L) * 60000000L).as("e")),
        col("s"), col("e"), col("event_id"))),
    "q_time_to_convert" -> ((s, d) =>
      timeToConvert(Tables.events(s, d), "view", "purchase")),
    // COUNT DISTINCT as a window: no engine allows DISTINCT inside a
    // window aggregate, so the idiom is max(dense_rank) over the same
    // partition ordered by the counted column — every row carries its
    // group's distinct-priority count without a second aggregate-and-
    // join-back pass. ONE customer-key shuffle serves both windows.
    "q_window_count_distinct" -> ((s, d) => {
      val byPrio = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderpriority"))
      val whole = Window.partitionBy(col("o_custkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, d)
        .withColumn("dr", dense_rank().over(byPrio))
        .select(col("o_orderkey"), col("o_custkey"),
          max(col("dr")).over(whole).cast("long").as("n_distinct_prio"))
        .orderBy(col("o_orderkey"))
    }),
    "q_window_ratio" -> ((s, d) =>
      ratioToReport(Tables.orders(s, d), col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"))),
    "q_event_paths" -> ((s, d) => eventPaths(Tables.events(s, d))),
    "q_window_zscore" -> ((s, d) =>
      groupZscore(Tables.customer(s, d), col("c_custkey"), col("c_nationkey"),
        col("c_acctbal"))),
    "q_window_ewma" -> ((s, d) =>
      ewma(Tables.events(s, d).filter(col("value").isNotNull),
        col("event_id"), col("user_id"), col("ts"), col("value"))),
    "q_window_rank" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("rnk", rank().over(w).cast("long"))
        .withColumn("drnk", dense_rank().over(w).cast("long"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("rnk"), col("drnk"), col("rn"))
        .orderBy(col("o_custkey"), col("rn"))
    }),

    "q_window_lag_lead" -> ((s, d) =>
      Tables.orders(s, d)
        .withColumn("prev_price", lag(col("o_totalprice"), 1).over(perCustomerByDate))
        .withColumn("next_price", lead(col("o_totalprice"), 1).over(perCustomerByDate))
        .withColumn("delta",
          round(col("o_totalprice") - col("prev_price"), 2))
        .select(col("o_custkey"), col("o_orderkey"), col("prev_price"),
          col("next_price"), col("delta"))
        .orderBy(col("o_custkey"), col("o_orderkey"))),

    "q_window_running" -> ((s, d) => {
      val w = perCustomerByDate.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d)
        .withColumn("running_total", round(sum(col("o_totalprice")).over(w), 2))
        .select(col("o_custkey"), col("o_orderkey"), col("running_total"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    "q_window_moving_avg" -> ((s, d) => {
      val w = perCustomerByDate.rowsBetween(-2, 0)
      Tables.orders(s, d)
        .withColumn("mov_avg", round(avg(col("o_totalprice")).over(w), 4))
        .select(col("o_custkey"), col("o_orderkey"), col("mov_avg"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // Value-range frame: all orders by the same customer within the
    // preceding 90 days (epoch-second range, not row count).
    "q_window_range_frame" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("epoch_s"))
        .rangeBetween(-90L * 86400, 0)
      Tables.orders(s, d)
        .withColumn("epoch_s", unix_timestamp(col("o_orderdate")))
        .withColumn("sum_90d", round(sum(col("o_totalprice")).over(w), 2))
        .select(col("o_custkey"), col("o_orderkey"), col("sum_90d"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // Global ntile/percent_rank WITHOUT a single-task window: both are
    // pure functions of (global row number, total count) — rn and N
    // come from one distributed prefixSums layout and its totals, and
    // the SQL-standard ntile bucket (ntileBucket) is integer arithmetic.
    "q_window_ntile" -> ((s, d) => {
      val (ranked, totals) = prefixSums(Tables.customer(s, d), Nil,
        Seq(lit(1L) -> "rn"), Seq(col("c_acctbal"), col("c_custkey")))
      ranked.crossJoin(broadcast(totals.select(col("_n").as("n_total"))))
        .withColumn("quartile", ntileBucket("rn", "n_total", 4))
        .withColumn("pct_rank",
          when(col("n_total") === 1, lit(0.0))
            .otherwise(round((col("rn") - 1).cast("double") / (col("n_total") - 1), 6)))
        .select(col("c_custkey"), col("quartile"), col("pct_rank"))
        .orderBy(col("c_custkey"))
    }),

    // Relative-standing window pair: percent_rank (rank-based, 0 at
    // the group min) and cume_dist (≤-fraction) per order within its
    // priority class — the SQL-standard normalized-rank duo next to
    // the ntile/zscore variants already registered. ONE shuffle on
    // the partition key; values are tie-stable (both functions depend
    // only on the ORDER KEY values, not row order), so no unique
    // tiebreaker column is needed for determinism. Note the partition
    // key is low-cardinality (5 priorities): per-group sort is the
    // scale bound — for a global variant use prefixSums.
    "q_window_percent_rank" -> ((s, d) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"))
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume_dist"))
        .orderBy(col("o_orderkey"))
    }),

    // Gap-based SESSIONIZATION — the batch analog of the streaming
    // session window (Streaming.scala): a session breaks after >30 min
    // of user inactivity. Break flag = lag diff, session ordinal =
    // running sum, both over the same user_id-partitioned window; the
    // final per-session aggregate groups by (user_id, session_id),
    // which the window's hash partitioning on user_id already
    // satisfies — ONE shuffle total, on the key sessions can never
    // span. Exact integer-microsecond arithmetic (see q_join_range_
    // bucketed for why seconds division is oracle-hostile).
    "q_sessionize" -> ((s, d) =>
      sessionize(Tables.events(s, d), gapSec = 1800)
        .orderBy(col("user_id"), col("session_id"))),

    // Ordered funnel over the event stream: view → click → purchase,
    // later stages only count after earlier ones (per user, in event
    // order). One shuffle for the whole query.
    "q_funnel" -> ((s, d) =>
      funnel(Tables.events(s, d), Seq("view", "click", "purchase"))),

    // RFM customer segmentation over the order log, quintile scores.
    "q_rfm" -> ((s, d) => rfm(Tables.orders(s, d))),

    // Maximal consecutive-day activity streaks per user.
    "q_window_gap_islands" -> ((s, d) =>
      gapIslands(Tables.events(s, d))),

    // Purchases credited to the first and most recent preceding
    // view/click touch in the user's event history.
    "q_attribution" -> ((s, d) =>
      attribution(Tables.events(s, d), Seq("view", "click"), "purchase")),

    // Retention triangle at DAILY grain (the harness event stream
    // spans one month — days give it a real triangle; the grain is a
    // format parameter, month/week work identically).
    "q_cohort_retention" -> ((s, d) =>
      cohortRetention(Tables.events(s, d), "yyyy-MM-dd")),

    // Frame-boundary value functions: first/last/nth over the FULL
    // partition frame (last_value needs unbounded following — the
    // default frame stops at the current row). Order key is the
    // unique c_custkey, so every value is deterministic.
    "q_window_first_last" -> ((s, d) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_custkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.customer(s, d)
        .select(col("c_custkey"),
          first(col("c_custkey")).over(w).as("first_k"),
          last(col("c_custkey")).over(w).as("last_k"),
          nth_value(col("c_custkey"), 2).over(w).as("second_k"))
        .orderBy(col("c_custkey"))
    }),
  )

  /** The EWMA oracle's lag chain, generated for the registered
    * (α = 0.25, taps = 8) so the SQL twin keeps the engine's exact
    * term order (left-associative sum, lag k ascending). */
  private def ewmaOracleSql: String = {
    val num = (0 until 8).map(k =>
      s"(CASE WHEN lag(value, $k) OVER w IS NOT NULL THEN power(0.75, $k) * lag(value, $k) OVER w ELSE 0.0 END)")
      .mkString(" + ")
    val den = (0 until 8).map(k =>
      s"(CASE WHEN lag(value, $k) OVER w IS NOT NULL THEN power(0.75, $k) ELSE 0.0 END)")
      .mkString(" + ")
    s"""WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS tts, value
       |           FROM events WHERE value IS NOT NULL)
       |SELECT event_id AS id, user_id AS series,
       |       round(($num) / ($den), 4) AS ewma
       |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tts, event_id)
       |ORDER BY id""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    // same quantized mean, same 1e-6 BIGINT deviation grid, same
    // integer running sum — order-free, so DuckDB's segment-tree
    // window summation cannot drift from Spark's sequential one
    "q_window_cusum" ->
      """WITH b AS (
        |  SELECT event_type AS series, CAST(ts AS TIMESTAMP) AS ts,
        |         event_id, value AS v
        |  FROM events WHERE value IS NOT NULL),
        |m AS (
        |  SELECT series,
        |         CAST(sum(CAST(floor(v * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |           / 1000000000.0 / count(*) AS mu
        |  FROM b GROUP BY series),
        |c AS (
        |  SELECT b.series,
        |         CAST(sum(CAST(floor((b.v - m.mu) * 1000000.0 + 0.5) AS BIGINT))
        |           OVER (PARTITION BY b.series ORDER BY b.ts, b.event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS BIGINT) AS cusumq
        |  FROM b JOIN m USING (series))
        |SELECT series, CAST(count(*) AS BIGINT) AS n,
        |       floor(CAST(max(cusumq) AS DOUBLE) / 1000000.0 * 10000.0 + 0.5)
        |         / 10000.0 AS cusum_max,
        |       floor(CAST(min(cusumq) AS DOUBLE) / 1000000.0 * 10000.0 + 0.5)
        |         / 10000.0 AS cusum_min,
        |       floor(CAST(max(cusumq) - min(cusumq) AS DOUBLE) / 1000000.0
        |             * 10000.0 + 0.5) / 10000.0 AS cusum_range
        |FROM c GROUP BY series ORDER BY series""".stripMargin,
    // quantile_cont == Spark's interpolated `percentile`; over a
    // ≤5-row frame the interpolation is (a+b)/2 — exact IEEE
    "q_window_rolling_median" ->
      """SELECT event_id AS id, user_id AS series,
        |       round(quantile_cont(value, 0.5) OVER (
        |         PARTITION BY user_id
        |         ORDER BY CAST(ts AS TIMESTAMP), event_id
        |         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4)
        |         AS rolling_med
        |FROM events ORDER BY id""".stripMargin,
    // same conditional-min reduction; quantile_cont == Spark's
    // interpolated percentile on exact integer-µs-derived doubles
    "q_time_to_convert" ->
      """WITH f AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view'
        |             THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS v,
        |    min(CASE WHEN event_type = 'purchase'
        |             THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS p
        |  FROM events GROUP BY 1),
        |g AS (SELECT CAST(p - v AS DOUBLE) / 1e6 AS gap_s FROM f
        |      WHERE v IS NOT NULL AND p IS NOT NULL AND p >= v)
        |SELECT count(*) AS n_converted,
        |       round(avg(gap_s), 2) AS avg_s,
        |       round(quantile_cont(gap_s, 0.5), 2) AS median_s,
        |       round(quantile_cont(gap_s, 0.9), 2) AS p90_s
        |FROM g""".stripMargin,
    // independent formulation: plain grouped count(DISTINCT) joined
    // back — cross-checks the dense_rank window idiom
    "q_window_count_distinct" ->
      """WITH g AS (
        |  SELECT o_custkey, CAST(count(DISTINCT o_orderpriority) AS BIGINT)
        |           AS n_distinct_prio
        |  FROM orders GROUP BY 1)
        |SELECT o.o_orderkey, o.o_custkey, g.n_distinct_prio
        |FROM orders o JOIN g ON o.o_custkey = g.o_custkey
        |ORDER BY o.o_orderkey""".stripMargin,
    "q_interval_coalesce" ->
      """WITH i AS (
        |  SELECT user_id AS k, epoch_us(CAST(ts AS TIMESTAMP)) AS s_us,
        |         epoch_us(CAST(ts AS TIMESTAMP)) + 600000000 AS e_us
        |  FROM events),
        |f AS (
        |  SELECT k, s_us, e_us,
        |         CASE WHEN max(e_us) OVER prior IS NULL
        |                OR s_us > max(e_us) OVER prior THEN 1 ELSE 0 END AS brk
        |  FROM i
        |  WINDOW prior AS (PARTITION BY k ORDER BY s_us, e_us
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |g AS (
        |  SELECT *, CAST(sum(brk) OVER (PARTITION BY k ORDER BY s_us, e_us
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS span
        |  FROM f)
        |SELECT k, span, min(s_us) AS start_us, max(e_us) AS end_us,
        |       max(e_us) - min(s_us) AS covered_us, count(*) AS n_merged
        |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // same 1e-6 integer grid, same running-max window, same
    // (ddq, peakq, vq) struct argmax via a window rank over the
    // identical total order
    "q_window_drawdown" ->
      """WITH b AS (
        |  SELECT event_type AS series, ts, event_id,
        |         CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS vq
        |  FROM events WHERE value IS NOT NULL),
        |r AS (
        |  SELECT series, vq,
        |         max(vq) OVER (PARTITION BY series ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peakq
        |  FROM b),
        |d AS (
        |  SELECT series, vq, peakq, peakq - vq AS ddq,
        |         row_number() OVER (PARTITION BY series
        |           ORDER BY peakq - vq DESC, peakq DESC, vq DESC) AS rk
        |  FROM r),
        |n AS (SELECT series, CAST(count(*) AS BIGINT) AS n_points
        |      FROM b GROUP BY 1)
        |SELECT n.series, n.n_points,
        |       floor(CAST(d.ddq AS DOUBLE) / 1e6 * 1e6 + 0.5) / 1e6 AS dd_max,
        |       floor(CAST(d.peakq AS DOUBLE) / 1e6 * 1e6 + 0.5) / 1e6 AS dd_peak,
        |       floor(CAST(d.vq AS DOUBLE) / 1e6 * 1e6 + 0.5) / 1e6 AS dd_trough,
        |       CASE WHEN d.peakq > 0
        |            THEN floor(CAST(d.ddq AS DOUBLE) / CAST(d.peakq AS DOUBLE)
        |                       * 1e6 + 0.5) / 1e6 END AS dd_frac
        |FROM n JOIN d ON n.series = d.series AND d.rk = 1
        |ORDER BY n.series""".stripMargin,
    // same 1e-4 integer grid, same trailing frame, same fixed
    // (Σv² − (Σv)²/n)/n chain (halfUp 4)
    "q_window_volatility" ->
      """WITH b AS (
        |  SELECT event_type AS series, ts, event_id,
        |         CAST(floor(value * 1e4 + 0.5) AS BIGINT) AS vq
        |  FROM events WHERE value IS NOT NULL),
        |r AS (
        |  SELECT series, event_id,
        |         CAST(sum(vq) OVER w AS BIGINT) AS s1,
        |         CAST(sum(vq * vq) OVER w AS BIGINT) AS s2,
        |         CAST(count(*) OVER w AS BIGINT) AS n_window
        |  FROM b WINDOW w AS (PARTITION BY series ORDER BY ts, event_id
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT series, event_id, n_window,
        |       floor(sqrt(greatest((CAST(s2 AS DOUBLE)
        |                - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
        |                  / CAST(n_window AS DOUBLE))
        |               / CAST(n_window AS DOUBLE), 0.0)) / 1e4
        |             * 1e4 + 0.5) / 1e4 AS vol
        |FROM r ORDER BY series, event_id""".stripMargin,
    // same cents rollup + min-month cohort + integer cumulative sum,
    // same fixed LTV division (halfUp 4)
    "q_cohort_ltv" ->
      """WITH m AS (
        |  SELECT o_custkey,
        |         CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
        |              AS BIGINT) AS midx,
        |         CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
        |              AS BIGINT) AS cents
        |  FROM orders GROUP BY 1, 2),
        |c AS (SELECT o_custkey, min(midx) AS cmidx FROM m GROUP BY 1),
        |a AS (
        |  SELECT c.cmidx, m.midx - c.cmidx AS age,
        |         CAST(count(*) AS BIGINT) AS n_active,
        |         CAST(sum(m.cents) AS BIGINT) AS cents_period
        |  FROM m JOIN c ON m.o_custkey = c.o_custkey GROUP BY 1, 2),
        |s AS (SELECT cmidx, CAST(count(*) AS BIGINT) AS cohort_size
        |      FROM c GROUP BY 1),
        |w AS (
        |  SELECT a.*, CAST(sum(cents_period) OVER (PARTITION BY cmidx
        |           ORDER BY age ROWS BETWEEN UNBOUNDED PRECEDING AND
        |           CURRENT ROW) AS BIGINT) AS cents_cum
        |  FROM a)
        |SELECT CAST(w.cmidx // 12 AS BIGINT) AS cohort_year,
        |       CAST(w.cmidx % 12 + 1 AS BIGINT) AS cohort_month,
        |       w.age, s.cohort_size, w.n_active, w.cents_period, w.cents_cum,
        |       floor(CAST(w.cents_cum AS DOUBLE) / 100.0 /
        |             CAST(s.cohort_size AS DOUBLE) * 1e4 + 0.5) / 1e4
        |         AS ltv_per_user
        |FROM w JOIN s ON w.cmidx = s.cmidx
        |ORDER BY cohort_year, cohort_month, age""".stripMargin,
    // same cents rollup on the integer month index, same gap-guarded
    // lag pairs, same fixed pct chain (halfUp 4)
    "q_window_growth" ->
      """WITH m AS (
        |  SELECT o_orderpriority AS prio,
        |         CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
        |              AS BIGINT) AS midx,
        |         CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
        |              AS BIGINT) AS cents
        |  FROM orders GROUP BY 1, 2),
        |w AS (
        |  SELECT prio, midx, cents,
        |         lag(midx) OVER win AS m1, lag(cents) OVER win AS c1,
        |         lag(midx, 12) OVER win AS m12, lag(cents, 12) OVER win AS c12
        |  FROM m WINDOW win AS (PARTITION BY prio ORDER BY midx))
        |SELECT prio, CAST(midx // 12 AS BIGINT) AS year,
        |       CAST(midx % 12 + 1 AS BIGINT) AS month, cents,
        |       CASE WHEN m1 = midx - 1
        |            THEN floor(CAST(cents - c1 AS DOUBLE) / CAST(c1 AS DOUBLE)
        |                       * 100.0 * 10000.0 + 0.5) / 10000.0 END AS mom_pct,
        |       CASE WHEN m12 = midx - 12
        |            THEN floor(CAST(cents - c12 AS DOUBLE) / CAST(c12 AS DOUBLE)
        |                       * 100.0 * 10000.0 + 0.5) / 10000.0 END AS yoy_pct
        |FROM w ORDER BY prio, year, month""".stripMargin,
    // same boundary stream, same (t, delta, id) sweep order (ends
    // before starts at the same instant — half-open [s, e)), the
    // window running sum replaying the distributed prefix sum
    "q_window_concurrency" ->
      """WITH iv AS (
        |  SELECT event_id,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS s,
        |         epoch_us(CAST(ts AS TIMESTAMP))
        |           + ((event_id % 120) + 1) * 60000000 AS e
        |  FROM events),
        |b AS (
        |  SELECT s AS t, 1 AS delta, event_id FROM iv
        |  UNION ALL
        |  SELECT e, -1, event_id FROM iv),
        |sw AS (
        |  SELECT t,
        |         CAST(sum(delta) OVER (ORDER BY t, delta, event_id
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS open
        |  FROM b)
        |SELECT CAST(make_timestamp(t) AS DATE) AS day,
        |       max(open) AS peak_concurrency,
        |       CAST(count(*) AS BIGINT) AS n_boundaries
        |FROM sw GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_event_markov" ->
      """WITH p AS (
        |  SELECT event_type AS src, lead(event_type, 1) OVER w AS dst
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id
        |               ORDER BY CAST(ts AS TIMESTAMP), event_id)),
        |c AS (SELECT src, dst, count(*) AS n FROM p
        |      WHERE dst IS NOT NULL GROUP BY 1, 2)
        |SELECT src, dst, n,
        |       round(n / sum(n) OVER (PARTITION BY src), 6) AS p
        |FROM c ORDER BY src, dst""".stripMargin,
    "q_window_percent_rank" ->
      """SELECT o_orderkey, o_orderpriority,
        |       round(percent_rank() OVER w, 6) AS pct_rank,
        |       round(cume_dist() OVER w, 6) AS cume_dist
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)
        |ORDER BY o_orderkey""".stripMargin,
    "q_window_ratio" ->
      """SELECT o_orderkey AS id, o_custkey AS grp,
        |       round(o_totalprice / sum(o_totalprice)
        |         OVER (PARTITION BY o_custkey), 6) AS share
        |FROM orders ORDER BY id""".stripMargin,
    "q_event_paths" ->
      """WITH p AS (
        |  SELECT event_type AS e1,
        |         lead(event_type, 1) OVER w AS e2,
        |         lead(event_type, 2) OVER w AS e3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id
        |               ORDER BY CAST(ts AS TIMESTAMP), event_id))
        |SELECT e1, e2, e3, count(*) AS n
        |FROM p WHERE e2 IS NOT NULL AND e3 IS NOT NULL
        |GROUP BY 1, 2, 3
        |ORDER BY n DESC, e1, e2, e3 LIMIT 20""".stripMargin,
    "q_window_ewma" -> ewmaOracleSql,
    "q_window_zscore" ->
      """WITH w AS (
        |  SELECT c_custkey AS id, c_nationkey AS grp, c_acctbal,
        |         avg(c_acctbal) OVER g AS mu,
        |         stddev_samp(c_acctbal) OVER g AS sd
        |  FROM customer WINDOW g AS (PARTITION BY c_nationkey))
        |SELECT id, grp,
        |       round((c_acctbal - mu) / sd, 4) AS z,
        |       coalesce(abs((c_acctbal - mu) / sd) > 2.0, false) AS is_outlier,
        |       round(least(greatest(c_acctbal, mu - 2.0 * sd), mu + 2.0 * sd), 2)
        |         AS winsorized
        |FROM w ORDER BY id""".stripMargin,
    // identical chained cumulative flags: stage i's running max sees
    // stage i-1's flag AT THE SAME ROW (same (us, event_id) order)
    "q_funnel" ->
      """WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type
        |           FROM events),
        |f0 AS (SELECT *, max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |                 OVER w AS s0
        |       FROM o WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |                           ROWS UNBOUNDED PRECEDING)),
        |f1 AS (SELECT *, max(CASE WHEN event_type = 'click' AND s0 = 1
        |                          THEN 1 ELSE 0 END) OVER w AS s1
        |       FROM f0 WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |                            ROWS UNBOUNDED PRECEDING)),
        |f2 AS (SELECT *, max(CASE WHEN event_type = 'purchase' AND s1 = 1
        |                          THEN 1 ELSE 0 END) OVER w AS s2
        |       FROM f1 WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |                            ROWS UNBOUNDED PRECEDING)),
        |u AS (SELECT user_id, max(s0) AS s0, max(s1) AS s1, max(s2) AS s2
        |      FROM f2 GROUP BY user_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_users,
        |       CAST(sum(s0) AS BIGINT) AS n_stage1,
        |       CAST(sum(s1) AS BIGINT) AS n_stage2,
        |       CAST(sum(s2) AS BIGINT) AS n_stage3
        |FROM u""".stripMargin,
    // DuckDB's native ntile over the same (metric, custkey) orders —
    // the engine's distributed bucket formula is SQL-standard ntile
    // (parity precedent: q_window_ntile); m_total rounded to cents
    // BEFORE the rank on both sides
    "q_rfm" ->
      """WITH per AS (SELECT o_custkey, max(CAST(o_orderdate AS DATE)) AS last_d,
        |                    CAST(count(*) AS BIGINT) AS f_orders,
        |                    round(sum(o_totalprice), 2) AS m_total
        |             FROM orders GROUP BY 1),
        |ref AS (SELECT max(CAST(o_orderdate AS DATE)) AS ref_d FROM orders),
        |b AS (SELECT o_custkey,
        |        CAST(date_diff('day', last_d, ref_d) AS BIGINT) AS r_days,
        |        f_orders, m_total
        |      FROM per CROSS JOIN ref),
        |s AS (SELECT *,
        |        CAST(ntile(5) OVER (ORDER BY r_days, o_custkey) AS BIGINT) AS r_q,
        |        CAST(ntile(5) OVER (ORDER BY f_orders, o_custkey) AS BIGINT) AS f_q,
        |        CAST(ntile(5) OVER (ORDER BY m_total, o_custkey) AS BIGINT) AS m_q
        |      FROM b)
        |SELECT o_custkey, r_days, f_orders, m_total, r_q, f_q, m_q,
        |       CAST(r_q AS VARCHAR) || CAST(f_q AS VARCHAR) || CAST(m_q AS VARCHAR) AS segment
        |FROM s ORDER BY o_custkey""".stripMargin,
    // same island key: day minus the per-user row number (an INTEGER
    // subtracted from a DATE is day arithmetic in both engines)
    "q_window_gap_islands" ->
      """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |              FROM events),
        |g AS (SELECT user_id, day,
        |        day - CAST(row_number() OVER (
        |          PARTITION BY user_id ORDER BY day) AS INT) AS grp
        |      FROM days)
        |SELECT user_id,
        |       strftime(min(day), '%Y-%m-%d') AS streak_start,
        |       strftime(max(day), '%Y-%m-%d') AS streak_end,
        |       count(*) AS n_days
        |FROM g GROUP BY user_id, grp
        |ORDER BY user_id, streak_start""".stripMargin,
    // identical frame (unbounded preceding to 1 preceding) + IGNORE
    // NULLS first/last, identical (us, event_id) tie order
    "q_attribution" ->
      """WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type
        |           FROM events),
        |t AS (SELECT *,
        |        first_value(CASE WHEN event_type IN ('view', 'click')
        |                         THEN event_id END IGNORE NULLS)
        |          OVER w AS first_touch_id,
        |        first_value(CASE WHEN event_type IN ('view', 'click')
        |                         THEN event_type END IGNORE NULLS)
        |          OVER w AS first_touch_type,
        |        last_value(CASE WHEN event_type IN ('view', 'click')
        |                        THEN event_id END IGNORE NULLS)
        |          OVER w AS last_touch_id,
        |        last_value(CASE WHEN event_type IN ('view', 'click')
        |                        THEN event_type END IGNORE NULLS)
        |          OVER w AS last_touch_type
        |      FROM o
        |      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id, first_touch_id, first_touch_type,
        |       last_touch_id, last_touch_type
        |FROM t WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,
    "q_cohort_retention" ->
      """WITH a AS (SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS ym
        |           FROM events),
        |c AS (SELECT user_id, min(ym) AS cohort FROM a GROUP BY user_id)
        |SELECT c.cohort, a.ym, CAST(count(*) AS BIGINT) AS n_users
        |FROM a JOIN c USING (user_id)
        |GROUP BY c.cohort, a.ym
        |ORDER BY c.cohort, a.ym""".stripMargin,
    "q_sessionize" ->
      """WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |b AS (SELECT user_id, event_id, us,
        |        CASE WHEN lag(us) OVER w IS NULL
        |               OR us - lag(us) OVER w > 1800 * 1000000
        |             THEN 1 ELSE 0 END AS brk
        |      FROM o WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |s AS (SELECT user_id, us,
        |        CAST(sum(brk) OVER (PARTITION BY user_id
        |          ORDER BY us, event_id) AS BIGINT) AS session_id
        |      FROM b)
        |SELECT user_id, session_id, count(*) AS n_events,
        |       min(us) AS start_us, max(us) AS end_us
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    "q_window_rank" ->
      """SELECT * FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         rank()       OVER w AS rnk,
        |         dense_rank() OVER w AS drnk,
        |         row_number() OVER w AS rn
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey
        |               ORDER BY o_totalprice DESC, o_orderkey))
        |WHERE rnk <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q_window_lag_lead" ->
      """SELECT o_custkey, o_orderkey,
        |       lag(o_totalprice)  OVER w AS prev_price,
        |       lead(o_totalprice) OVER w AS next_price,
        |       round(o_totalprice - lag(o_totalprice) OVER w, 2) AS delta
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_window_running" ->
      """SELECT o_custkey, o_orderkey,
        |       round(sum(o_totalprice) OVER (
        |         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_window_moving_avg" ->
      """SELECT o_custkey, o_orderkey,
        |       round(avg(o_totalprice) OVER (
        |         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mov_avg
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_window_range_frame" ->
      """SELECT o_custkey, o_orderkey,
        |       round(sum(o_totalprice) OVER (
        |         PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
        |         RANGE BETWEEN 7776000 PRECEDING AND CURRENT ROW), 2) AS sum_90d
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_window_ntile" ->
      """SELECT c_custkey,
        |       ntile(4) OVER w AS quartile,
        |       round(percent_rank() OVER w, 6) AS pct_rank
        |FROM customer
        |WINDOW w AS (ORDER BY c_acctbal, c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_window_first_last" ->
      """SELECT c_custkey,
        |       first_value(c_custkey) OVER w AS first_k,
        |       last_value(c_custkey)  OVER w AS last_k,
        |       nth_value(c_custkey, 2) OVER w AS second_k
        |FROM customer
        |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_custkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY c_custkey""".stripMargin,
  )
}
