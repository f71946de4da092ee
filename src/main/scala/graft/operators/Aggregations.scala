package graft.operators

import graft.{halfUp, Q, Tables}
import org.apache.spark.sql.functions._

/** Aggregation surface (SURVEY §2.4).
  *
  * Reference semantics: the (year, month) groupby is the reference's
  * central aggregation (pipelines/precipitation_pipeline.py:134-141);
  * ungrouped counts for validation (precipitation_pipeline.py:106-109);
  * distinct coordinate extraction (precipitation_pipeline.py:170-171);
  * key→value map build with last-wins
  * (pipelines/population_pipeline.py:38-45); run-level totals printed
  * alongside monthly ones (precipitation_pipeline.py:627-633) — the
  * rollup analog; single-year extraction from a wide table
  * (population_pipeline.py:43) — the pivot analog.
  *
  * Scale posture: every aggregate here is a HashAggregateExec with
  * map-side partial aggregation (the shuffle carries one row per
  * group per mapper, not the raw data); countDistinct expands to a
  * two-phase aggregate; approx_count_distinct is the HLL++ sketch —
  * constant memory per group, the only sane distinct at 100 TB;
  * rollup/cube expand the grouping sets BEFORE the shuffle so it is
  * still one pass.
  */
object Aggregations {

  import org.apache.spark.sql.DataFrame

  /** Robust per-group outlier detection by modified z-score:
    * rz = 0.6745·(x − median)/MAD, flag |rz| > threshold (Iglewicz &
    * Hoaglin's 3.5 default) — the data-validation gate that, unlike
    * mean/stddev, is not dragged by the outliers it hunts. Groups
    * whose MAD is 0 (constant values) are excluded rather than
    * emitting ±∞.
    *
    * Scale posture: two grouped aggregates over the facts (median,
    * then MAD of deviations) each collapse to a per-group scalar
    * table broadcast back onto the stream — the facts shuffle on the
    * group key twice and never more. Exact `percentile` keeps oracle
    * parity; at 100 TB swap in `approx_percentile` (t-digest-style
    * sketch, constant memory per group) with an accuracy budget. */
  def anomalyMad(df: DataFrame, groupCol: String, valCol: String,
      threshold: Double = 3.5): DataFrame = {
    val med = df.groupBy(col(groupCol))
      .agg(expr(s"percentile($valCol, 0.5)").as("med"))
    val dev = df.join(broadcast(med), Seq(groupCol))
      .withColumn("adev", abs(col(valCol) - col("med")))
    val mad = dev.groupBy(col(groupCol))
      .agg(expr("percentile(adev, 0.5)").as("mad"))
    dev.join(broadcast(mad), Seq(groupCol))
      .where(col("mad") > 0)
      .withColumn("rz", lit(0.6745) * (col(valCol) - col("med")) / col("mad"))
      .where(abs(col("rz")) > threshold)
  }

  /** Per-group higher moments: skewness avg(z³) and EXCESS kurtosis
    * avg(z⁴)−3 over the group-standardized value — the distribution-
    * shape QA row (is this stratum symmetric? heavy-tailed?) next to
    * [[q_agg_stats]]'s location/scale. Computed from explicit
    * z-moments rather than the built-in skewness()/kurtosis(): engines
    * disagree on bias correction (sample G1 vs population g1), while
    * avg((x−µ)/σ)³ is the same formula everywhere.
    *
    * One window partition (µ, σ in a single group-key shuffle) feeding
    * one hash aggregate on the same key — Filter/Project preserve the
    * partitioning, so the aggregate adds no second exchange. */
  def groupMoments(df: DataFrame, group: org.apache.spark.sql.Column,
      value: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(group)
    val z = (value - avg(value).over(w)) / stddev_samp(value).over(w)
    // group by the ORIGINAL expression (aliased only for the output
    // name): renaming first would give the aggregate a fresh
    // attribute, defeating alias-aware partitioning propagation and
    // inserting a second exchange (observed; pinned in PlanSpec)
    df.withColumn("__z", z)
      .groupBy(group.as("grp"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("__z") * col("__z") * col("__z")), 4).as("skewness"),
        round(avg(col("__z") * col("__z") * col("__z") * col("__z")) - 3.0, 4)
          .as("kurtosis_excess"))
      .orderBy(col("grp"))
  }

  /** Weighted median: the value at which the cumulative WEIGHT
    * reaches half the group's total — the right central tendency when
    * rows carry mass (quantity-weighted price, population-weighted
    * measure; plain median treats a 1-unit and a 50-unit line
    * identically). Lower weighted median convention: first value (in
    * (value, tiebreak) order) whose running weight ≥ total/2.
    *
    * The running weight and the group total come from
    * [[Windows.prefixSums]] (range repartition on (group, value,
    * tiebreak) + per-(partition, group) local sums + broadcast offsets,
    * totals from the same partials), NOT a group-partitioned
    * ordered window: the naive window moves each group to ONE task,
    * so a low-cardinality stratum column (3 return flags over a 100 TB
    * fact table) serializes the whole sort onto 3 cores — 8.2 → 6.4 s
    * at sf1/local[8] (modest there; the point is structural: task
    * parallelism now scales with partitions, not stratum count). The
    * total is broadcast back; the qualifying-suffix min is unchanged.
    *
    * EXACTNESS CONTRACT: every weight must be integer-valued (counts,
    * units, cents — any numeric type). Running and total mass are sums
    * of per-partition partials, exact only in integer arithmetic, so a
    * fractional weight could move the half-mass boundary with the
    * partitioning; one fails the query through `raise_error` naming the
    * weight column. Scale fractional weights to integers first.
    *
    * Degenerate inputs: weights are assumed non-negative (negative
    * mass makes the running weight non-monotone and the "half the
    * total" boundary meaningless); an all-zero-weight group satisfies
    * cum ≥ 0 everywhere and returns its minimum value. */
  def weightedMedian(df: DataFrame, group: org.apache.spark.sql.Column,
      value: org.apache.spark.sql.Column, weight: org.apache.spark.sql.Column,
      tiebreak: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val tb = tiebreak.zipWithIndex.map { case (c, i) => c.as(s"_tb$i") }
    val tbCols = tiebreak.indices.map(i => col(s"_tb$i"))
    val mass = when(weight.isNull || weight === floor(weight), weight.cast("long"))
      .otherwise(raise_error(lit(s"weightedMedian: weight $weight must be integer-valued")))
    val base = df.select((group.as("grp") +: value.as("v") +: mass.as("w") +: tb): _*)
    val (cum, tots) = Windows.prefixSums(base, Seq("grp"),
      Seq(col("w") -> "cum"), col("v") +: tbCols)
    val tot = tots.select(col("grp"), col("cum").as("tot"))
    cum.join(broadcast(tot), "grp")
      .filter(col("cum") >= col("tot") / 2.0)
      .groupBy(col("grp"))
      .agg(round(min(col("v")), 2).as("weighted_median"))
      .orderBy(col("grp"))
  }

  /** COHEN'S d standardized effect size between two event streams'
    * value distributions — the magnitude readout the significance
    * tests deliberately don't give ([[abTest]]'s Welch t and
    * [[mannWhitney]]'s z say "is there a difference"; d says "how big
    * in pooled-σ units" — the number meta-analyses and power
    * calculations actually consume): d = (μ_a − μ_b)/s_pooled with
    * s²_pooled = ((n_a−1)s²_a + (n_b−1)s²_b)/(n_a+n_b−2). NULL on a
    * degenerate pool (both sides constant).
    *
    * Parity: ONE pass of conditional aggregates; values quantize to
    * the 1e-6 grid and squares to the 1e-4 grid AS LONGS (the
    * bootstrap SE posture) so every moment is an order-free integer
    * sum; means, variances, and d are one fixed-order double chain
    * with a ≤0 pool clamp to NULL (quantization can leave −ulp
    * variance on constants). */
  def cohensD(events: DataFrame, typeA: String, typeB: String): DataFrame = {
    val base = events.filter(col("value").isNotNull &&
        col("event_type").isin(typeA, typeB))
      .select(col("event_type").as("t"), col("value").as("v"))
    val qv = floor(col("v") * lit(1e6) + lit(0.5)).cast("long")
    val qq = floor(col("v") * col("v") * lit(1e4) + lit(0.5)).cast("long")
    val isA = col("t") === typeA
    val m = base.agg(
      sum(when(isA, 1L).otherwise(0L)).as("n_a"),
      sum(when(!isA, 1L).otherwise(0L)).as("n_b"),
      sum(when(isA, qv).otherwise(0L)).as("sa"),
      sum(when(!isA, qv).otherwise(0L)).as("sb"),
      sum(when(isA, qq).otherwise(0L)).as("ssa"),
      sum(when(!isA, qq).otherwise(0L)).as("ssb"))
    val naD = col("n_a").cast("double")
    val nbD = col("n_b").cast("double")
    val meanA = col("sa").cast("double") / lit(1e6) / naD
    val meanB = col("sb").cast("double") / lit(1e6) / nbD
    val varA = (col("ssa").cast("double") / lit(1e4) - naD * meanA * meanA) /
      (naD - lit(1.0))
    val varB = (col("ssb").cast("double") / lit(1e4) - nbD * meanB * meanB) /
      (nbD - lit(1.0))
    val pooled = ((naD - lit(1.0)) * varA + (nbD - lit(1.0)) * varB) /
      (naD + nbD - lit(2.0))
    m.select(col("n_a"), col("n_b"),
      halfUp(meanA, 4).as("mean_a"), halfUp(meanB, 4).as("mean_b"),
      halfUp(when(pooled <= 0.0, lit(null).cast("double"))
        .otherwise((meanA - meanB) / sqrt(pooled)), 6).as("cohens_d"))
  }

  /** COUNT-OF-COUNTS (cardinality histogram): for each group size k,
    * how many keys have exactly k rows — the KEY-SKEW audit run
    * before planning any shuffle on that key ("is the distribution
    * uniform, Zipfian, or is there one monster key?"; the histogram's
    * tail IS the salting/AQE-skew-join decision). Also the frequency-
    * of-frequencies table smoothing estimators (Good–Turing) start
    * from. Two counts-only hash aggregates with map-side partials —
    * exact integers end to end, nothing to quantize. */
  def countOfCounts(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame =
    df.groupBy(key.as("k")).agg(count(lit(1)).as("n"))
      .groupBy(col("n").as("group_size"))
      .agg(count(lit(1)).as("n_groups"))
      .orderBy(col("group_size"))

  /** THEIL T inequality index per group over a POSITIVE measure:
    * T = (1/n)·Σ (xᵢ/μ)·ln(xᵢ/μ) — the entropy-based concentration
    * readout next to [[groupGini]] (same 0-at-equality floor, but
    * DECOMPOSABLE: sub-population Theils aggregate exactly into the
    * whole, which is why corpus-mix audits report it alongside gini;
    * non-positive values are excluded — the log is undefined there,
    * the classical treatment). Two passes: exact-quantized group
    * means broadcast back, then one hash aggregate of the
    * per-row terms.
    *
    * Parity: μ is the exact quantized mean; xᵢ/μ divides
    * bit-identical doubles; each (x/μ)·ln(x/μ) term quantizes to the
    * 1e-6 grid AS LONGS before the order-free sum (the
    * entropy/benford transcendental posture — coarse enough that a
    * 1-ulp ln() disagreement cannot reach a grid boundary at this
    * magnitude); the final T is one fixed division chain.
    *
    * Scale posture: two counts-only hash aggregates with map-side
    * partials and one broadcast join — no window, no sort, nothing
    * group-serialized. */
  def theilIndex(df: DataFrame, group: org.apache.spark.sql.Column,
      value: org.apache.spark.sql.Column): DataFrame = {
    val base = df.select(group.as("grp"), value.as("v"))
      .filter(col("v") > 0.0)
    val mu = base.groupBy(col("grp"))
      .agg(count(lit(1)).as("n"),
        (sum(floor(col("v") * lit(1e6) + lit(0.5)).cast("long")).cast("double")
          / lit(1e6) / count(lit(1)).cast("double")).as("mu"))
    val term = (col("v") / col("mu")) * log(col("v") / col("mu"))
    base.join(broadcast(mu), "grp")
      .groupBy(col("grp"))
      .agg(max(col("n")).as("n"),
        (sum(floor(term * lit(1e6) + lit(0.5)).cast("long")).cast("double")
          / lit(1e6)).as("st"))
      .select(col("grp"), col("n"),
        halfUp(col("st") / col("n").cast("double"), 6).as("theil"))
      .orderBy(col("grp"))
  }

  /** Gini concentration coefficient per group over a non-negative
    * measure — "how concentrated is this stratum's mass" (corpus-mix
    * and revenue-concentration QA): G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n
    * over ascending-ranked values.
    *
    * The per-group rank is [[Windows.prefixSums]] of 1 (the
    * distributed per-group row number), not a group-partitioned
    * window — same rationale as [[weightedMedian]]: a dominant
    * stratum must never serialize onto one task. The Σ-reduction is
    * an order-insensitive hash aggregate either way. */
  def groupGini(df: DataFrame, group: org.apache.spark.sql.Column,
      value: org.apache.spark.sql.Column,
      tiebreak: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val tb = tiebreak.zipWithIndex.map { case (c, i) => c.as(s"_tb$i") }
    val tbCols = tiebreak.indices.map(i => col(s"_tb$i"))
    val base = df.select((group.as("grp") +: value.as("v") +: tb): _*)
    Windows.prefixSums(base, Seq("grp"), Seq(lit(1L) -> "rn"),
        col("v") +: tbCols)._1
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"),
        round(lit(2.0) * sum(col("rn") * col("v")) /
            (count(lit(1)) * sum(col("v"))) -
          (count(lit(1)) + lit(1.0)) / count(lit(1)), 6).as("gini"))
      .orderBy(col("grp"))
  }

  /** Recency-DECAYED aggregate per entity: each contribution is
    * weighted by a decay kernel of its age against the corpus
    * reference date (max event date, derived from the table itself so
    * the query is deterministic — the [[Windows.rfm]] convention), and
    * the weighted sum + effective sample size come out of ONE hash
    * aggregate (partials are three doubles; rows never move twice).
    *
    * The kernel is HYPERBOLIC, w = h/(h + age_days) (half weight at
    * `halfLifeDays`), not exponential — deliberately: exp() is a
    * transcendental whose last-ulp rounding differs across engines
    * (Java Math.exp vs C libm), which poisons hash-checked oracles,
    * while the hyperbolic kernel is two correctly-rounded IEEE basic
    * ops — bit-identical everywhere, same monotone "recent counts
    * more" shape. Kernel choice is a parameter of the method, not of
    * the architecture.
    *
    * Scale: reference date is a 1-row aggregate broadcast into the
    * scan projection; the decayed reduction is a single
    * map-side-partial hash agg on the entity key. */
  def decayedSum(df: DataFrame, entity: org.apache.spark.sql.Column,
      date: org.apache.spark.sql.Column,
      value: org.apache.spark.sql.Column,
      halfLifeDays: Double = 30.0): DataFrame = {
    val ref = df.agg(max(to_date(date)).as("__ref"))
    val age = datediff(col("__ref"), to_date(date)).cast("double")
    val w = lit(halfLifeDays) / (lit(halfLifeDays) + age)
    df.crossJoin(broadcast(ref))
      .groupBy(entity.as("entity"))
      .agg(count(lit(1)).as("n"),
        halfUp(sum(w * value), 4).as("decayed_value"),
        halfUp(sum(w), 4).as("effective_n"))
      .orderBy(col("entity"))
  }

  /** Rolling DISTINCT active users (DAU + trailing-window WAU): for
    * every active day, how many distinct users were active that day,
    * and how many across the trailing `window` days — the
    * engagement-dashboard staple whose naive form is a per-day
    * count-distinct over a sliding range (no engine's window frames
    * support DISTINCT).
    *
    * The scalable shape: reduce the stream to the distinct
    * (user, day) table first (the only pass over raw rows), then FAN
    * each activity day out to the `window` future days it keeps the
    * user "active" for — a bounded ×window explode of the already
    * tiny activity table — dedup (user, window-day), and count. Every
    * shuffle after the first carries (user, day) pairs or counts,
    * never events; count-distinct never runs over a range frame.
    * Trailing days past a user's last activity that have no OWN
    * activity in the corpus are not reported (the day spine is the
    * observed active-day set — inner join against DAU). */
  def rollingActiveUsers(events: DataFrame, window: Int = 7): DataFrame = {
    val epoch = to_date(lit("1970-01-01"))
    val ud = events.select(col("user_id"),
      datediff(to_date(col("ts")), epoch).cast("long").as("di")).distinct()
    val dau = ud.groupBy(col("di")).agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"),
        explode(sequence(col("di"), col("di") + lit(window - 1L))).as("di"))
      .distinct()
      .groupBy(col("di")).agg(count(lit(1)).as(s"rolling_$window"))
    dau.join(wau, Seq("di"), "inner")
      .select(date_add(epoch, col("di").cast("int")).as("day"),
        col("dau"), col(s"rolling_$window"))
      .orderBy(col("day"))
  }

  /** Shannon ENTROPY of a categorical mix per group (nats), with the
    * category count — "how varied is this stratum's behavior", the
    * mix-health scalar for segment QA (a one-event-type user segment
    * scores 0; uniform over k types scores ln k). Two counts-only hash
    * aggregates: (group, category) counts, then the entropy reduction
    * with the group total as a same-key window — one exchange since
    * the second aggregate reuses the first's (group)-compatible
    * distribution after the window. ln() parity with the oracle is
    * established practice here (the PSI terms and text-entropy tier
    * hash-match through round 6 rounding). */
  def groupEntropy(df: DataFrame, group: org.apache.spark.sql.Column,
      category: org.apache.spark.sql.Column): DataFrame = {
    val c = df.groupBy(group.as("grp"), category.as("cat"))
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("grp"))
    val p = col("n").cast("double") / sum(col("n")).over(w).cast("double")
    c.withColumn("term", -p * log(p))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_categories"),
        halfUp(sum(col("term")), 6).as("entropy_nats"))
      .orderBy(col("grp"))
  }

  /** Two-arm A/B TEST readout — the experimentation staple absent
    * from most "analytics" checklists until someone ships one wrong:
    * per-user rollup (the unit of randomization; event-level tests
    * overcount multi-event users), then Welch's t on the per-user
    * value metric and the two-proportion z on conversion, with
    * Welch–Satterthwaite degrees of freedom. Statistics only, plus a
    * |stat| > 1.96 significance flag — p-values need the t/normal CDF
    * (erf), a transcendental whose libm rounding differs across
    * engines; the caller brings their own CDF table, the engine stays
    * hash-verifiable.
    *
    * Scale posture: one (arm, user) hash aggregate over the events
    * (map-side partials), then a 2-row arm aggregate; the final
    * scalar algebra is a broadcast self-join of two 1-row frames.
    * Everything after the first aggregate is counts and moments. */
  def abTest(events: DataFrame, arm: org.apache.spark.sql.Column,
      convert: org.apache.spark.sql.Column): DataFrame = {
    val users = events
      .groupBy(arm.as("arm"), col("user_id"))
      .agg(max(when(convert, 1L).otherwise(0L)).as("converted"),
        sum(col("value")).as("user_value"))
    val arms = users.groupBy(col("arm"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("converted")).cast("double").as("conv"),
        avg(col("user_value")).as("mean_v"),
        var_samp(col("user_value")).as("var_v"))
    val c = arms.filter(col("arm") === 0)
      .select(col("n").as("n_c"), col("conv").as("conv_c"),
        col("mean_v").as("mean_c"), col("var_v").as("var_c"))
    val t = arms.filter(col("arm") === 1)
      .select(col("n").as("n_t"), col("conv").as("conv_t"),
        col("mean_v").as("mean_t"), col("var_v").as("var_t"))
    val pC = col("conv_c") / col("n_c")
    val pT = col("conv_t") / col("n_t")
    val pPool = (col("conv_c") + col("conv_t")) / (col("n_c") + col("n_t"))
    // degenerate pool (nobody or everybody converted): the z statistic
    // is undefined — NULL, not a division error or an engine-dependent
    // inf/NaN; the significance flag then reads 0
    val zConv = when(pPool === 0.0 || pPool === 1.0, lit(null).cast("double"))
      .otherwise((pT - pC) /
        sqrt(pPool * (lit(1.0) - pPool) * (lit(1.0) / col("n_c") + lit(1.0) / col("n_t"))))
    val a = col("var_c") / col("n_c")
    val b = col("var_t") / col("n_t")
    val tWelch = (col("mean_t") - col("mean_c")) / sqrt(a + b)
    val dfWelch = (a + b) * (a + b) /
      (a * a / (col("n_c") - 1.0) + b * b / (col("n_t") - 1.0))
    c.crossJoin(broadcast(t)).select(
      col("n_c").cast("long").as("n_c"), col("n_t").cast("long").as("n_t"),
      halfUp(pC, 4).as("conv_rate_c"), halfUp(pT, 4).as("conv_rate_t"),
      halfUp(zConv, 4).as("z_conv"),
      when(abs(zConv) > 1.96, 1L).otherwise(0L).as("sig_conv"),
      halfUp(col("mean_c"), 4).as("mean_c"), halfUp(col("mean_t"), 4).as("mean_t"),
      halfUp(tWelch, 4).as("t_welch"), halfUp(dfWelch, 2).as("df_welch"),
      when(abs(tWelch) > 1.96, 1L).otherwise(0L).as("sig_value"))
  }

  /** χ² test of independence between two categoricals plus Cramér's
    * V — "does the language mix differ by source?", the contingency
    * QA scalar next to [[abTest]]'s two-arm readout. Statistics only
    * (the flag convention of abTest): χ², degrees of freedom, and the
    * [0,1] effect size; p-values need the χ² CDF (an incomplete
    * gamma whose libm rounding differs across engines).
    *
    * Each cell's (o−e)²/e term quantizes to a 1e-9 grid as BIGINT
    * before the sum, so the statistic is order-free and bit-identical
    * under any partitioning; expected counts are a fixed-order double
    * chain over exact integer marginals.
    *
    * Scale posture: ONE (a,b) hash aggregate over the facts (map-side
    * partials) collapses 100 TB to a cells-sized table; marginals and
    * level counts are re-aggregations of those cells (never a second
    * scan), broadcast back onto them. */
  def chiSquareIndependence(df: DataFrame, a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): DataFrame = {
    val cells = df.select(a.as("a"), b.as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("o"))
    val rowT = cells.groupBy(col("a")).agg(sum(col("o")).as("ra"))
    val colT = cells.groupBy(col("b")).agg(sum(col("o")).as("cb"))
    val tot = cells.agg(sum(col("o")).as("n"))
    val la = rowT.agg(count(lit(1)).as("n_a"))
    val lb = colT.agg(count(lit(1)).as("n_b"))
    val e = col("ra").cast("double") * col("cb").cast("double") /
      col("n").cast("double")
    val term = (col("o").cast("double") - e) * (col("o").cast("double") - e) / e
    // the FULL level grid, not just observed cells: a zero-observed
    // cell still contributes (0−e)²/e — dropping it understates χ²
    // exactly when the association is strongest
    rowT.crossJoin(broadcast(colT))
      .join(cells, Seq("a", "b"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("termq", floor(term * lit(1e9) + lit(0.5)).cast("long"))
      .agg(max(col("n")).as("n"),
        sum(col("termq")).as("chi2q"))
      .crossJoin(broadcast(la)).crossJoin(broadcast(lb))
      .select(
        col("n"), col("n_a"), col("n_b"),
        ((col("n_a") - 1L) * (col("n_b") - 1L)).as("dof"),
        halfUp(col("chi2q").cast("double") / lit(1e9), 6).as("chi2"),
        halfUp(sqrt(col("chi2q").cast("double") / lit(1e9) /
          (col("n").cast("double") *
            (least(col("n_a"), col("n_b")) - 1L).cast("double"))), 6)
          .as("cramers_v"))
  }

  /** Decile CONCENTRATION curve over a per-entity money measure — the
    * "top 10% of customers carry X% of revenue" readout
    * ([[groupGini]] compresses concentration to one scalar; this is
    * the curve behind it, the Pareto/Lorenz table an analyst actually
    * reads). Entities rank DESCENDING by their exact integer-cents
    * total (ties by entity id — a total order), decile k = ranks in
    * ((k−1)·n/10, k·n/10]; per-decile share and cumulative share
    * divide BIGINT cent sums, so every aggregate is order-free and
    * the rendering engine-independent.
    *
    * Scale posture: one hash aggregate collapses the facts to
    * entity-sized cents; the global descending rank is the
    * distributed prefix sum ([[Windows.prefixSums]] of 1 — range
    * repartition + broadcast offsets, no single-task window); the
    * decile rollup is a 10-row table whose triangular cumulation is
    * a broadcast nested-loop over ≤ tiles rows. */
  def topShare(orders: DataFrame, tiles: Int = 10): DataFrame = {
    val rev = orders.groupBy(col("o_custkey").as("cust"))
      .agg(sum(floor(col("o_totalprice") * lit(100.0) + lit(0.5))
        .cast("long")).as("cents"))
    val nt = rev.agg(count(lit(1)).as("n"), sum(col("cents")).as("tot"))
    val dec = Windows.prefixSums(rev, Nil, Seq(lit(1L) -> "rn"),
        Seq(col("cents").desc, col("cust")))._1
      .crossJoin(broadcast(nt))
      .withColumn("decile", expr(s"((rn - 1L) * $tiles) div n") + lit(1L))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"), sum(col("cents")).as("tcents"),
        max(col("tot")).as("tot"))
    dec.join(broadcast(dec.select(col("decile").as("t2"),
        col("tcents").as("c2"))), col("t2") <= col("decile"))
      .groupBy(col("decile"))
      .agg(max(col("n_customers")).as("n_customers"),
        max(col("tcents")).as("tcents"), max(col("tot")).as("tot"),
        sum(col("c2")).as("ccents"))
      .select(col("decile"), col("n_customers"),
        halfUp(col("tcents").cast("double") / col("tot").cast("double"), 6)
          .as("share"),
        halfUp(col("ccents").cast("double") / col("tot").cast("double"), 6)
          .as("cum_share"))
      .orderBy(col("decile"))
  }

  /** PARETO CUT per market segment: the smallest head of the
    * revenue-sorted customer list covering ≥ `pct`% of segment
    * revenue — the direct "how few customers make 80% of the money"
    * answer (the 80/20 readout [[topShare]]'s fixed decile grid only
    * brackets). Emits per segment: customer count, the head size k,
    * the customer share k/n, and the revenue share the head actually
    * covers (≥ pct/100 by construction).
    *
    * The head is found WITHOUT a rank column: a customer belongs iff
    * its EXCLUSIVE running revenue (cum − own) is below the integer
    * threshold ⌈tot·pct/100⌉ — exactly the minimal prefix in the
    * (cents DESC, custkey) total order, counted by one conditional
    * aggregate. Integer cents end to end; the two shares are fixed
    * divisions over exact longs.
    *
    * Scale posture: revenue collapses map-side to (segment,
    * customer); the running sum is the distributed grouped prefix
    * sum (range repartition + broadcast offsets — a dominant segment
    * spans tasks, never a 5-partition window); totals ride a
    * broadcast join. */
  def paretoCut(orders: DataFrame, customer: DataFrame,
      pct: Int = 80): DataFrame = {
    require(pct >= 1 && pct <= 100, s"need 1 <= pct <= 100: $pct")
    val rev = orders
      .join(customer.select(col("c_custkey"), col("c_mktsegment").as("grp")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("grp"), col("o_custkey").as("cust"))
      .agg(sum(floor(col("o_totalprice") * lit(100.0) + lit(0.5))
        .cast("long")).as("cents"))
    // totals/counts from the prefix-sum partials: a separate
    // rev.groupBy would re-run the orders×customer join + aggregate
    val (cum, tots) = Windows.prefixSums(rev, Seq("grp"),
      Seq(col("cents") -> "cum"), Seq(col("cents").desc, col("cust")))
    val tot = tots.select(col("grp"), col("cum").as("tot"), col("_n").as("n"))
    cum.join(broadcast(tot), Seq("grp"))
      .filter(col("cum") - col("cents") <
        expr(s"(tot * $pct + 99) div 100"))
      .groupBy(col("grp"))
      .agg(max(col("n")).as("n_customers"), count(lit(1)).as("k_head"),
        sum(col("cents")).as("kcents"), max(col("tot")).as("tot"))
      .select(col("grp").as("segment"), col("n_customers"), col("k_head"),
        halfUp(col("k_head").cast("double") /
          col("n_customers").cast("double"), 4).as("cust_share"),
        halfUp(col("kcents").cast("double") / col("tot").cast("double"), 6)
          .as("rev_share"))
      .orderBy(col("segment"))
  }

  /** HERFINDAHL–HIRSCHMAN concentration INDEX per market segment:
    * HHI = Σ (customer revenue share)² — the antitrust/market-power
    * scalar next to [[groupGini]]'s inequality and [[paretoCut]]'s
    * head size (HHI weighs the LARGE shares quadratically: one 50%
    * customer moves HHI more than fifty 1% customers combined), plus
    * the effective participant count 1/HHI ("this market behaves
    * like N equal players").
    *
    * Parity: revenue is integer cents; each share² term quantizes to
    * the 1e-12 grid as a BIGINT after the double multiplication (the
    * chi2 posture — a float Σshare² over a million customers would
    * drift by accumulation order), so the sum is order-free and the
    * two emitted doubles are fixed chains over exact longs.
    *
    * Scale posture: one map-side-partial (segment, customer) cents
    * aggregate, a broadcast totals join back, one counts-only final
    * aggregate. No window, nothing quadratic. */
  def herfindahl(orders: DataFrame, customer: DataFrame): DataFrame = {
    val rev = orders
      .join(customer.select(col("c_custkey"), col("c_mktsegment").as("grp")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("grp"), col("o_custkey").as("cust"))
      .agg(sum(floor(col("o_totalprice") * lit(100.0) + lit(0.5))
        .cast("long")).as("cents"))
    val tot = rev.groupBy(col("grp")).agg(sum(col("cents")).as("tot"))
    val share = col("cents").cast("double") / col("tot").cast("double")
    rev.join(broadcast(tot), Seq("grp"))
      .select(col("grp"),
        floor(share * share * lit(1e12) + lit(0.5)).cast("long").as("termq"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_customers"), sum(col("termq")).as("sq"))
      .select(col("grp").as("segment"), col("n_customers"),
        halfUp(col("sq").cast("double") / lit(1e12), 6).as("hhi"),
        halfUp(lit(1e12) / col("sq").cast("double"), 4).as("effective_n"))
      .orderBy(col("segment"))
  }

  /** EXACT multi-quantile per group by RANK PICK — p25/p50/p75/p90 as
    * actual data values at rank ⌈q·n⌉ (type-1 quantiles: no
    * interpolation arithmetic, engine-independent by construction) —
    * the scale path next to `q_agg_percentile`'s `percentile()`
    * buffers: the buffer form holds every group value in aggregation
    * state (a dominant group = one giant buffer on one task); this
    * form never buffers — a dominant group spans tasks under the
    * distributed per-group rank.
    *
    * Scale posture: ranks via [[Windows.prefixSums]] of 1
    * (range repartition + broadcast offsets — no group-partitioned
    * window, no per-group state); the four cut ranks are integer
    * arithmetic (⌈q·n⌉ = (n·p + 99) div 100 — no float boundary) on
    * a broadcast group-count; one filter + pivot-shaped aggregate
    * emits the quantile row. Ties by (value, key) total order. */
  def groupQuantilesRank(df: DataFrame, group: org.apache.spark.sql.Column,
      value: org.apache.spark.sql.Column,
      tiebreak: Seq[org.apache.spark.sql.Column],
      pcts: Seq[Int] = Seq(25, 50, 75, 90)): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
      s"percentiles must be in 1..100: $pcts")
    val tb = tiebreak.zipWithIndex.map { case (c, i) => c.as(s"_tb$i") }
    val tbCols = tiebreak.indices.map(i => col(s"_tb$i"))
    val base = df.select((group.as("grp") +: value.as("v") +: tb): _*)
    // group counts come from the rank layout's own partials: a
    // separate base.groupBy(count) would re-scan the fact table
    val (ranked, tots) = Windows.prefixSums(base, Seq("grp"),
      Seq(lit(1L) -> "rn"), col("v") +: tbCols)
    val counts = tots.select(col("grp"), col("_n").as("n"))
    // ⌈p·n/100⌉ in pure integer arithmetic (div, not /): a float
    // quotient at an exact-integer boundary is the classic off-by-one
    val picks = pcts.map(p =>
      max(when(col("rn") === expr(s"(n * $p + 99) div 100"), col("v")))
        .as(s"p$p"))
    ranked.join(broadcast(counts), "grp")
      .groupBy(col("grp"))
      .agg(picks.head, picks.tail: _*)
      .orderBy(col("grp"))
  }

  /** AUDIENCE OVERLAP matrix: for every pair of event types, the
    * exact distinct-user intersection with Jaccard and
    * overlap-coefficient scores — "are purchasers a subset of
    * viewers?", the segment-containment readout behind funnel design
    * (Jaccard penalizes size mismatch; the overlap coefficient
    * |A∩B|/min answers containment directly). Zero-intersection pairs
    * still appear (the full type-pair grid, not just observed
    * co-occurrences — absence of overlap IS the finding).
    *
    * Scale posture: one corpus-wide (type, user) DISTINCT collapses
    * the facts (checkpointed — three consumers); the intersection
    * self-join fans out ≤ k² rows per user (k = #types, a handful by
    * nature), counts-only; audience sizes re-aggregate the distinct
    * table and broadcast onto the k²-row grid. Nothing user-quadratic
    * anywhere. */
  def audienceOverlap(events: DataFrame): DataFrame = {
    val au = events.select(col("event_type").as("t"), col("user_id").as("u"))
      .distinct().localCheckpoint()
    val sizes = au.groupBy(col("t")).agg(count(lit(1)).as("n"))
    val inter = au.select(col("t").as("ta"), col("u"))
      .join(au.select(col("t").as("tb"), col("u")), "u")
      .filter(col("ta") < col("tb"))
      .groupBy(col("ta"), col("tb")).agg(count(lit(1)).as("n_both"))
    val grid = sizes.select(col("t").as("ta"), col("n").as("n_a"))
      .join(broadcast(sizes.select(col("t").as("tb"), col("n").as("n_b"))),
        col("ta") < col("tb"))
    grid.join(inter, Seq("ta", "tb"), "left")
      .withColumn("n_both", coalesce(col("n_both"), lit(0L)))
      .select(col("ta"), col("tb"), col("n_a"), col("n_b"), col("n_both"),
        halfUp(col("n_both").cast("double") /
          (col("n_a") + col("n_b") - col("n_both")).cast("double"), 6)
          .as("jaccard"),
        halfUp(col("n_both").cast("double") /
          least(col("n_a"), col("n_b")).cast("double"), 6).as("overlap_coef"))
      .orderBy(col("ta"), col("tb"))
  }

  /** MANN–WHITNEY U rank-sum test between two arms — the
    * nonparametric sibling of [[abTest]]'s Welch t: compares the
    * per-user metric DISTRIBUTIONS by rank, so a heavy-tailed or
    * skewed metric (exactly what per-user revenue is) cannot drag the
    * readout through its variance the way a t statistic can. Average
    * ranks over ties, tie-corrected normal approximation; statistics
    * + |z| > 1.96 flag only — p-values need the normal CDF (erf, a
    * libm transcendental that breaks cross-engine hashing).
    *
    * Engine-independence is BY CONSTRUCTION: the per-user metric is
    * summed in integer cents (double summation is order-dependent —
    * fatal here, where tie GROUPING depends on exact equality), rank
    * arithmetic is doubled (2·avgRank is always an integer: tie
    * group at exclusive prefix c with t members has avgRank
    * (2c+t+1)/2), and every aggregate is a BIGINT sum — order-free
    * under any partitioning. Only the final 1-row z chain touches
    * doubles, in a fixed operand order the oracle mirrors.
    *
    * Scale posture: one (arm, user) hash aggregate, one (value) grid
    * aggregate (ties collapse — the shuffle carries distinct metric
    * values, not users), then the distributed global prefix sum
    * ([[Windows.prefixSums]]: range repartition + broadcast
    * offsets — no single-task whole-relation window) assigns ranks,
    * and a final 1-row fold does the algebra. */
  def mannWhitney(events: DataFrame, arm: org.apache.spark.sql.Column,
      metricCents: org.apache.spark.sql.Column): DataFrame = {
    val users = events
      .groupBy(arm.as("arm"), col("user_id"))
      .agg(sum(metricCents).as("v"))
    val grid = users.groupBy(col("v"))
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("ta"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("tb"))
      .withColumn("t", col("ta") + col("tb"))
    val (ranked, _) = Windows.prefixSums(grid, Nil, Seq(col("t") -> "cum"),
      Seq(col("v")))
    // doubled average rank of a tie group: 2·(exclusive prefix) + t + 1
    val dr = (col("cum") - col("t")) * 2L + col("t") + 1L
    val a = ranked.agg(
      sum(col("ta")).as("na"), sum(col("tb")).as("nb"),
      sum(col("ta") * dr).as("ra2"),
      sum(col("t") * col("t") * col("t") - col("t")).as("tie"))
    val naD = col("na").cast("double")
    val nbD = col("nb").cast("double")
    val nD = (col("na") + col("nb")).cast("double")
    val tieD = col("tie").cast("double")
    val u2a = col("ra2") - col("na") * (col("na") + 1L) // = 2·U_a, exact
    val uaD = u2a.cast("double") / lit(2.0)
    val varU = naD * nbD * ((nD + lit(1.0)) - tieD / (nD * (nD - lit(1.0)))) /
      lit(12.0)
    // degenerate spread (single tie group, or an empty arm): z is
    // undefined — NULL, never a division error or engine-dependent inf
    val z = when(col("na") === 0L || col("nb") === 0L || varU <= lit(0.0),
        lit(null).cast("double"))
      .otherwise((uaD - naD * nbD / lit(2.0)) / sqrt(varU))
    a.select(
      col("na").as("n_a"), col("nb").as("n_b"),
      uaD.as("u_a"), (naD * nbD - uaD).as("u_b"),
      halfUp(z, 4).as("z_u"),
      when(abs(z) > lit(1.96), 1L).otherwise(0L).as("sig"))
  }

  /** BENFORD first-digit screening — the leading-digit distribution
    * of a positive measure against Benford's law log₁₀(1+1/d), with
    * per-digit deviation: the data-quality / fabrication screen for
    * naturally-scaled quantities (prices, populations, file sizes).
    * A synthetic or truncated column announces itself as a flat or
    * spiked digit histogram.
    *
    * The leading digit comes from the INTEGER part rendered as a
    * string — integer-to-string is engine-independent, where
    * double-to-string and log₁₀-based digit extraction both have
    * cross-engine last-ulp traps. Values below 1 are excluded (their
    * leading digit lives in the fraction).
    *
    * Scale posture: one 9-group hash aggregate with map-side
    * partials; the total re-aggregates the digit counts (never a
    * second scan) and broadcasts back. */
  def benfordScreen(df: DataFrame, value: org.apache.spark.sql.Column): DataFrame = {
    val counts = df.filter(value >= 1.0)
      .select(substring(floor(value).cast("long").cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("total"))
    val share = col("n").cast("double") / col("total").cast("double")
    val expected = log(lit(1.0) + lit(1.0) / col("digit").cast("double")) /
      log(lit(10.0))
    counts.crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        halfUp(share, 6).as("share"),
        halfUp(expected, 6).as("benford"),
        halfUp(share - expected, 6).as("deviation"))
      .orderBy(col("digit"))
  }

  /** Cumulative Poisson(1) CDF cut points for the bootstrap weight
    * draw, computed ONCE in Scala and emitted as literals into BOTH
    * the plan and the generated oracle (Double.toString round-trips
    * exactly) — the single source of truth that makes the
    * transcendental e⁻¹ thresholds engine-independent. */
  private val poissonCdf: Seq[Double] =
    graft.plans.BootstrapDraws.poissonCdf.toSeq

  /** DETERMINISTIC Poisson bootstrap of a mean — standard error and
    * percentile confidence interval with zero distributional
    * assumptions (Efron), replayable bit-for-bit: replicate b draws
    * each row with weight w ~ Poisson(1) inverted from a
    * sha-256(id:salt:b) uniform (the production-scale bootstrap — a
    * "sample n of n with replacement" needs a global shuffle per
    * replicate; Poisson weights need one narrow pass), truncated at
    * w=5 (P(X>5|λ=1) ≈ 0.06%).
    *
    * Parity: the e⁻¹ CDF cut points are Scala-computed literals
    * emitted into both engines ([[poissonCdf]]); replicate means
    * divide integer-quantized weighted sums; the CI bounds are
    * RANK-PICKED replicate means (order statistics, no
    * interpolation); the SE chain uses quantized replicate-mean
    * moments with a ≥0 clamp (quantization can leave −ulp variance).
    *
    * Scale posture: ONE corpus scan with 2·B conditional aggregate
    * columns (B bounded; rows never shuffle raw, never replicate —
    * the map side reduces to a single 2·B-long partial per task);
    * the replicate table unpacks from that one row, everything after
    * is a 1-row fold. */
  def bootstrapMean(df: DataFrame, id: org.apache.spark.sql.Column,
      value: org.apache.spark.sql.Column, b: Int = 100,
      salt: String = "bs"): DataFrame =
    bootstrapMeanImpl(df, id, value, b, salt, nativeDraws = true)

  /** `nativeDraws` switches the weight projection between the fused
    * [[graft.plans.BootstrapDraws]] expression (default — one digest
    * loop per row, no hex render/parse) and the B-column sha2 tree.
    * Both emit bit-identical weights; the tree is the plain-SQL
    * statement of the draw, kept as the reference OperatorSemanticsSpec
    * compares the fused expression against. */
  private[graft] def bootstrapMeanImpl(df: DataFrame,
      id: org.apache.spark.sql.Column, value: org.apache.spark.sql.Column,
      b: Int, salt: String, nativeDraws: Boolean): DataFrame = {
    require(b >= 10, s"need b >= 10: $b")
    val base = df.select(id.as("rid"), value.as("v"))
    // SINGLE-PASS replicate sums: 2·B conditional aggregate columns
    // over one scan replace the r11 rows×B flat-map + B-group hash
    // aggregate (n·B rows materialized through the agg hash map; 13.9 s
    // = the #2 bench line). Per-replicate Σwᵢxqᵢ and Σwᵢ are
    // order-independent INTEGER sums, so the replicate means — and
    // every hash-checked digit downstream — are bit-identical to the
    // grouped form and to the unchanged DuckDB twin. The weight
    // projection lands in its own select so each sha-256 draw is
    // evaluated once per (row, replicate), not once per referencing
    // aggregate.
    def wFor(rep: Int): org.apache.spark.sql.Column = {
      val u = conv(substring(sha2(concat(col("rid").cast("string"),
        lit(":" + salt + ":" + rep)), 256), 1, 8), 16, 10)
        .cast("long").cast("double") / lit(4294967296.0)
      when(u < poissonCdf(0), 0L).when(u < poissonCdf(1), 1L)
        .when(u < poissonCdf(2), 2L).when(u < poissonCdf(3), 3L)
        .when(u < poissonCdf(4), 4L).otherwise(5L)
    }
    val xq = floor(col("v") * lit(1e6) + lit(0.5)).cast("long")
    // graft.spread: B sha-256 draws per row is CPU-heavy narrow work
    // and the harness tables arrive as one split — without the
    // exchange the whole pass runs on one core (integer sums are
    // partitioning-invariant, so parity is unaffected)
    val spreadBase = graft.spread(base, col("rid"))
    val (wide, sums) =
      if (nativeDraws) {
        // ONE fused digest loop per row emits all B weights as an
        // array column; the aggregate expressions element_at into the
        // projected attribute, so the loop runs once per row (the
        // aggregate never collapses into its project child)
        // NULL-id parity: the tree form's when-chain falls to
        // .otherwise(5L) when the hashed uniform is NULL (null rid) —
        // and the DuckDB oracle's CASE ... ELSE 5 does the same — but
        // the fused expression is null-in/null-out, which would
        // silently EXCLUDE null-id rows from the replicate sums.
        // Coalescing to the all-5s array keeps the three paths
        // bit-identical on any id column, not just non-null ones.
        val ws = coalesce(
          org.apache.spark.sql.GraftBridge.column(
            graft.plans.BootstrapDraws(
              org.apache.spark.sql.GraftBridge.expression(
                col("rid").cast("string")), salt, b)),
          array_repeat(lit(5L), b))
        val w = spreadBase.select(col("v"), ws.as("ws"))
        val s = (0 until b).flatMap(r => Seq(
          sum(element_at(col("ws"), r + 1) * xq).as(s"s$r"),
          sum(element_at(col("ws"), r + 1)).as(s"c$r")))
        (w, s)
      } else {
        val w = spreadBase.select(col("v") +:
          (0 until b).map(r => wFor(r).as(s"w$r")): _*)
        val s = (0 until b).flatMap(r => Seq(
          sum(col(s"w$r") * xq).as(s"s$r"), sum(col(s"w$r")).as(s"c$r")))
        (w, s)
      }
    val oneRow = wide.agg(sums.head, sums.tail: _*)
    val repMeans = oneRow.select(explode(array((0 until b).map(r =>
        struct(lit(r.toLong).as("rep"),
          (col(s"s$r").cast("double") / lit(1e6) /
            col(s"c$r").cast("double")).as("mb"))): _*)).as("e"))
      .select(col("e.rep").as("rep"), col("e.mb").as("mb"))
    val kLo = math.floor(0.025 * b).toInt + 1
    val kHi = b - math.floor(0.025 * b).toInt
    val stats = repMeans.agg(
      count(lit(1)).as("n_reps"),
      sort_array(collect_list(col("mb"))).as("ms"),
      sum(floor(col("mb") * lit(1e9) + lit(0.5)).cast("long")).as("smq"),
      sum(floor(col("mb") * col("mb") * lit(1e4) + lit(0.5)).cast("long")).as("smmq"))
    val point = base.agg(count(lit(1)).as("n_rows"),
      (sum(floor(col("v") * lit(1e6) + lit(0.5)).cast("long")).cast("double")
        / lit(1e6) / count(lit(1)).cast("double")).as("mean0"))
    val bD = col("n_reps").cast("double")
    val sm = col("smq").cast("double") / lit(1e9)
    val smm = col("smmq").cast("double") / lit(1e4)
    val varM = greatest((bD * smm - sm * sm) / (bD * (bD - lit(1.0))), lit(0.0))
    point.crossJoin(broadcast(stats)).select(
      col("n_rows"), col("n_reps"),
      halfUp(col("mean0"), 4).as("mean"),
      halfUp(sqrt(varM), 6).as("boot_se"),
      halfUp(element_at(col("ms"), kLo), 4).as("ci_lo"),
      halfUp(element_at(col("ms"), kHi), 4).as("ci_hi"))
  }

  /** The generated DuckDB twin of [[bootstrapMean]] — the SAME CDF
    * literals, digest recipe, quantized chains, and rank picks. */
  private[operators] def bootstrapOracleSql(b: Int, salt: String): String = {
    val c = poissonCdf
    val kLo = math.floor(0.025 * b).toInt + 1
    val kHi = b - math.floor(0.025 * b).toInt
    s"""WITH base AS (SELECT o_orderkey AS rid, o_totalprice AS v FROM orders),
       |reps AS (SELECT CAST(unnest(range(0, $b)) AS BIGINT) AS rep),
       |d AS (
       |  SELECT rep,
       |         (CASE WHEN u < ${c(0)} THEN 0 WHEN u < ${c(1)} THEN 1
       |               WHEN u < ${c(2)} THEN 2 WHEN u < ${c(3)} THEN 3
       |               WHEN u < ${c(4)} THEN 4 ELSE 5 END)::BIGINT AS w,
       |         CAST(floor(v * 1000000.0 + 0.5) AS BIGINT) AS xq
       |  FROM (SELECT rep, v,
       |          ('0x' || substr(sha256(CAST(rid AS VARCHAR) || ':$salt:' || CAST(rep AS VARCHAR)), 1, 8))::BIGINT
       |          / 4294967296.0 AS u
       |        FROM base CROSS JOIN reps)),
       |rm AS (
       |  SELECT rep, CAST(sum(w * xq) AS DOUBLE) / 1000000.0 / CAST(sum(w) AS DOUBLE) AS mb
       |  FROM d GROUP BY rep),
       |st AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_reps,
       |         list(mb ORDER BY mb) AS ms,
       |         CAST(sum(CAST(floor(mb * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000.0 AS sm,
       |         CAST(sum(CAST(floor(mb * mb * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS smm
       |  FROM rm),
       |pt AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
       |         CAST(sum(CAST(floor(v * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
       |           / 1000000.0 / count(*) AS mean0
       |  FROM base)
       |SELECT n_rows, n_reps,
       |       floor(mean0 * 10000.0 + 0.5) / 10000.0 AS mean,
       |       floor(sqrt(greatest((CAST(n_reps AS DOUBLE) * smm - sm * sm)
       |                           / (CAST(n_reps AS DOUBLE) * (CAST(n_reps AS DOUBLE) - 1.0)), 0.0))
       |             * 1000000.0 + 0.5) / 1000000.0 AS boot_se,
       |       floor(ms[$kLo] * 10000.0 + 0.5) / 10000.0 AS ci_lo,
       |       floor(ms[$kHi] * 10000.0 + 0.5) / 10000.0 AS ci_hi
       |FROM pt CROSS JOIN st""".stripMargin
  }

  /** EXACT distinct count via BITMAP pre-aggregation (Spark's native
    * bitmap_* functions): ids bucket into 32k-bit bitmaps, each
    * (group, bucket) reduces to ONE bitmap with map-side partial
    * merging, and the distinct count is the sum of per-bucket bit
    * counts. Same answer as count(DISTINCT), different scale
    * contract: the bitmap state is MERGEABLE (segments can
    * pre-aggregate independently and OR together later — the
    * materialized-view / OLAP-cube refresh technique), while
    * count(DISTINCT) expands every raw id through the shuffle. The
    * shuffle here carries one ≤4 KB bitmap per (group, bucket,
    * mapper) instead of one row per (group, id). */
  def bitmapDistinct(df: DataFrame, group: org.apache.spark.sql.Column,
      id: org.apache.spark.sql.Column): DataFrame =
    df.select(group.as("grp"), id.as("id"))
      .groupBy(col("grp"), expr("bitmap_bucket_number(id)").as("bkt"))
      .agg(expr("bitmap_count(bitmap_construct_agg(bitmap_bit_position(id)))")
        .as("cnt"))
      .groupBy(col("grp"))
      .agg(sum(col("cnt")).as("n_distinct"))
      .orderBy(col("grp"))

  /** MERGEABLE quantile sketch per group — the approximate,
    * stream/cube-refresh complement of [[bitmapDistinct]]'s exact
    * mergeable state and the scale path next to the exact
    * `percentile` rank pick (q_agg_percentile): Spark's native
    * `percentile_approx` (Greenwald–Khanna summaries) keeps one
    * bounded sketch per (group, task) that MERGES associatively —
    * map-side partials shuffle O(accuracy) state per group instead of
    * raw rows, segments can pre-aggregate independently and combine
    * later, and the same state serves a streaming window refresh.
    * Rank error is bounded by 1/accuracy; at the default 10⁴ the
    * returned value's true rank sits within 10⁻⁴·n of the target
    * (band pinned in OperatorSemanticsSpec — the q_agg_approx_distinct
    * spec posture; approximate sketches carry a spec, not an oracle).
    *
    * Scale: ONE hash aggregate, counts-plus-sketch only; no window,
    * no sort, no raw-value shuffle — at 100 TB the shuffle carries a
    * few KB per (group, mapper). */
  def approxPercentiles(df: DataFrame, group: org.apache.spark.sql.Column,
      value: org.apache.spark.sql.Column,
      accuracy: Int = 10000): DataFrame = {
    val pcts = array(lit(0.25), lit(0.5), lit(0.75), lit(0.95))
    df.select(group.as("grp"), value.as("v"))
      .groupBy(col("grp"))
      .agg(percentile_approx(col("v"), pcts, lit(accuracy)).as("ps"),
        count(lit(1)).as("n"))
      .select(col("grp"), col("n"),
        element_at(col("ps"), 1).as("p25"),
        element_at(col("ps"), 2).as("p50"),
        element_at(col("ps"), 3).as("p75"),
        element_at(col("ps"), 4).as("p95"))
      .orderBy(col("grp"))
  }

  /** Driver-visible BAND CHECK over [[approxPercentiles]] — the
    * oracle-eligible form of an approximate operator: re-count each
    * estimate's exact rank interval [count(<)+1, count(<=)] in a
    * second pass and assert it intersects the GK guarantee band
    * target·n ± (n/accuracy + 1) (the +1 absorbs the target-rank
    * rounding convention). The DuckDB twin asserts the booleans TRUE,
    * so a sketch outside its own contract breaks the hash exactly
    * like a wrong exact answer — no bit-parity pretended, the BAND is
    * the contract. Two scans + one broadcast join of the per-group
    * sketch row; both aggregations are map-side-combined counts. */
  def approxPercentileBandCheck(df: DataFrame,
      group: org.apache.spark.sql.Column, value: org.apache.spark.sql.Column,
      accuracy: Int = 10000): DataFrame = {
    val est = approxPercentiles(df, group, value, accuracy)
      .withColumnRenamed("grp", "egrp").withColumnRenamed("n", "en")
    val base = df.select(group.as("grp"), value.as("v"))
    val pcts = Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75, "p95" -> 0.95)
    val counts = count(lit(1)).as("n") +: pcts.flatMap { case (nm, _) => Seq(
      sum(when(col("v") <= col(nm), 1L).otherwise(0L)).as(s"le_$nm"),
      sum(when(col("v") < col(nm), 1L).otherwise(0L)).as(s"lt_$nm")) }
    val agg = base.join(broadcast(est), base("grp") === est("egrp"))
      .groupBy(col("grp"))
      .agg(counts.head, counts.tail: _*)
    val eps = 1.0 / accuracy
    val checks = pcts.map { case (nm, p) =>
      val band = col("n").cast("double") * eps + lit(1.0)
      val lo = col("n").cast("double") * p - band
      val hi = col("n").cast("double") * p + band
      // the estimate's rank interval [lt+1, le] must intersect [lo, hi]
      (col(s"le_$nm").cast("double") >= lo &&
        (col(s"lt_$nm") + lit(1L)).cast("double") <= hi).as(s"${nm}_in_band")
    }
    agg.select(col("grp") +: col("n") +: checks: _*).orderBy(col("grp"))
  }

  /** Ordered string aggregation (LISTAGG): per group, the member ids
    * concatenated in an EXPLICIT order — the "top offenders" /
    * "sample ids per stratum" report cell every BI surface renders.
    * Spark's `collect_list` is famously non-deterministic across
    * shuffles, so the contract here is order-by-construction: rank
    * rows with a total order first, then sort the collected
    * (rank, id) pairs before joining — the output string never
    * depends on task scheduling.
    *
    * Scale posture: the rank filter (rk ≤ k) rewrites into a
    * map-side WindowGroupLimit, so ≤k rows per group reach the
    * shuffle; the final aggregate concatenates k short strings per
    * group. Never listagg an unbounded group — the rank bound IS
    * the memory contract. */
  def orderedListAgg(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"need k >= 1: $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    graft.spread(docs, col("doc_id"))
      .select(col("lang"), col("doc_id"), col("n_chars"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .groupBy(col("lang"))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("rk"), col("doc_id")))),
            x => x.getField("doc_id").cast("string")), ",").as("top_docs"),
        count(lit(1)).as("n_top"))
      .orderBy(col("lang"))
  }

  /** Per-group WINSORIZED mean: clip values at the per-group k-th /
    * (n−k+1)-th ORDER STATISTICS (k = ⌊n·tail⌋) and average the
    * clipped stream — the robust location estimate that keeps every
    * row's vote (unlike a trimmed mean) while bounding any single
    * row's pull. Cut points are actual data values picked by rank,
    * NOT interpolated percentiles: interpolation arithmetic differs
    * across engines in the last ulp, while "the value at rank k" is
    * engine-independent by construction. The clipped mean sums
    * integer-quantized terms (⌊x·10⁶+½⌋ as BIGINT) so the sum is
    * order-free and bit-identical regardless of partitioning.
    *
    * Scale posture: one ranked window partitioned by the group key
    * (3-way here; at unbounded per-group width escalate to the
    * distributed prefix-sum rank of [[weightedMedian]]), cut points
    * collapse to one row per group and broadcast back onto the
    * stream, then a plain hash aggregate of long partials. */
  def winsorizedMean(df: DataFrame, group: org.apache.spark.sql.Column,
      value: org.apache.spark.sql.Column, tail: Double): DataFrame = {
    require(tail > 0 && tail < 0.5, s"need 0 < tail < 0.5: $tail")
    val base = df.select(group.as("grp"), value.as("v"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("v"))
    val wg = org.apache.spark.sql.expressions.Window.partitionBy(col("grp"))
    val cuts = graft.spread(base, col("v"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(wg))
      .withColumn("k", floor(col("n").cast("double") * lit(tail)).cast("long"))
      .groupBy(col("grp"))
      .agg(
        max(when(col("rn") === col("k") + 1L, col("v"))).as("lo"),
        max(when(col("rn") === col("n") - col("k"), col("v"))).as("hi"))
    val clipped = base.join(broadcast(cuts), Seq("grp"))
      .withColumn("cl", least(greatest(col("v"), col("lo")), col("hi")))
    clipped.groupBy(col("grp"))
      .agg(
        count(lit(1)).as("n"),
        halfUp(max(col("lo")), 4).as("lo_cut"),
        halfUp(max(col("hi")), 4).as("hi_cut"),
        halfUp(sum(floor(col("cl") * lit(1e6) + lit(0.5)).cast("long"))
          .cast("double") / lit(1e6) / count(lit(1)).cast("double"), 4)
          .as("winsor_mean"),
        halfUp(sum(floor(col("v") * lit(1e6) + lit(0.5)).cast("long"))
          .cast("double") / lit(1e6) / count(lit(1)).cast("double"), 4)
          .as("raw_mean"))
      .orderBy(col("grp"))
  }

  val queries: Map[String, Q] = Map(
    // user-parity arms over the events stream — the assignment rule is
    // arbitrary (any deterministic user hash works); the CONTRACT is
    // per-user rollup + Welch/z statistics
    "q_ab_test" -> ((s, d) =>
      abTest(Tables.events(s, d), col("user_id") % 2,
        col("event_type") === "purchase" && col("value") > 90)),
    // rank-sum readout over the same arms as q_ab_test — per-user
    // revenue is heavy-tailed, exactly the shape where the rank test
    // earns its keep; metric summed in integer cents (the data is
    // 2-decimal) so tie grouping is exact on every engine
    "q_stats_mannwhitney" -> ((s, d) =>
      mannWhitney(Tables.events(s, d), col("user_id") % 2,
        round(col("value") * 100).cast("long"))),
    // bootstrap SE + 95% percentile CI of the mean order total
    "q_stats_bootstrap" -> ((s, d) =>
      bootstrapMean(Tables.orders(s, d), col("o_orderkey"),
        col("o_totalprice"))),
    // do order totals follow Benford? (they should — multiplicative)
    "q_stats_benford" -> ((s, d) =>
      benfordScreen(Tables.orders(s, d), col("o_totalprice"))),
    // is the language mix independent of the source? (documents)
    "q_stats_chi2" -> ((s, d) =>
      chiSquareIndependence(Tables.documents(s, d), col("lang"),
        col("source"))),
    // per-language "longest docs" report cell — 5 ids in length order
    "q_agg_listagg" -> ((s, d) =>
      orderedListAgg(Tables.documents(s, d), 5)),
    // 5%-tail winsorized price per return flag
    "q_agg_winsorized" -> ((s, d) =>
      winsorizedMean(Tables.lineitem(s, d), col("l_returnflag"),
        col("l_extendedprice"), 0.05)),
    // distinct customers per priority through the bitmap path; the
    // oracle's plain count(DISTINCT) proves exactness
    "q_agg_bitmap_distinct" -> ((s, d) =>
      bitmapDistinct(Tables.orders(s, d), col("o_orderpriority"),
        col("o_custkey"))),
    // behavioral-mix entropy per user-decile segment
    "q_agg_entropy" -> ((s, d) =>
      groupEntropy(Tables.events(s, d), col("user_id") % 10,
        col("event_type"))),
    "q_agg_active_users" -> ((s, d) =>
      rollingActiveUsers(Tables.events(s, d))),
    // customer lifetime value with recency decay — "what has this
    // customer spent, counted through a 30-day-half-weight lens"
    "q_agg_decay" -> ((s, d) =>
      decayedSum(Tables.orders(s, d), col("o_custkey"),
        col("o_orderdate"), col("o_totalprice"))),
    "q_agg_weighted_median" -> ((s, d) =>
      weightedMedian(Tables.lineitem(s, d), col("l_returnflag"),
        col("l_extendedprice"), col("l_quantity"),
        Seq(col("l_orderkey"), col("l_linenumber")))),
    "q_agg_gini" -> ((s, d) =>
      groupGini(Tables.orders(s, d), col("o_orderpriority"),
        col("o_totalprice"), Seq(col("o_orderkey")))),
    // Theil T inequality per priority — the decomposable companion
    // of gini over the same substrate
    "q_agg_theil" -> ((s, d) =>
      theilIndex(Tables.orders(s, d), col("o_orderpriority"),
        col("o_totalprice"))),
    // order-size histogram: the key-skew audit for l_orderkey
    "q_agg_count_of_counts" -> ((s, d) =>
      countOfCounts(Tables.lineitem(s, d), col("l_orderkey"))),
    // effect size between the view and purchase value distributions
    "q_stats_cohens_d" -> ((s, d) =>
      cohensD(Tables.events(s, d), "view", "purchase")),
    // revenue-concentration deciles over customers (Lorenz table)
    "q_agg_topshare" -> ((s, d) =>
      topShare(Tables.orders(s, d))),
    // smallest customer head covering 80% of segment revenue
    "q_agg_pareto_cut" -> ((s, d) =>
      paretoCut(Tables.orders(s, d), Tables.customer(s, d))),
    // Herfindahl concentration + effective participant count
    "q_agg_hhi" -> ((s, d) =>
      herfindahl(Tables.orders(s, d), Tables.customer(s, d))),
    // distinct-user overlap between every event-type pair
    "q_agg_audience_overlap" -> ((s, d) =>
      audienceOverlap(Tables.events(s, d))),
    // buffer-free exact quantile grid per return flag (the scale path
    // next to q_agg_percentile's percentile() buffers)
    "q_agg_quantiles_rank" -> ((s, d) =>
      groupQuantilesRank(Tables.lineitem(s, d), col("l_returnflag"),
        col("l_extendedprice"),
        Seq(col("l_orderkey"), col("l_linenumber")))),
    "q_agg_moments" -> ((s, d) =>
      groupMoments(Tables.customer(s, d), col("c_nationkey"), col("c_acctbal"))),
    // per-event-type robust outliers in the value stream
    // rz rendered via floor-based half-up (floor(x·10⁴ + ½)/10⁴), NOT
    // round(): the raw quotient is bit-identical on both engines, but
    // round() implementations disagree exactly when the shortest
    // decimal repr sits on a .5 boundary whose binary value is a hair
    // below it (found by the sf0.1 sweep: 3.85225 → 3.8522 vs 3.8523).
    // floor/·/+ are all exact-rounded IEEE ops on the identical
    // double, so the rendering is engine-independent by construction.
    "q_anomaly_mad" -> ((s, d) =>
      anomalyMad(Tables.events(s, d), "event_type", "value")
        .select(col("event_id"), col("event_type"), col("value"),
          (floor(col("rz") * lit(10000.0) + lit(0.5)) / lit(10000.0)).as("rz"))
        .orderBy(col("event_id"))),
    // Ungrouped global aggregate (validation counts analog).
    "q_agg_global" -> ((s, d) =>
      Tables.lineitem(s, d).agg(
        count(lit(1)).as("n_rows"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        min(col("l_shipdate")).as("min_ship"),
        max(col("l_shipdate")).as("max_ship"),
        round(avg(col("l_extendedprice")), 2).as("avg_price"))),

    // Distinct values of a column (unique coordinates analog).
    "q_agg_distinct" -> ((s, d) =>
      Tables.lineitem(s, d).select(col("l_returnflag")).distinct()
        .orderBy(col("l_returnflag"))),

    "q_agg_count_distinct" -> ((s, d) =>
      Tables.lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"))
        .orderBy(col("l_returnflag"))),

    // HLL++ sketch — no oracle (approximate by design); asserted
    // within ±5% of exact in OperatorSemanticsSpec.
    // HLL++ distinct, registered as a DRIVER-VISIBLE banded check (the
    // q_agg_approx_percentile posture): the exact distinct count is
    // recomputed alongside and the query asserts the estimate inside
    // ±15% (3× the default 5% rsd — the estimate is deterministic for
    // a fixed input, so the row is stable); the oracle re-derives the
    // exact count and asserts the boolean TRUE. An estimator drifting
    // out of its own error contract hash-mismatches like any wrong
    // answer. The raw 5% band stays pinned in OperatorSemanticsSpec.
    "q_agg_approx_distinct" -> ((s, d) =>
      Tables.lineitem(s, d)
        .agg(approx_count_distinct(col("l_partkey")).as("approx"),
          countDistinct(col("l_partkey")).as("n_exact_parts"))
        .select(col("n_exact_parts"),
          (abs(col("approx").cast("double") - col("n_exact_parts").cast("double"))
            <= col("n_exact_parts").cast("double") * 0.15).as("hll_in_band"))),

    // mergeable GK quantile sketch per return flag, registered as a
    // DRIVER-VISIBLE banded check: the estimates' exact ranks (second
    // pass) must sit inside the sketch's own 1/accuracy guarantee —
    // Spark emits the booleans, the oracle asserts them true, so a
    // sketch drifting out of band breaks the hash like any wrong
    // answer (the raw estimates stay spec-banded vs exact quantiles
    // in OperatorSemanticsSpec; `approxPercentiles` is the operator)
    "q_agg_approx_percentile" -> ((s, d) =>
      approxPercentileBandCheck(Tables.lineitem(s, d), col("l_returnflag"),
        col("l_extendedprice"))),

    // Key→value aggregation: one value per key, arg-max semantics
    // (deterministic replacement for the reference's last-wins dict).
    "q_agg_map_build" -> ((s, d) =>
      Tables.customer(s, d).groupBy(col("c_nationkey"))
        .agg(max_by(col("c_acctbal"), col("c_custkey")).as("latest_bal"),
          count(lit(1)).as("n_keys"))
        .orderBy(col("c_nationkey"))),

    // Rollup: (year, month) → year → grand total, one pass.
    "q_agg_rollup" -> ((s, d) =>
      Climate.withYearMonth(Tables.orders(s, d), "o_orderdate")
        .rollup(col("year"), col("month"))
        .agg(round(sum(col("o_totalprice")), 2).as("total"),
          count(lit(1)).as("n"))
        .orderBy(col("year").asc_nulls_first, col("month").asc_nulls_first)),

    "q_agg_cube" -> ((s, d) =>
      Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)),

    // Dataset groupingSets API (Spark 4) — no temp-view session state.
    "q_agg_grouping_sets" -> ((s, d) =>
      Tables.orders(s, d)
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)),

    // Exact interpolated percentiles per group. Exact `percentile`
    // buffers the group's values, so it is for bounded-cardinality
    // groups (here: per-flag price distributions); the sketch-based
    // scale path (approx_percentile/ApproximatePercentile, constant
    // memory per group) is what gridResolutions and the ntile rewrite
    // already use at unbounded cardinality.
    // graft.spread first: exact percentile's partial aggregation
    // buffers values per group, and a single-split source would build
    // that state on one core
    "q_agg_percentile" -> ((s, d) =>
      graft.spread(Tables.lineitem(s, d), col("l_orderkey"))
        .groupBy(col("l_returnflag"))
        // ONE percentile buffer per measure: the array form computes
        // all three cut points from a single value buffer (three
        // separate percentile() calls would each hold their own copy
        // of every value — 3× the aggregation state)
        .agg(
          expr("percentile(l_extendedprice, array(0.25, 0.5, 0.75))").as("ps"),
          round(expr("percentile(l_quantity, 0.9)"), 4).as("qty_p90"))
        .select(col("l_returnflag"),
          round(element_at(col("ps"), 1), 4).as("p25"),
          round(element_at(col("ps"), 2), 4).as("p50"),
          round(element_at(col("ps"), 3), 4).as("p75"),
          col("qty_p90"))
        .orderBy(col("l_returnflag"))),

    // Bivariate statistics per group: correlation + covariance (the
    // measure-vs-measure diagnostics a climate/QA pipeline runs).
    // Single-pass streaming aggregates — constant state per group.
    "q_agg_corr" -> ((s, d) =>
      Tables.lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(
          round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("qp_corr"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("qp_covar"),
          round(covar_pop(col("l_quantity"), col("l_extendedprice")), 4).as("qp_covar_pop"))
        .orderBy(col("l_returnflag"))),

    // Per-group stats (climate normals analog).
    "q_agg_stats" -> ((s, d) =>
      Tables.lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(round(avg(col("l_quantity")), 4).as("avg_qty"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          round(stddev_samp(col("l_quantity")), 4).as("sd_qty"))
        .orderBy(col("l_returnflag"))),

    // Per-group MODE (most frequent value), fully deterministic: ties
    // break toward the larger value. Two hash aggregates — counts per
    // (group, value), then arg-max by the (count, value) pair via
    // max_by with a struct ordering key; both shuffles carry only
    // (group, value, count), never rows. (The engines' native mode()
    // functions tie-break differently — this formulation hash-matches.)
    "q_agg_mode" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_quantity")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("l_returnflag"))
        .agg(max_by(col("l_quantity"),
            struct(col("cnt"), col("l_quantity"))).as("mode_qty"),
          max(col("cnt")).as("mode_n"))
        .orderBy(col("l_returnflag"))),

    // Pivot with a FIXED value set — unbounded pivot domains are a
    // driver-side collect and do not scale.
    "q_pivot" -> ((s, d) =>
      Climate.withYearMonth(Tables.lineitem(s, d), "l_shipdate")
        .groupBy(col("year"))
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(round(sum(col("l_quantity")), 2))
        .orderBy(col("year"))),
  )

  val oracle: Map[String, String] = Map(
    // same cents rollup, same doubled-rank integers, same fixed z
    // chain (operand order mirrored term for term)
    "q_stats_mannwhitney" ->
      """WITH u AS (
        |  SELECT user_id % 2 AS arm, user_id,
        |         SUM(CAST(round(value * 100) AS BIGINT)) AS v
        |  FROM events GROUP BY 1, 2),
        |g AS (
        |  SELECT v,
        |         SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS ta,
        |         SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS tb
        |  FROM u GROUP BY v),
        |r AS (
        |  SELECT ta, tb, ta + tb AS t,
        |         SUM(ta + tb) OVER (ORDER BY v
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM g),
        |a AS (
        |  SELECT CAST(SUM(ta) AS BIGINT) AS na, CAST(SUM(tb) AS BIGINT) AS nb,
        |         CAST(SUM(ta * ((cum - t) * 2 + t + 1)) AS BIGINT) AS ra2,
        |         CAST(SUM(t * t * t - t) AS BIGINT) AS tie
        |  FROM r),
        |f AS (
        |  SELECT na, nb, ra2 - na * (na + 1) AS u2a,
        |         CAST(na AS DOUBLE) AS nad, CAST(nb AS DOUBLE) AS nbd,
        |         CAST(na + nb AS DOUBLE) AS nd, CAST(tie AS DOUBLE) AS tied
        |  FROM a),
        |s AS (
        |  SELECT na, nb, nad, nbd,
        |         CAST(u2a AS DOUBLE) / 2.0 AS uad,
        |         nad * nbd * ((nd + 1.0) - tied / (nd * (nd - 1.0))) / 12.0
        |           AS varu
        |  FROM f),
        |z AS (
        |  SELECT na, nb, uad, nad, nbd,
        |         CASE WHEN na = 0 OR nb = 0 OR varu <= 0.0 THEN NULL
        |              ELSE (uad - nad * nbd / 2.0) / sqrt(varu) END AS zz
        |  FROM s)
        |SELECT na AS n_a, nb AS n_b, uad AS u_a, nad * nbd - uad AS u_b,
        |       floor(zz * 10000.0 + 0.5) / 10000.0 AS z_u,
        |       CASE WHEN abs(zz) > 1.96 THEN CAST(1 AS BIGINT)
        |            ELSE CAST(0 AS BIGINT) END AS sig
        |FROM z""".stripMargin,
    // generated from the SAME Scala constants and digest recipe as
    // the plan — see bootstrapOracleSql
    "q_stats_bootstrap" -> bootstrapOracleSql(100, "bs"),
    // same integer-part string digit (engine-independent, unlike
    // double rendering or log10 extraction), same ln/ln expectation
    "q_stats_benford" ->
      """WITH c AS (
        |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM orders WHERE o_totalprice >= 1.0 GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
        |SELECT digit, n,
        |       floor(CAST(n AS DOUBLE) / CAST(total AS DOUBLE) * 1000000.0 + 0.5)
        |         / 1000000.0 AS share,
        |       floor(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0)
        |             * 1000000.0 + 0.5) / 1000000.0 AS benford,
        |       floor((CAST(n AS DOUBLE) / CAST(total AS DOUBLE)
        |              - ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0))
        |             * 1000000.0 + 0.5) / 1000000.0 AS deviation
        |FROM c CROSS JOIN t ORDER BY digit""".stripMargin,
    // same exact integer marginals, same fixed-order expected-count
    // chain, same 1e-9 BIGINT term grid — order-free χ² sum
    "q_stats_chi2" ->
      """WITH cells AS (
        |  SELECT lang AS a, source AS b, CAST(count(*) AS BIGINT) AS o
        |  FROM documents GROUP BY 1, 2),
        |rt AS (SELECT a, CAST(sum(o) AS BIGINT) AS ra FROM cells GROUP BY a),
        |ct AS (SELECT b, CAST(sum(o) AS BIGINT) AS cb FROM cells GROUP BY b),
        |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
        |lv AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM rt) AS n_a,
        |              (SELECT CAST(count(*) AS BIGINT) FROM ct) AS n_b),
        |grid AS (
        |  SELECT rt.a, rt.ra, ct.b, ct.cb, coalesce(cells.o, 0) AS o
        |  FROM rt CROSS JOIN ct
        |  LEFT JOIN cells ON cells.a = rt.a AND cells.b = ct.b),
        |s AS (
        |  SELECT max(tot.n) AS n,
        |         CAST(sum(CAST(floor(
        |           (CAST(o AS DOUBLE) - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(tot.n AS DOUBLE))
        |           * (CAST(o AS DOUBLE) - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(tot.n AS DOUBLE))
        |           / (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(tot.n AS DOUBLE))
        |           * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS chi2q
        |  FROM grid CROSS JOIN tot)
        |SELECT s.n, lv.n_a, lv.n_b,
        |       (lv.n_a - 1) * (lv.n_b - 1) AS dof,
        |       floor(CAST(chi2q AS DOUBLE) / 1000000000.0 * 1000000.0 + 0.5)
        |         / 1000000.0 AS chi2,
        |       floor(sqrt(CAST(chi2q AS DOUBLE) / 1000000000.0
        |             / (CAST(s.n AS DOUBLE) * CAST(least(lv.n_a, lv.n_b) - 1 AS DOUBLE)))
        |             * 1000000.0 + 0.5) / 1000000.0 AS cramers_v
        |FROM s CROSS JOIN lv""".stripMargin,
    // same total order (n_chars DESC, doc_id), same rank bound, same
    // comma join — string_agg's ORDER BY mirrors the engine's
    // sorted-collect construction
    "q_agg_listagg" ->
      """WITH r AS (
        |  SELECT lang, doc_id,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM documents)
        |SELECT lang,
        |       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY rk) AS top_docs,
        |       CAST(count(*) AS BIGINT) AS n_top
        |FROM r WHERE rk <= 5 GROUP BY lang ORDER BY lang""".stripMargin,
    // same rank-picked cut points (k-th / (n-k)-th order statistics,
    // zero interpolation), same integer-quantized order-free mean
    "q_agg_winsorized" ->
      """WITH v AS (SELECT l_returnflag AS grp, l_extendedprice AS v FROM lineitem),
        |r AS (
        |  SELECT grp, v,
        |         CAST(row_number() OVER (PARTITION BY grp ORDER BY v) AS BIGINT) AS rn,
        |         count(*) OVER (PARTITION BY grp) AS n
        |  FROM v),
        |c AS (
        |  SELECT grp,
        |         max(CASE WHEN rn = CAST(floor(CAST(n AS DOUBLE) * 0.05e0) AS BIGINT) + 1 THEN v END) AS lo,
        |         max(CASE WHEN rn = n - CAST(floor(CAST(n AS DOUBLE) * 0.05e0) AS BIGINT) THEN v END) AS hi
        |  FROM r GROUP BY grp)
        |SELECT v.grp, CAST(count(*) AS BIGINT) AS n,
        |       floor(max(c.lo) * 10000.0 + 0.5) / 10000.0 AS lo_cut,
        |       floor(max(c.hi) * 10000.0 + 0.5) / 10000.0 AS hi_cut,
        |       floor(CAST(sum(CAST(floor(least(greatest(v.v, c.lo), c.hi) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |             / 1000000.0 / count(*) * 10000.0 + 0.5) / 10000.0 AS winsor_mean,
        |       floor(CAST(sum(CAST(floor(v.v * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |             / 1000000.0 / count(*) * 10000.0 + 0.5) / 10000.0 AS raw_mean
        |FROM v JOIN c USING (grp) GROUP BY v.grp ORDER BY v.grp""".stripMargin,
    // identical per-user rollup + Welch/z algebra; var_samp parity at
    // 4 dp (the q_agg_stats posture), significance flags as 0/1
    "q_ab_test" ->
      """WITH u AS (
        |  SELECT user_id % 2 AS arm, user_id,
        |         max(CASE WHEN event_type = 'purchase' AND value > 90 THEN 1 ELSE 0 END)
        |           AS converted,
        |         sum(value) AS user_value
        |  FROM events GROUP BY 1, 2),
        |a AS (SELECT arm, CAST(count(*) AS DOUBLE) AS n,
        |             CAST(sum(converted) AS DOUBLE) AS conv,
        |             avg(user_value) AS mean_v, var_samp(user_value) AS var_v
        |      FROM u GROUP BY 1),
        |w AS (SELECT
        |        c.n AS n_c, t.n AS n_t, c.conv AS conv_c, t.conv AS conv_t,
        |        c.mean_v AS mean_c, t.mean_v AS mean_t,
        |        c.var_v / c.n AS va, t.var_v / t.n AS vb,
        |        (c.conv + t.conv) / (c.n + t.n) AS pp
        |      FROM (SELECT * FROM a WHERE arm = 0) c,
        |           (SELECT * FROM a WHERE arm = 1) t)
        |SELECT CAST(n_c AS BIGINT) AS n_c, CAST(n_t AS BIGINT) AS n_t,
        |       floor(conv_c / n_c * 10000.0 + 0.5) / 10000.0 AS conv_rate_c,
        |       floor(conv_t / n_t * 10000.0 + 0.5) / 10000.0 AS conv_rate_t,
        |       floor((CASE WHEN pp = 0.0 OR pp = 1.0 THEN NULL
        |              ELSE (conv_t / n_t - conv_c / n_c)
        |                   / sqrt(pp * (1.0 - pp) * (1.0 / n_c + 1.0 / n_t)) END)
        |             * 10000.0 + 0.5) / 10000.0 AS z_conv,
        |       CAST(CASE WHEN abs(CASE WHEN pp = 0.0 OR pp = 1.0 THEN NULL
        |              ELSE (conv_t / n_t - conv_c / n_c)
        |                   / sqrt(pp * (1.0 - pp) * (1.0 / n_c + 1.0 / n_t)) END) > 1.96
        |           THEN 1 ELSE 0 END AS BIGINT) AS sig_conv,
        |       floor(mean_c * 10000.0 + 0.5) / 10000.0 AS mean_c,
        |       floor(mean_t * 10000.0 + 0.5) / 10000.0 AS mean_t,
        |       floor((mean_t - mean_c) / sqrt(va + vb) * 10000.0 + 0.5) / 10000.0
        |         AS t_welch,
        |       floor((va + vb) * (va + vb)
        |             / (va * va / (n_c - 1.0) + vb * vb / (n_t - 1.0))
        |             * 100.0 + 0.5) / 100.0 AS df_welch,
        |       CAST(CASE WHEN abs((mean_t - mean_c) / sqrt(va + vb)) > 1.96
        |           THEN 1 ELSE 0 END AS BIGINT) AS sig_value
        |FROM w""".stripMargin,
    // the bitmap path must equal plain COUNT(DISTINCT) exactly
    "q_agg_bitmap_distinct" ->
      """SELECT o_orderpriority AS grp,
        |       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // same (grp, cat) counts → p·ln p chain, same operand order
    "q_agg_entropy" ->
      """WITH c AS (
        |  SELECT user_id % 10 AS grp, event_type AS cat, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |p AS (SELECT grp,
        |        -(CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY grp) AS DOUBLE))
        |         * ln(CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY grp) AS DOUBLE))
        |         AS term
        |      FROM c)
        |SELECT grp, count(*) AS n_categories,
        |       floor(sum(term) * 1000000.0 + 0.5) / 1000000.0 AS entropy_nats
        |FROM p GROUP BY grp ORDER BY grp""".stripMargin,
    // independent formulation: range join per day instead of the
    // engine's fan-out — cross-checks the explode trick's semantics
    "q_agg_active_users" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
        |  FROM events),
        |dau AS (SELECT d, count(*) AS dau FROM ud GROUP BY 1),
        |wau AS (
        |  SELECT s.d, count(DISTINCT ud.user_id) AS rolling_7
        |  FROM (SELECT DISTINCT d FROM ud) s
        |  JOIN ud ON ud.d BETWEEN s.d - 6 AND s.d
        |  GROUP BY 1)
        |SELECT dau.d AS day, dau.dau, wau.rolling_7
        |FROM dau JOIN wau ON dau.d = wau.d
        |ORDER BY day""".stripMargin,
    // hyperbolic kernel = basic IEEE ops only (see decayedSum scaladoc
    // — exp() would differ in the last ulp across engines)
    "q_agg_decay" ->
      """WITH r AS (SELECT max(CAST(o_orderdate AS DATE)) AS ref FROM orders)
        |SELECT o_custkey AS entity, count(*) AS n,
        |       floor(sum((30.0 / (30.0 + date_diff('day',
        |             CAST(o_orderdate AS DATE), r.ref))) * o_totalprice)
        |         * 10000.0 + 0.5) / 10000.0 AS decayed_value,
        |       floor(sum(30.0 / (30.0 + date_diff('day',
        |             CAST(o_orderdate AS DATE), r.ref)))
        |         * 10000.0 + 0.5) / 10000.0 AS effective_n
        |FROM orders CROSS JOIN r
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_agg_weighted_median" ->
      """WITH w AS (
        |  SELECT l_returnflag AS grp, l_extendedprice AS v,
        |         sum(l_quantity) OVER (PARTITION BY l_returnflag
        |           ORDER BY l_extendedprice, l_orderkey, l_linenumber
        |           ROWS UNBOUNDED PRECEDING) AS cum,
        |         sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tot
        |  FROM lineitem)
        |SELECT grp, round(min(v), 2) AS weighted_median
        |FROM w WHERE cum >= tot / 2.0
        |GROUP BY grp ORDER BY grp""".stripMargin,
    // same conditional quantized moments, same fixed chain and clamp
    "q_stats_cohens_d" ->
      """WITH m AS (
        |  SELECT
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN event_type <> 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN event_type = 'view'
        |             THEN CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS sa,
        |    CAST(sum(CASE WHEN event_type <> 'view'
        |             THEN CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS sb,
        |    CAST(sum(CASE WHEN event_type = 'view'
        |             THEN CAST(floor(value * value * 10000.0 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS ssa,
        |    CAST(sum(CASE WHEN event_type <> 'view'
        |             THEN CAST(floor(value * value * 10000.0 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS ssb
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IN ('view', 'purchase')),
        |k AS (
        |  SELECT n_a, n_b,
        |         CAST(sa AS DOUBLE) / 1000000.0 / CAST(n_a AS DOUBLE) AS ma,
        |         CAST(sb AS DOUBLE) / 1000000.0 / CAST(n_b AS DOUBLE) AS mb,
        |         CAST(ssa AS DOUBLE) / 10000.0 AS qa,
        |         CAST(ssb AS DOUBLE) / 10000.0 AS qb
        |  FROM m),
        |v AS (
        |  SELECT n_a, n_b, ma, mb,
        |         ((CAST(n_a AS DOUBLE) - 1.0)
        |            * ((qa - CAST(n_a AS DOUBLE) * ma * ma) / (CAST(n_a AS DOUBLE) - 1.0))
        |          + (CAST(n_b AS DOUBLE) - 1.0)
        |            * ((qb - CAST(n_b AS DOUBLE) * mb * mb) / (CAST(n_b AS DOUBLE) - 1.0)))
        |         / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 2.0) AS pooled
        |  FROM k)
        |SELECT n_a, n_b,
        |       floor(ma * 10000.0 + 0.5) / 10000.0 AS mean_a,
        |       floor(mb * 10000.0 + 0.5) / 10000.0 AS mean_b,
        |       floor((CASE WHEN pooled <= 0.0 THEN NULL
        |              ELSE (ma - mb) / sqrt(pooled) END)
        |             * 1000000.0 + 0.5) / 1000000.0 AS cohens_d
        |FROM v""".stripMargin,
    // exact integers end to end
    "q_agg_count_of_counts" ->
      """SELECT n AS group_size, CAST(count(*) AS BIGINT) AS n_groups
        |FROM (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n
        |      FROM lineitem GROUP BY l_orderkey)
        |GROUP BY n ORDER BY group_size""".stripMargin,
    // same positive filter, same exact-quantized means, same
    // 1e-6-grid quantized (x/mu)*ln(x/mu) terms, same division chain
    "q_agg_theil" ->
      """WITH b AS (
        |  SELECT o_orderpriority AS grp, o_totalprice AS v
        |  FROM orders WHERE o_totalprice > 0.0),
        |mu AS (
        |  SELECT grp, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(floor(v * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |           / 1000000.0 / count(*) AS mu
        |  FROM b GROUP BY grp)
        |SELECT b.grp, max(n) AS n,
        |       floor(CAST(sum(CAST(floor((v / mu) * ln(v / mu) * 1000000.0 + 0.5)
        |                          AS BIGINT)) AS DOUBLE) / 1000000.0
        |             / CAST(max(n) AS DOUBLE)
        |             * 1000000.0 + 0.5) / 1000000.0 AS theil
        |FROM b JOIN mu ON b.grp = mu.grp
        |GROUP BY b.grp ORDER BY b.grp""".stripMargin,
    "q_agg_gini" ->
      """WITH r AS (
        |  SELECT o_orderpriority AS grp, o_totalprice AS v,
        |         CAST(row_number() OVER (PARTITION BY o_orderpriority
        |           ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS rn
        |  FROM orders)
        |SELECT grp, CAST(count(*) AS BIGINT) AS n,
        |       round(2.0 * sum(rn * v) / (count(*) * sum(v))
        |             - (count(*) + 1.0) / count(*), 6) AS gini
        |FROM r GROUP BY grp ORDER BY grp""".stripMargin,
    // integer-cents sums, integer decile carve, triangular cumulation
    // — mirrors topShare exactly (halfUp rendering)
    "q_agg_topshare" ->
      """WITH rev AS (
        |  SELECT o_custkey AS cust,
        |         CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
        |              AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |              CAST(sum(cents) AS BIGINT) AS tot FROM rev),
        |rk AS (SELECT cust, cents,
        |              CAST(row_number() OVER (ORDER BY cents DESC, cust)
        |                   AS BIGINT) AS rn
        |       FROM rev),
        |dec AS (SELECT ((rn - 1) * 10) // n + 1 AS decile,
        |               CAST(count(*) AS BIGINT) AS n_customers,
        |               CAST(sum(cents) AS BIGINT) AS tcents,
        |               max(tot) AS tot
        |        FROM rk CROSS JOIN nt GROUP BY 1)
        |SELECT a.decile, max(a.n_customers) AS n_customers,
        |       floor(CAST(max(a.tcents) AS DOUBLE) / max(a.tot) * 1e6 + 0.5)
        |         / 1e6 AS share,
        |       floor(CAST(sum(b.tcents) AS DOUBLE) / max(a.tot) * 1e6 + 0.5)
        |         / 1e6 AS cum_share
        |FROM dec a JOIN dec b ON b.decile <= a.decile
        |GROUP BY a.decile ORDER BY a.decile""".stripMargin,
    // same integer cents, same 1e-12-quantized share² terms, same
    // fixed final divisions
    "q_agg_hhi" ->
      """WITH rev AS (
        |  SELECT c.c_mktsegment AS grp, o.o_custkey AS cust,
        |         CAST(sum(CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT))
        |              AS BIGINT) AS cents
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2),
        |t AS (SELECT grp, CAST(sum(cents) AS BIGINT) AS tot FROM rev GROUP BY 1),
        |q AS (
        |  SELECT rev.grp,
        |         CAST(floor((CAST(rev.cents AS DOUBLE) / CAST(t.tot AS DOUBLE))
        |                    * (CAST(rev.cents AS DOUBLE) / CAST(t.tot AS DOUBLE))
        |                    * 1e12 + 0.5) AS BIGINT) AS termq
        |  FROM rev JOIN t ON rev.grp = t.grp)
        |SELECT grp AS segment, CAST(count(*) AS BIGINT) AS n_customers,
        |       floor(CAST(sum(termq) AS DOUBLE) / 1e12 * 1e6 + 0.5) / 1e6 AS hhi,
        |       floor(1e12 / CAST(sum(termq) AS DOUBLE) * 1e4 + 0.5) / 1e4
        |         AS effective_n
        |FROM q GROUP BY 1 ORDER BY segment""".stripMargin,
    // same integer cents, same (cents DESC, cust) exclusive-prefix
    // threshold ⌈tot·80/100⌉, same fixed share divisions
    "q_agg_pareto_cut" ->
      """WITH rev AS (
        |  SELECT c.c_mktsegment AS grp, o.o_custkey AS cust,
        |         CAST(sum(CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT))
        |              AS BIGINT) AS cents
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT grp, cust, cents,
        |         CAST(sum(cents) OVER (PARTITION BY grp
        |           ORDER BY cents DESC, cust
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS BIGINT) AS cum
        |  FROM rev),
        |t AS (SELECT grp, CAST(sum(cents) AS BIGINT) AS tot,
        |             CAST(count(*) AS BIGINT) AS n
        |      FROM rev GROUP BY 1)
        |SELECT r.grp AS segment, max(t.n) AS n_customers,
        |       CAST(count(*) AS BIGINT) AS k_head,
        |       floor(CAST(count(*) AS DOUBLE) / CAST(max(t.n) AS DOUBLE)
        |             * 1e4 + 0.5) / 1e4 AS cust_share,
        |       floor(CAST(sum(r.cents) AS DOUBLE) / CAST(max(t.tot) AS DOUBLE)
        |             * 1e6 + 0.5) / 1e6 AS rev_share
        |FROM r JOIN t ON r.grp = t.grp
        |WHERE r.cum - r.cents < (t.tot * 80 + 99) // 100
        |GROUP BY 1 ORDER BY segment""".stripMargin,
    // same (value, key) total order, same integer ⌈p·n/100⌉ cut ranks
    "q_agg_quantiles_rank" ->
      """WITH r AS (
        |  SELECT l_returnflag AS grp, l_extendedprice AS v,
        |         CAST(row_number() OVER (PARTITION BY l_returnflag
        |           ORDER BY l_extendedprice, l_orderkey, l_linenumber)
        |           AS BIGINT) AS rn,
        |         CAST(count(*) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
        |  FROM lineitem)
        |SELECT grp,
        |       max(CASE WHEN rn = (n * 25 + 99) // 100 THEN v END) AS p25,
        |       max(CASE WHEN rn = (n * 50 + 99) // 100 THEN v END) AS p50,
        |       max(CASE WHEN rn = (n * 75 + 99) // 100 THEN v END) AS p75,
        |       max(CASE WHEN rn = (n * 90 + 99) // 100 THEN v END) AS p90
        |FROM r GROUP BY grp ORDER BY grp""".stripMargin,
    // same distinct rollup, full pair grid with zero-intersection
    // rows kept, same quotients (halfUp rendering)
    "q_agg_audience_overlap" ->
      """WITH au AS (SELECT DISTINCT event_type AS t, user_id AS u FROM events),
        |sizes AS (SELECT t, CAST(count(*) AS BIGINT) AS n FROM au GROUP BY t),
        |inter AS (
        |  SELECT a.t AS ta, b.t AS tb, CAST(count(*) AS BIGINT) AS n_both
        |  FROM au a JOIN au b ON a.u = b.u AND a.t < b.t
        |  GROUP BY 1, 2),
        |grid AS (
        |  SELECT sa.t AS ta, sb.t AS tb, sa.n AS n_a, sb.n AS n_b
        |  FROM sizes sa JOIN sizes sb ON sa.t < sb.t)
        |SELECT ta, tb, n_a, n_b, coalesce(n_both, 0) AS n_both,
        |       floor(CAST(coalesce(n_both, 0) AS DOUBLE)
        |             / CAST(n_a + n_b - coalesce(n_both, 0) AS DOUBLE)
        |             * 1000000.0 + 0.5) / 1000000.0 AS jaccard,
        |       floor(CAST(coalesce(n_both, 0) AS DOUBLE)
        |             / CAST(least(n_a, n_b) AS DOUBLE)
        |             * 1000000.0 + 0.5) / 1000000.0 AS overlap_coef
        |FROM grid LEFT JOIN inter USING (ta, tb)
        |ORDER BY ta, tb""".stripMargin,
    "q_agg_moments" ->
      """WITH w AS (
        |  SELECT c_nationkey AS grp,
        |         (c_acctbal - avg(c_acctbal) OVER g)
        |           / stddev_samp(c_acctbal) OVER g AS z
        |  FROM customer WINDOW g AS (PARTITION BY c_nationkey))
        |SELECT grp, count(*) AS n,
        |       round(avg(z * z * z), 4) AS skewness,
        |       round(avg(z * z * z * z) - 3.0, 4) AS kurtosis_excess
        |FROM w GROUP BY grp ORDER BY grp""".stripMargin,
    // same two-pass robust stats (DuckDB's median/mad are the same
    // exact interpolated quantiles), same operand order in rz
    "q_anomaly_mad" ->
      """WITH m AS (SELECT event_type, median(value) AS med FROM events GROUP BY 1),
        |d AS (SELECT e.event_id, e.event_type, e.value,
        |             e.value - m.med AS dev, abs(e.value - m.med) AS adev
        |      FROM events e JOIN m USING (event_type)),
        |md AS (SELECT event_type, median(adev) AS mad FROM d GROUP BY 1)
        |SELECT event_id, d.event_type, value,
        |       floor(0.6745 * dev / mad * 10000.0 + 0.5) / 10000.0 AS rz
        |FROM d JOIN md USING (event_type)
        |WHERE mad > 0 AND abs(0.6745 * dev / mad) > 3.5
        |ORDER BY event_id""".stripMargin,
    // same deterministic tie-break expressed as a rank over the
    // (count desc, value desc) order — the pair arg-max in window form
    "q_agg_mode" ->
      """SELECT l_returnflag, l_quantity AS mode_qty, cnt AS mode_n
        |FROM (SELECT l_returnflag, l_quantity, cnt,
        |             row_number() OVER (PARTITION BY l_returnflag
        |                                ORDER BY cnt DESC, l_quantity DESC) AS rn
        |      FROM (SELECT l_returnflag, l_quantity, count(*) AS cnt
        |            FROM lineitem GROUP BY 1, 2))
        |WHERE rn = 1 ORDER BY 1""".stripMargin,
    "q_agg_global" ->
      """SELECT count(*) AS n_rows,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       min(l_shipdate) AS min_ship,
        |       max(l_shipdate) AS max_ship,
        |       round(avg(l_extendedprice), 2) AS avg_price
        |FROM lineitem""".stripMargin,
    "q_agg_distinct" ->
      "SELECT DISTINCT l_returnflag FROM lineitem ORDER BY 1",
    "q_agg_count_distinct" ->
      """SELECT l_returnflag,
        |       count(DISTINCT l_partkey) AS n_parts,
        |       count(DISTINCT l_suppkey) AS n_supps
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // banded-check twin: exact distinct re-derived, the band boolean
    // asserted TRUE (see the registered query's scaladoc)
    "q_agg_approx_distinct" ->
      """SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_exact_parts,
        |       TRUE AS hll_in_band
        |FROM lineitem""".stripMargin,
    // the banded check's DuckDB twin: the engine's booleans assert the
    // GK rank-error contract; the oracle asserts they all hold — a
    // sketch outside its band hash-mismatches like any wrong answer
    "q_agg_approx_percentile" ->
      """SELECT l_returnflag AS grp, CAST(count(*) AS BIGINT) AS n,
        |       TRUE AS p25_in_band, TRUE AS p50_in_band,
        |       TRUE AS p75_in_band, TRUE AS p95_in_band
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_agg_map_build" ->
      """SELECT c_nationkey,
        |       arg_max(c_acctbal, c_custkey) AS latest_bal,
        |       count(*) AS n_keys
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_agg_rollup" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS year,
        |       CAST(month(o_orderdate) AS INT) AS month,
        |       round(sum(o_totalprice), 2) AS total, count(*) AS n
        |FROM orders
        |GROUP BY ROLLUP (1, 2)
        |ORDER BY year ASC NULLS FIRST, month ASC NULLS FIRST""".stripMargin,
    "q_agg_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
        |FROM orders
        |GROUP BY CUBE (1, 2)
        |ORDER BY o_orderstatus ASC NULLS FIRST,
        |         o_orderpriority ASC NULLS FIRST""".stripMargin,
    "q_agg_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |ORDER BY o_orderstatus ASC NULLS FIRST,
        |         o_orderpriority ASC NULLS FIRST""".stripMargin,
    "q_agg_corr" ->
      """SELECT l_returnflag,
        |       round(corr(l_quantity, l_extendedprice), 4) AS qp_corr,
        |       round(covar_samp(l_quantity, l_extendedprice), 4) AS qp_covar,
        |       round(covar_pop(l_quantity, l_extendedprice), 4) AS qp_covar_pop
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_agg_percentile" ->
      """SELECT l_returnflag,
        |       round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
        |       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |       round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
        |       round(quantile_cont(l_quantity, 0.9), 4) AS qty_p90
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_agg_stats" ->
      """SELECT l_returnflag,
        |       round(avg(l_quantity), 4) AS avg_qty,
        |       min(l_quantity) AS min_qty,
        |       max(l_quantity) AS max_qty,
        |       round(stddev_samp(l_quantity), 4) AS sd_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_pivot" ->
      """SELECT CAST(year(l_shipdate) AS INT) AS year,
        |       round(sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 2) AS "A",
        |       round(sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 2) AS "N",
        |       round(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 2) AS "R"
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
