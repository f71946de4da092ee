package graft.operators

import graft.{halfUp, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Statistical-inference operators round 2 (SURVEY §2.13 additions):
  * one-way ANOVA, Kruskal–Wallis, Kaplan–Meier survival, and
  * Jensen–Shannon drift — the experiment-readout and distribution-
  * drift battery next to the existing t/z (q_ab_test), rank-sum
  * (q_stats_mannwhitney), signed-rank (q_stats_wilcoxon), KS
  * (q_drift_ks) and PSI (q_drift_psi) screens.
  *
  * House parity posture throughout: raw values quantize to integer
  * cents, every count/sum/sum-of-squares is an exact BIGINT (order-
  * free — partitioning can never change a digit), and only the final
  * per-group statistic chain touches doubles, mirrored operand-for-
  * operand in the DuckDB twin and rendered via halfUp. Sequential
  * recurrences (the survival curve's cumulative product) follow the
  * holtTrend posture: calendar-bounded packed-array fold on the
  * engine side, recursive-CTE replay in the oracle, identical
  * multiply order.
  */
object Inference {

  private def cents(c: Column): Column =
    floor(c * lit(100) + lit(0.5)).cast("long")

  /** ONE-WAY ANOVA across the event-type arms: F = (SSB/(k−1)) /
    * (SSW/(N−k)) over the quantized per-event values — "does ANY arm
    * differ?", the k-sample gate run before pairwise tests. SSB/SSW
    * derive from exact per-group (n, Σx, Σx²) BIGINT moments in cents
    * (cents² ≤ ~3.2e9 per row — the sum stays under 2⁶³ past 10⁹
    * rows); the Σ s_j²/n_j chain is per-group doubles summed over the
    * bounded arm set (the q_agg_entropy posture: plain sum + halfUp,
    * wobble bounded by arm cardinality).
    *
    * Scale: one counts-only hash aggregate to k rows, then a k-row
    * reduction — nothing after the first aggregate sees data. */
  def anovaOneWay(events: DataFrame): DataFrame = {
    val g = events.filter(col("value").isNotNull)
      .select(col("event_type").as("grp"), cents(col("value")).as("c"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
        sum(col("c") * col("c")).as("q"))
    val sD = col("s").cast("double")
    val m = g.agg(
      count(lit(1)).as("k"), sum(col("n")).as("n"),
      sum(col("s")).as("st"), sum(col("q")).as("qt"),
      sum(sD * sD / col("n").cast("double")).as("a"))
    val nD = col("n").cast("double")
    val kD = col("k").cast("double")
    val stD = col("st").cast("double")
    // cents² → value²: /1e4
    val ssb = (col("a") - stD * stD / nD) / lit(1e4)
    val ssw = (col("qt").cast("double") - col("a")) / lit(1e4)
    m.select(col("k").as("n_groups"), col("n"),
      halfUp(ssb, 4).as("ss_between"),
      halfUp(ssw, 4).as("ss_within"),
      halfUp(when(col("k") < 2 || col("n") <= col("k") || ssw <= 0.0,
          lit(null).cast("double"))
        .otherwise((ssb / (kD - lit(1.0))) / (ssw / (nD - kD))), 6)
        .as("f_stat"))
  }

  private[operators] val anovaOracleSql: String =
    """WITH v AS (
      |  SELECT event_type AS grp,
      |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
      |  FROM events WHERE value IS NOT NULL),
      |g AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
      |             CAST(sum(c) AS BIGINT) AS s,
      |             CAST(sum(c * c) AS BIGINT) AS q
      |      FROM v GROUP BY 1),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS k,
      |             CAST(sum(n) AS BIGINT) AS n,
      |             CAST(sum(s) AS BIGINT) AS st,
      |             CAST(sum(q) AS BIGINT) AS qt,
      |             sum(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
      |                 / CAST(n AS DOUBLE)) AS a
      |      FROM g)
      |SELECT k AS n_groups, n,
      |       floor(((a - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
      |               / CAST(n AS DOUBLE)) / 1e4) * 10000.0 + 0.5) / 10000.0
      |         AS ss_between,
      |       floor(((CAST(qt AS DOUBLE) - a) / 1e4) * 10000.0 + 0.5) / 10000.0
      |         AS ss_within,
      |       CASE WHEN k < 2 OR n <= k OR (CAST(qt AS DOUBLE) - a) / 1e4 <= 0
      |            THEN NULL
      |            ELSE floor((((a - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
      |                / CAST(n AS DOUBLE)) / 1e4 / (CAST(k AS DOUBLE) - 1.0))
      |              / ((CAST(qt AS DOUBLE) - a) / 1e4
      |                 / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))))
      |             * 1000000.0 + 0.5) / 1000000.0 END AS f_stat
      |FROM m""".stripMargin

  /** BROWN–FORSYTHE LEVENE test across the event-type arms: the
    * one-way F statistic computed on d = |x − median_j| — "are the
    * arm VARIANCES equal?", the homogeneity assumption [[anovaOneWay]]
    * quietly stands on, in its robust (median-centered) form. Group
    * medians are RANK-PICKED order statistics (the lower median at
    * rank ⌊(n+1)/2⌋ — an actual data value, engine-independent by
    * construction; interpolated medians differ across engines in the
    * last ulp), so every deviation is an exact BIGINT |cents − med|
    * and the F chain reuses the ANOVA moments posture unchanged.
    *
    * Scale: one ranked window partitioned by the bounded arm key for
    * the median pick (the winsorizedMean posture), medians broadcast
    * back, then the same counts-only aggregate as ANOVA. */
  def leveneBrownForsythe(events: DataFrame): DataFrame = {
    val v = events.filter(col("value").isNotNull)
      .select(col("event_type").as("grp"), cents(col("value")).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("c"))
    val wg = org.apache.spark.sql.expressions.Window.partitionBy(col("grp"))
    val med = graft.spread(v, col("c"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(wg))
      .groupBy(col("grp"))
      // integer floor division: Spark's `/` on longs is FRACTIONAL
      // (n even → rank 100.5 matches nothing and the median nulls out)
      .agg(max(when(col("rn") === expr("(n + 1) div 2"), col("c"))).as("med"))
    val g = v.join(broadcast(med), "grp")
      .select(col("grp"), abs(col("c") - col("med")).as("d"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("d")).as("s"),
        sum(col("d") * col("d")).as("q"))
    val sD = col("s").cast("double")
    val m = g.agg(
      count(lit(1)).as("k"), sum(col("n")).as("n"),
      sum(col("s")).as("st"), sum(col("q")).as("qt"),
      sum(sD * sD / col("n").cast("double")).as("a"))
    val nD = col("n").cast("double")
    val kD = col("k").cast("double")
    val stD = col("st").cast("double")
    val ssb = (col("a") - stD * stD / nD) / lit(1e4)
    val ssw = (col("qt").cast("double") - col("a")) / lit(1e4)
    m.select(col("k").as("n_groups"), col("n"),
      halfUp(ssb, 4).as("ss_between"),
      halfUp(ssw, 4).as("ss_within"),
      halfUp(when(col("k") < 2 || col("n") <= col("k") || ssw <= 0.0,
          lit(null).cast("double"))
        .otherwise((ssb / (kD - lit(1.0))) / (ssw / (nD - kD))), 6)
        .as("w_stat"))
  }

  private[operators] val leveneOracleSql: String =
    """WITH v AS (
      |  SELECT event_type AS grp,
      |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
      |  FROM events WHERE value IS NOT NULL),
      |r AS (SELECT grp, c,
      |             row_number() OVER (PARTITION BY grp ORDER BY c) AS rn,
      |             count(*) OVER (PARTITION BY grp) AS n
      |      FROM v),
      |med AS (SELECT grp, max(CASE WHEN rn = (n + 1) // 2 THEN c END) AS med
      |        FROM r GROUP BY 1),
      |d AS (SELECT v.grp, abs(v.c - med.med) AS d FROM v JOIN med USING (grp)),
      |g AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
      |             CAST(sum(d) AS BIGINT) AS s,
      |             CAST(sum(d * d) AS BIGINT) AS q
      |      FROM d GROUP BY 1),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS k,
      |             CAST(sum(n) AS BIGINT) AS n,
      |             CAST(sum(s) AS BIGINT) AS st,
      |             CAST(sum(q) AS BIGINT) AS qt,
      |             sum(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
      |                 / CAST(n AS DOUBLE)) AS a
      |      FROM g)
      |SELECT k AS n_groups, n,
      |       floor(((a - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
      |               / CAST(n AS DOUBLE)) / 1e4) * 10000.0 + 0.5) / 10000.0
      |         AS ss_between,
      |       floor(((CAST(qt AS DOUBLE) - a) / 1e4) * 10000.0 + 0.5) / 10000.0
      |         AS ss_within,
      |       CASE WHEN k < 2 OR n <= k OR (CAST(qt AS DOUBLE) - a) / 1e4 <= 0
      |            THEN NULL
      |            ELSE floor((((a - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
      |                / CAST(n AS DOUBLE)) / 1e4 / (CAST(k AS DOUBLE) - 1.0))
      |              / ((CAST(qt AS DOUBLE) - a) / 1e4
      |                 / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))))
      |             * 1000000.0 + 0.5) / 1000000.0 END AS w_stat
      |FROM m""".stripMargin

  /** KRUSKAL–WALLIS H across the event-type arms — the rank-based
    * k-sample test (the heavy-tail-robust sibling of [[anovaOneWay]],
    * generalizing q_stats_mannwhitney past two arms), with the
    * standard tie correction. Ranks are INTEGER doubled average ranks
    * (r2 = 2·before + t + 1 over the global value census — the
    * spearman/wilcoxon posture, distributed via the census prefix
    * sum, never a partition-less row window); per-arm rank sums are
    * exact BIGINTs, ties Σ(t³−t) an exact BIGINT, and the H chain is
    * per-arm doubles over the bounded arm set.
    *
    * Scale: the census is value-domain-sized (≤ distinct cents),
    * broadcast back onto the stream; two counts-only aggregates. */
  def kruskalWallis(events: DataFrame): DataFrame = {
    val v = events.filter(col("value").isNotNull)
      .select(col("event_type").as("grp"), cents(col("value")).as("c"))
    val cen = v.groupBy(col("c")).agg(count(lit(1)).as("t"))
    val ranks = Windows.prefixSums(cen, Nil, Seq(col("t") -> "cum"), Seq(col("c")))._1
      .select(col("c"), (lit(2L) * col("cum") - col("t") + lit(1L)).as("r2"))
    val grp = v.join(broadcast(ranks), "c")
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("r2")).as("rr"))
    val ties = cen
      .agg(coalesce(sum(col("t") * col("t") * col("t") - col("t")), lit(0L))
        .as("tsum"))
    val rrD = col("rr").cast("double")
    val m = grp.agg(
      count(lit(1)).as("k"), sum(col("n")).as("n"),
      // (R_j)²/n_j = (r2_j/2)²/n_j
      sum(rrD * rrD / lit(4.0) / col("n").cast("double")).as("a"))
    val nD = col("n").cast("double")
    val h = lit(12.0) / (nD * (nD + lit(1.0))) * col("a") -
      lit(3.0) * (nD + lit(1.0))
    val cCorr = lit(1.0) - col("tsum").cast("double") / (nD * nD * nD - nD)
    m.crossJoin(broadcast(ties))
      .select(col("k").as("n_groups"), col("n"),
        halfUp(h, 6).as("h"),
        halfUp(when(cCorr <= 0.0, lit(null).cast("double"))
          .otherwise(h / cCorr), 6).as("h_tie_corrected"))
  }

  private[operators] val kruskalOracleSql: String =
    """WITH v AS (
      |  SELECT event_type AS grp,
      |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
      |  FROM events WHERE value IS NOT NULL),
      |cen AS (SELECT c, CAST(count(*) AS BIGINT) AS t FROM v GROUP BY 1),
      |r AS (SELECT c,
      |             2 * (CAST(sum(t) OVER (ORDER BY c) AS BIGINT) - t)
      |               + t + 1 AS r2
      |      FROM cen),
      |g AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
      |             CAST(sum(r2) AS BIGINT) AS rr
      |      FROM v JOIN r USING (c) GROUP BY 1),
      |ties AS (SELECT CAST(coalesce(sum(t * t * t - t), 0) AS BIGINT) AS tsum
      |         FROM cen),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS k,
      |             CAST(sum(n) AS BIGINT) AS n,
      |             sum(CAST(rr AS DOUBLE) * CAST(rr AS DOUBLE) / 4.0
      |                 / CAST(n AS DOUBLE)) AS a
      |      FROM g)
      |SELECT k AS n_groups, n,
      |       floor((12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)) * a
      |              - 3.0 * (CAST(n AS DOUBLE) + 1.0)) * 1000000.0 + 0.5)
      |         / 1000000.0 AS h,
      |       CASE WHEN 1.0 - CAST(tsum AS DOUBLE)
      |                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
      |                    * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)) <= 0
      |            THEN NULL
      |            ELSE floor(((12.0 / (CAST(n AS DOUBLE)
      |                  * (CAST(n AS DOUBLE) + 1.0)) * a
      |               - 3.0 * (CAST(n AS DOUBLE) + 1.0))
      |              / (1.0 - CAST(tsum AS DOUBLE)
      |                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
      |                    * CAST(n AS DOUBLE) - CAST(n AS DOUBLE))))
      |             * 1000000.0 + 0.5) / 1000000.0 END AS h_tie_corrected
      |FROM m, ties""".stripMargin

  /** KAPLAN–MEIER survival curve of view→purchase conversion, one
    * curve per A/B arm (user_id % 2): per user, T = days from first
    * view to first subsequent purchase (event) or to the corpus's
    * last event date (right-censored — the user simply hasn't
    * converted YET, which a naive conversion-rate readout mistakes
    * for "never"). S(t) = Π_{u ≤ t, event days} (1 − d_u/n_u), the
    * product-limit estimator: d_u = conversions at day u, n_u = users
    * still at risk (T ≥ u).
    *
    * Parity: d/n are exact counts; the per-day risk set is an exact
    * prefix subtraction; the cumulative product is a SEQUENTIAL fold
    * in event-day order — packed-array aggregate on the engine side
    * (the holtTrend posture, with the same span pre-flight),
    * recursive CTE stepping the same order in the oracle, so every
    * multiply pairs the identical IEEE doubles.
    *
    * Scale: facts reduce to one row per (arm, user) then one row per
    * (arm, day); the fold runs over the calendar-bounded event-day
    * list per arm (guarded), never over users. */
  /** One row per viewing user: (arm = user_id % 2, ev = converted
    * 0/1, t = days from first view to conversion or horizon) — the
    * shared time-to-event reduction under [[kaplanMeier]],
    * [[logRank]] and [[wilsonCi]]. Facts reduce to one row per
    * (arm, user) before anything downstream sees them. */
  private[operators] def conversionSpans(events: DataFrame): DataFrame = {
    val horizon = events.agg(max(to_date(col("ts"))).as("h"))
    val users = events
      .select((col("user_id") % 2).as("arm"), col("user_id"),
        col("event_type"), to_date(col("ts")).as("d"))
      .groupBy(col("arm"), col("user_id"))
      .agg(min(when(col("event_type") === "view", col("d"))).as("v0"))
      .filter(col("v0").isNotNull)
    val conv = events
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(col("ts")).as("pd"))
      .groupBy(col("user_id"))
      .agg(min(col("pd")).as("p0"))
    users.join(conv, Seq("user_id"), "left")
      .crossJoin(broadcast(horizon))
      .select(col("arm"),
        when(col("p0").isNotNull && col("p0") >= col("v0"), lit(1L))
          .otherwise(lit(0L)).as("ev"),
        when(col("p0").isNotNull && col("p0") >= col("v0"),
          datediff(col("p0"), col("v0")).cast("long"))
          .otherwise(datediff(col("h"), col("v0")).cast("long")).as("t"))
  }

  /** The spans CTE chain shared verbatim by the survival-family
    * oracle twins (u → c → spans mirrors [[conversionSpans]]). */
  private val spansOracleCte: String =
    """h AS (
      |  SELECT max(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS hd FROM events),
      |u AS (
      |  SELECT user_id % 2 AS arm, user_id,
      |         min(CASE WHEN event_type = 'view'
      |                  THEN CAST(CAST(ts AS TIMESTAMP) AS DATE) END) AS v0
      |  FROM events GROUP BY 1, 2 HAVING v0 IS NOT NULL),
      |c AS (
      |  SELECT user_id, min(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS p0
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |spans AS (
      |  SELECT u.arm,
      |         CASE WHEN c.p0 IS NOT NULL AND c.p0 >= u.v0 THEN 1 ELSE 0 END AS ev,
      |         CASE WHEN c.p0 IS NOT NULL AND c.p0 >= u.v0
      |              THEN CAST(date_diff('day', u.v0, c.p0) AS BIGINT)
      |              ELSE CAST(date_diff('day', u.v0, h.hd) AS BIGINT) END AS t
      |  FROM u LEFT JOIN c USING (user_id), h)""".stripMargin

  def kaplanMeier(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val spans = conversionSpans(events)
    val byDay = spans.groupBy(col("arm"), col("t").as("day"))
      .agg(sum(col("ev")).as("d"), count(lit(1)).as("closed"))
    val wArm = org.apache.spark.sql.expressions.Window
      .partitionBy(col("arm")).orderBy(col("day"))
      .rowsBetween(Window_unboundedPreceding, -1)
    val nArm = org.apache.spark.sql.expressions.Window.partitionBy(col("arm"))
    val risk = byDay
      .withColumn("total", sum(col("closed")).over(nArm))
      .withColumn("gone", coalesce(sum(col("closed")).over(wArm), lit(0L)))
      .withColumn("n", col("total") - col("gone"))
      .filter(col("d") > 0)
      .select(col("arm"), col("day"), col("d"), col("n"))
    val packed = risk.groupBy(col("arm"))
      .agg(sort_array(collect_list(struct(col("day"), col("d"), col("n"))))
        .as("pts"))
      .withColumn("pts", Climate.spanGuarded(col("pts"),
        concat(lit("kaplanMeier: arm "), col("arm").cast("string"))))
    // sequential product-limit fold, emitting S after each event day
    val folded = packed.select(col("arm"), col("pts"), expr(
      """aggregate(pts,
        |  struct(CAST(1.0 AS DOUBLE) AS s, CAST(array() AS ARRAY<DOUBLE>) AS o),
        |  (acc, x) -> struct(
        |    acc.s * (1.0 - CAST(x.d AS DOUBLE) / CAST(x.n AS DOUBLE)),
        |    concat(acc.o, array(
        |      acc.s * (1.0 - CAST(x.d AS DOUBLE) / CAST(x.n AS DOUBLE))))),
        |  acc -> acc.o)""".stripMargin).as("sv"))
    folded
      .select(col("arm"), posexplode(arrays_zip(col("pts"), col("sv"))))
      .select(col("arm"), col("col.pts.day").as("day"),
        col("col.pts.n").as("n_risk"), col("col.pts.d").as("n_events"),
        halfUp(col("col.sv"), 6).as("survival"))
      .orderBy(col("arm"), col("day"))
  }

  private[operators] val kaplanMeierOracleSql: String =
    """WITH RECURSIVE h AS (
      |  SELECT max(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS hd FROM events),
      |u AS (
      |  SELECT user_id % 2 AS arm, user_id,
      |         min(CASE WHEN event_type = 'view'
      |                  THEN CAST(CAST(ts AS TIMESTAMP) AS DATE) END) AS v0
      |  FROM events GROUP BY 1, 2 HAVING v0 IS NOT NULL),
      |c AS (
      |  SELECT user_id, min(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS p0
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |spans AS (
      |  SELECT u.arm,
      |         CASE WHEN c.p0 IS NOT NULL AND c.p0 >= u.v0 THEN 1 ELSE 0 END AS ev,
      |         CASE WHEN c.p0 IS NOT NULL AND c.p0 >= u.v0
      |              THEN CAST(date_diff('day', u.v0, c.p0) AS BIGINT)
      |              ELSE CAST(date_diff('day', u.v0, h.hd) AS BIGINT) END AS t
      |  FROM u LEFT JOIN c USING (user_id), h),
      |byday AS (
      |  SELECT arm, t AS day, CAST(sum(ev) AS BIGINT) AS d,
      |         CAST(count(*) AS BIGINT) AS closed
      |  FROM spans GROUP BY 1, 2),
      |risk AS (
      |  SELECT arm, day, d,
      |         CAST(sum(closed) OVER (PARTITION BY arm) AS BIGINT)
      |           - CAST(coalesce(sum(closed) OVER (PARTITION BY arm
      |               ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
      |               AND 1 PRECEDING), 0) AS BIGINT) AS n
      |  FROM byday),
      |ev AS (
      |  SELECT arm, day, d, n,
      |         row_number() OVER (PARTITION BY arm ORDER BY day) AS i
      |  FROM risk WHERE d > 0),
      |rec(arm, i, day, d, n, s) AS (
      |  SELECT arm, i, day, d, n,
      |         1.0 * (1.0 - CAST(d AS DOUBLE) / CAST(n AS DOUBLE))
      |  FROM ev WHERE i = 1
      |  UNION ALL
      |  SELECT e.arm, e.i, e.day, e.d, e.n,
      |         r.s * (1.0 - CAST(e.d AS DOUBLE) / CAST(e.n AS DOUBLE))
      |  FROM rec r JOIN ev e ON e.arm = r.arm AND e.i = r.i + 1)
      |SELECT arm, day, n AS n_risk, d AS n_events,
      |       floor(s * 1000000.0 + 0.5) / 1000000.0 AS survival
      |FROM rec ORDER BY arm, day""".stripMargin

  /** JARQUE–BERA normality screen per group: JB = n/6·(S² + K²/4)
    * from the standardized third/fourth moments — "is this group's
    * distribution even roughly normal?", the gate before leaning on
    * any normal-theory readout (q_ab_test's z, [[anovaOneWay]]'s F);
    * JB ~ χ²(2) under normality, so values past ~6 reject at 5%.
    * Same two-pass z-score formulation as q_agg_moments (windowed
    * mean/stddev, then per-group z-power averages — the proven
    * moments parity posture: double sums absorbed by the rendering),
    * with S/K feeding JB unrounded. Degenerate groups (zero variance,
    * n < 4) read NULL, never a blowup.
    *
    * Scale: one group-key window + one counts-only aggregate. */
  def jarqueBera(df: DataFrame, group: Column, value: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("grp"))
    val z = ((col("v") - avg(col("v")).over(w)) /
      stddev_samp(col("v")).over(w)).as("z")
    val m = df.select(group.as("grp"), value.as("v"))
      .select(col("grp"), z)
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"),
        avg(col("z") * col("z") * col("z")).as("s"),
        (avg(col("z") * col("z") * col("z") * col("z")) - lit(3.0)).as("k"))
    val nD = col("n").cast("double")
    m.select(col("grp"), col("n"),
        halfUp(col("s"), 4).as("skewness"),
        halfUp(col("k"), 4).as("kurtosis_excess"),
        halfUp(when(col("n") < 4L || col("s").isNull, lit(null).cast("double"))
          .otherwise(nD / lit(6.0) *
            (col("s") * col("s") + col("k") * col("k") / lit(4.0))), 4)
          .as("jb"))
      .orderBy(col("grp"))
  }

  private[operators] val jarqueBeraOracleSql: String =
    """WITH w AS (
      |  SELECT c_nationkey AS grp,
      |         (c_acctbal - avg(c_acctbal) OVER g)
      |           / stddev_samp(c_acctbal) OVER g AS z
      |  FROM customer WINDOW g AS (PARTITION BY c_nationkey)),
      |m AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
      |             avg(z * z * z) AS s,
      |             avg(z * z * z * z) - 3.0 AS k
      |      FROM w GROUP BY grp)
      |SELECT grp, n,
      |       floor(s * 10000.0 + 0.5) / 10000.0 AS skewness,
      |       floor(k * 10000.0 + 0.5) / 10000.0 AS kurtosis_excess,
      |       CASE WHEN n < 4 THEN NULL
      |            ELSE floor(CAST(n AS DOUBLE) / 6.0 * (s * s + k * k / 4.0)
      |                       * 10000.0 + 0.5) / 10000.0 END AS jb
      |FROM m ORDER BY grp""".stripMargin

  /** JENSEN–SHANNON divergence between the view and purchase value
    * distributions over a fixed 24-bucket grid (25-wide bins, top
    * bucket open) — the symmetric, bounded (≤ ln 2) drift readout
    * next to q_drift_ks's sup-gap and q_drift_psi's bucketed log
    * ratio; JS stays finite when a bucket empties on one side, which
    * is exactly where PSI blows up. Bucket counts are exact BIGINTs
    * from one conditional aggregate; the p·ln(p/m) chain is per-bucket
    * doubles summed over the fixed bucket set (the entropy posture).
    *
    * Scale: one counts-only hash aggregate to ≤ 24 rows. */
  def jensenShannon(events: DataFrame, typeA: String, typeB: String):
      DataFrame = {
    val b = events.filter(col("value").isNotNull &&
        col("event_type").isin(typeA, typeB))
      .select(col("event_type").as("et"),
        least(floor(col("value") / lit(25.0)), lit(23.0)).cast("long").as("bin"))
      .groupBy(col("bin"))
      .agg(sum(when(col("et") === typeA, 1L).otherwise(0L)).as("ca"),
        sum(when(col("et") === typeB, 1L).otherwise(0L)).as("cb"))
    val tot = b.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    val p = col("ca").cast("double") / col("na").cast("double")
    val q = col("cb").cast("double") / col("nb").cast("double")
    val m = (p + q) / lit(2.0)
    val term =
      when(col("ca") > 0L, p * log(p / m)).otherwise(lit(0.0)) +
      when(col("cb") > 0L, q * log(q / m)).otherwise(lit(0.0))
    b.crossJoin(broadcast(tot))
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        count(lit(1)).as("n_bins"),
        halfUp(sum(term) / lit(2.0), 6).as("js_divergence"))
  }

  private[operators] val jensenShannonOracleSql: String =
    """WITH v AS (
      |  SELECT event_type AS et,
      |         CAST(least(floor(value / 25.0), 23.0) AS BIGINT) AS bin
      |  FROM events
      |  WHERE value IS NOT NULL AND event_type IN ('view', 'purchase')),
      |b AS (SELECT bin,
      |             CAST(sum(CASE WHEN et = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |             CAST(sum(CASE WHEN et = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS cb
      |      FROM v GROUP BY 1),
      |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
      |               CAST(sum(cb) AS BIGINT) AS nb FROM b),
      |t AS (SELECT b.ca, b.cb, tot.na, tot.nb,
      |             (CASE WHEN b.ca > 0 THEN
      |                (CAST(b.ca AS DOUBLE) / CAST(tot.na AS DOUBLE))
      |                * ln((CAST(b.ca AS DOUBLE) / CAST(tot.na AS DOUBLE))
      |                     / ((CAST(b.ca AS DOUBLE) / CAST(tot.na AS DOUBLE)
      |                         + CAST(b.cb AS DOUBLE) / CAST(tot.nb AS DOUBLE))
      |                        / 2.0)) ELSE 0.0 END
      |              + CASE WHEN b.cb > 0 THEN
      |                (CAST(b.cb AS DOUBLE) / CAST(tot.nb AS DOUBLE))
      |                * ln((CAST(b.cb AS DOUBLE) / CAST(tot.nb AS DOUBLE))
      |                     / ((CAST(b.ca AS DOUBLE) / CAST(tot.na AS DOUBLE)
      |                         + CAST(b.cb AS DOUBLE) / CAST(tot.nb AS DOUBLE))
      |                        / 2.0)) ELSE 0.0 END) AS term
      |      FROM b, tot)
      |SELECT max(na) AS n_a, max(nb) AS n_b,
      |       CAST(count(*) AS BIGINT) AS n_bins,
      |       floor(sum(term) / 2.0 * 1000000.0 + 0.5) / 1000000.0
      |         AS js_divergence
      |FROM t""".stripMargin

  /** TWO-ARM LOG-RANK test over the [[conversionSpans]] time-to-event
    * table — "are the two arms' conversion CURVES the same?", the
    * hypothesis test behind the [[kaplanMeier]] picture (eyeballing
    * two survival curves is not a test). At each pooled event day:
    * observed arm-1 conversions d₁ vs expected E₁ = D·n₁/N under the
    * pooled-risk null, variance V₁ = D·(n₁/N)(1−n₁/N)(N−D)/(N−1);
    * χ² = (ΣO₁−ΣE₁)²/ΣV₁ ~ χ²(1). Censoring enters only through the
    * risk sets, exactly as in the product-limit curve.
    *
    * Parity: counts and risk sets are exact prefix subtractions; each
    * day's E/V term quantizes to a 1e-6 grid as BIGINT before the sum
    * (the q_stats_chi2 posture — order-free under any partitioning;
    * ΣE ≤ total conversions, so the grid overflows past ~9e12
    * conversions, far beyond the risk-set Long bound itself). Only
    * the final (O−E)²/V chain touches unquantized doubles.
    *
    * Scale: facts reduce to (arm, user) → pooled (day) rows; the
    * risk-set walk is a sequential packed-array fold over the
    * calendar-bounded event-day list (the kaplanMeier posture with
    * the same span pre-flight — days, never users or events; no
    * partition-less window anywhere). */
  def logRank(events: DataFrame): DataFrame = {
    val byDay = conversionSpans(events)
      .groupBy(col("t").as("day"))
      .agg(sum(col("ev")).as("d"),
        sum(when(col("arm") === 1L, col("ev")).otherwise(0L)).as("d1"),
        count(lit(1)).as("closed"),
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("closed1"))
    val tot = byDay.agg(sum(col("closed")).as("nt"),
      sum(col("closed1")).as("n1t"))
    // the risk-set walk is a SEQUENTIAL fold over the calendar-bounded
    // day list (the kaplanMeier packed-array posture, with the same
    // span pre-flight) — never a partition-less window: risk sets
    // by exact prefix subtraction, each event day's E/V term quantized
    // to the 1e-6 grid and added as exact BIGINTs
    val packed = byDay
      .agg(sort_array(collect_list(struct(col("day"), col("d"),
        col("d1"), col("closed"), col("closed1")))).as("pts"))
      .crossJoin(broadcast(tot))
      .withColumn("pts", Climate.spanGuarded(col("pts"),
        lit("logRank: the pooled event-day list")))
    val folded = packed.select(expr(
      """aggregate(pts,
        |  struct(CAST(0 AS BIGINT) AS gone, CAST(0 AS BIGINT) AS gone1,
        |         CAST(0 AS BIGINT) AS ndays, CAST(0 AS BIGINT) AS o1,
        |         CAST(0 AS BIGINT) AS e1q, CAST(0 AS BIGINT) AS v1q),
        |  (acc, x) -> struct(
        |    acc.gone + x.closed AS gone,
        |    acc.gone1 + x.closed1 AS gone1,
        |    acc.ndays + IF(x.d > 0, CAST(1 AS BIGINT), CAST(0 AS BIGINT))
        |      AS ndays,
        |    acc.o1 + IF(x.d > 0, x.d1, CAST(0 AS BIGINT)) AS o1,
        |    acc.e1q + IF(x.d > 0,
        |      CAST(floor(CAST(x.d AS DOUBLE)
        |          * CAST(n1t - acc.gone1 AS DOUBLE)
        |          / CAST(nt - acc.gone AS DOUBLE) * 1000000.0 + 0.5)
        |        AS BIGINT),
        |      CAST(0 AS BIGINT)) AS e1q,
        |    acc.v1q + IF(x.d > 0 AND nt - acc.gone > 1,
        |      CAST(floor(CAST(x.d AS DOUBLE)
        |          * (CAST(n1t - acc.gone1 AS DOUBLE)
        |             / CAST(nt - acc.gone AS DOUBLE))
        |          * (1.0 - CAST(n1t - acc.gone1 AS DOUBLE)
        |             / CAST(nt - acc.gone AS DOUBLE))
        |          * (CAST(nt - acc.gone AS DOUBLE) - CAST(x.d AS DOUBLE))
        |          / (CAST(nt - acc.gone AS DOUBLE) - 1.0)
        |          * 1000000.0 + 0.5) AS BIGINT),
        |      CAST(0 AS BIGINT)) AS v1q),
        |  acc -> acc)""".stripMargin).as("r"))
    val e1v = col("r.e1q").cast("double") / lit(1e6)
    val vv = col("r.v1q").cast("double") / lit(1e6)
    val o1v = col("r.o1").cast("double")
    folded.select(col("r.ndays").as("n_days"), col("r.o1").as("o1"),
      halfUp(e1v, 4).as("e1"),
      halfUp(vv, 4).as("v1"),
      halfUp(when(col("r.v1q") <= 0L, lit(null).cast("double"))
        .otherwise((o1v - e1v) * (o1v - e1v) / vv), 6).as("chi2"))
  }

  private[operators] val logRankOracleSql: String =
    s"""WITH $spansOracleCte,
      |byday AS (
      |  SELECT t AS day, CAST(sum(ev) AS BIGINT) AS d,
      |         CAST(sum(CASE WHEN arm = 1 THEN ev ELSE 0 END) AS BIGINT) AS d1,
      |         CAST(count(*) AS BIGINT) AS closed,
      |         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |           AS closed1
      |  FROM spans GROUP BY 1),
      |tot AS (SELECT CAST(sum(closed) AS BIGINT) AS nt,
      |               CAST(sum(closed1) AS BIGINT) AS n1t FROM byday),
      |risk AS (
      |  SELECT day, d, d1,
      |         tot.nt - CAST(coalesce(sum(closed) OVER (ORDER BY day
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |           AS BIGINT) AS n,
      |         tot.n1t - CAST(coalesce(sum(closed1) OVER (ORDER BY day
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |           AS BIGINT) AS n1
      |  FROM byday, tot),
      |terms AS (
      |  SELECT day, d1,
      |         CAST(floor(CAST(d AS DOUBLE) * CAST(n1 AS DOUBLE)
      |             / CAST(n AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS eq,
      |         CAST(floor(CASE WHEN n > 1 THEN
      |             CAST(d AS DOUBLE) * (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
      |             * (1.0 - CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
      |             * (CAST(n AS DOUBLE) - CAST(d AS DOUBLE))
      |             / (CAST(n AS DOUBLE) - 1.0) ELSE 0.0 END
      |             * 1000000.0 + 0.5) AS BIGINT) AS vq
      |  FROM risk WHERE d > 0),
      |a AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
      |             CAST(sum(d1) AS BIGINT) AS o1,
      |             CAST(sum(eq) AS BIGINT) AS e1q,
      |             CAST(sum(vq) AS BIGINT) AS v1q FROM terms)
      |SELECT n_days, o1,
      |       floor(CAST(e1q AS DOUBLE) / 1000000.0 * 10000.0 + 0.5) / 10000.0
      |         AS e1,
      |       floor(CAST(v1q AS DOUBLE) / 1000000.0 * 10000.0 + 0.5) / 10000.0
      |         AS v1,
      |       CASE WHEN v1q <= 0 THEN NULL ELSE
      |         floor((CAST(o1 AS DOUBLE) - CAST(e1q AS DOUBLE) / 1000000.0)
      |             * (CAST(o1 AS DOUBLE) - CAST(e1q AS DOUBLE) / 1000000.0)
      |             / (CAST(v1q AS DOUBLE) / 1000000.0)
      |             * 1000000.0 + 0.5) / 1000000.0 END AS chi2
      |FROM a""".stripMargin

  /** McNEMAR's test on PAIRED per-user binaries: did the same user
    * purchase in the first vs second half of the corpus calendar?
    * Only the discordant pairs carry information — b = first-half-only
    * converters, c = second-half-only; χ² = (|b−c|−1)²/(b+c) (Edwards
    * continuity correction) ~ χ²(1). The within-subject design the
    * independent-sample tests (q_ab_test, [[anovaOneWay]]) get wrong
    * when the same users appear in both periods.
    *
    * Parity: the calendar midpoint is an exact integer-datediff
    * comparison; b/c/χ²-numerator are exact BIGINTs (the squared
    * corrected difference stays integral) — ONE double division at
    * the end. Degenerate b+c = 0 reads NULL.
    *
    * Scale: one (user) hash aggregate, then a 1-row reduction;
    * the calendar bounds are a broadcast 1-row aggregate. */
  def mcnemarPaired(events: DataFrame): DataFrame = {
    val bounds = events.agg(min(to_date(col("ts"))).as("lo"),
      max(to_date(col("ts"))).as("hi"))
    val perUser = events
      .select(col("user_id"), to_date(col("ts")).as("d"), col("event_type"))
      .crossJoin(broadcast(bounds))
      .select(col("user_id"),
        when(col("event_type") === "purchase" &&
          datediff(col("d"), col("lo")) * 2 <= datediff(col("hi"), col("lo")),
          1L).otherwise(0L).as("p1"),
        when(col("event_type") === "purchase" &&
          datediff(col("d"), col("lo")) * 2 > datediff(col("hi"), col("lo")),
          1L).otherwise(0L).as("p2"))
      .groupBy(col("user_id"))
      .agg(max(col("p1")).as("x1"), max(col("p2")).as("x2"))
    val cnt = perUser.agg(
      count(lit(1)).as("n_users"),
      sum(col("x1") * col("x2")).as("both_halves"),
      sum(col("x1") * (lit(1L) - col("x2"))).as("first_only"),
      sum((lit(1L) - col("x1")) * col("x2")).as("second_only"))
    val diff = abs(col("first_only") - col("second_only")) - lit(1L)
    cnt.select(col("n_users"), col("both_halves"), col("first_only"),
      col("second_only"),
      halfUp(when(col("first_only") + col("second_only") === 0L,
          lit(null).cast("double"))
        .otherwise((diff * diff).cast("double") /
          (col("first_only") + col("second_only")).cast("double")), 6)
        .as("chi2"))
  }

  private[operators] val mcnemarOracleSql: String =
    """WITH b AS (
      |  SELECT min(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS lo,
      |         max(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS hi FROM events),
      |pu AS (
      |  SELECT user_id,
      |         max(CASE WHEN event_type = 'purchase'
      |             AND date_diff('day', b.lo,
      |                 CAST(CAST(ts AS TIMESTAMP) AS DATE)) * 2
      |               <= date_diff('day', b.lo, b.hi)
      |             THEN 1 ELSE 0 END) AS x1,
      |         max(CASE WHEN event_type = 'purchase'
      |             AND date_diff('day', b.lo,
      |                 CAST(CAST(ts AS TIMESTAMP) AS DATE)) * 2
      |               > date_diff('day', b.lo, b.hi)
      |             THEN 1 ELSE 0 END) AS x2
      |  FROM events, b GROUP BY 1),
      |c AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_users,
      |         CAST(sum(x1 * x2) AS BIGINT) AS both_halves,
      |         CAST(sum(x1 * (1 - x2)) AS BIGINT) AS first_only,
      |         CAST(sum((1 - x1) * x2) AS BIGINT) AS second_only
      |  FROM pu)
      |SELECT n_users, both_halves, first_only, second_only,
      |       CASE WHEN first_only + second_only = 0 THEN NULL ELSE
      |         floor(CAST((abs(first_only - second_only) - 1)
      |               * (abs(first_only - second_only) - 1) AS DOUBLE)
      |             / CAST(first_only + second_only AS DOUBLE)
      |             * 1000000.0 + 0.5) / 1000000.0 END AS chi2
      |FROM c""".stripMargin

  /** COCHRAN–MANTEL–HAENSZEL test + Mantel–Haenszel pooled odds
    * ratio over per-stratum 2×2 tables — exposure = urgent/high order
    * priority, outcome = fulfilled status, stratified by the
    * customer's market segment. The stratified readout that dodges
    * Simpson's paradox: a crude 2×2 over the pooled table can show an
    * association that reverses inside every stratum; CMH tests the
    * common-odds-ratio null WITHIN strata, and OR_MH = Σ(aᵢdᵢ/Tᵢ) /
    * Σ(bᵢcᵢ/Tᵢ) is the classic pooled effect estimate.
    *
    * Parity: per-stratum cells are exact BIGINTs from ONE conditional
    * hash aggregate; the E/V/OR chains are per-stratum doubles summed
    * over the bounded segment set (the anova Σs²/n posture — cell
    * products go through doubles deliberately: n₁·n₀·m₁·m₀ overflows
    * BIGINT past ~55k-row strata). χ² carries the standard −0.5
    * continuity correction; degenerate ΣV ≤ 0 or Σbc ≤ 0 read NULL.
    *
    * Scale: one fact-to-dim equi-join, one counts-only hash aggregate
    * to ≤ |segments| rows, then a bounded reduction. */
  def cmhStratified(orders: DataFrame, customer: DataFrame): DataFrame = {
    val exposed = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    val outcome = col("o_orderstatus") === "F"
    val cells = orders
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .groupBy(col("c_mktsegment").as("stratum"))
      .agg(
        sum(when(exposed && outcome, 1L).otherwise(0L)).as("a"),
        sum(when(exposed, 1L).otherwise(0L)).as("n1"),
        sum(when(outcome, 1L).otherwise(0L)).as("m1"),
        count(lit(1)).as("tt"))
    val aD = col("a").cast("double")
    val n1D = col("n1").cast("double")
    val m1D = col("m1").cast("double")
    val tD = col("tt").cast("double")
    val bD = n1D - aD            // exposed, no outcome
    val cD = m1D - aD            // unexposed, outcome
    val dD = tD - n1D - m1D + aD // unexposed, no outcome
    val e = n1D * m1D / tD
    val v = when(col("tt") > 1L,
      n1D * (tD - n1D) * m1D * (tD - m1D) / (tD * tD * (tD - lit(1.0))))
      .otherwise(lit(0.0))
    val m = cells.agg(
      count(lit(1)).as("n_strata"),
      sum(col("a")).as("sum_a"),
      sum(e).as("se"), sum(v).as("sv"),
      sum(aD * dD / tD).as("sr"), sum(bD * cD / tD).as("ss"))
    val num = abs(col("sum_a").cast("double") - col("se")) - lit(0.5)
    m.select(col("n_strata"), col("sum_a"),
      halfUp(col("se"), 4).as("expected"),
      halfUp(when(col("sv") <= 0.0, lit(null).cast("double"))
        .otherwise(num * num / col("sv")), 6).as("cmh_chi2"),
      halfUp(when(col("ss") <= 0.0, lit(null).cast("double"))
        .otherwise(col("sr") / col("ss")), 6).as("or_mh"))
  }

  private[operators] val cmhOracleSql: String =
    """WITH cells AS (
      |  SELECT c.c_mktsegment AS stratum,
      |         CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
      |              AND o.o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
      |           AS a,
      |         CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
      |              THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |         CAST(sum(CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END)
      |           AS BIGINT) AS m1,
      |         CAST(count(*) AS BIGINT) AS tt
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  GROUP BY 1),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_strata,
      |         CAST(sum(a) AS BIGINT) AS sum_a,
      |         sum(CAST(n1 AS DOUBLE) * CAST(m1 AS DOUBLE)
      |             / CAST(tt AS DOUBLE)) AS se,
      |         sum(CASE WHEN tt > 1 THEN
      |             CAST(n1 AS DOUBLE) * (CAST(tt AS DOUBLE) - CAST(n1 AS DOUBLE))
      |             * CAST(m1 AS DOUBLE)
      |             * (CAST(tt AS DOUBLE) - CAST(m1 AS DOUBLE))
      |             / (CAST(tt AS DOUBLE) * CAST(tt AS DOUBLE)
      |                * (CAST(tt AS DOUBLE) - 1.0)) ELSE 0.0 END) AS sv,
      |         sum(CAST(a AS DOUBLE)
      |             * (CAST(tt AS DOUBLE) - CAST(n1 AS DOUBLE)
      |                - CAST(m1 AS DOUBLE) + CAST(a AS DOUBLE))
      |             / CAST(tt AS DOUBLE)) AS sr,
      |         sum((CAST(n1 AS DOUBLE) - CAST(a AS DOUBLE))
      |             * (CAST(m1 AS DOUBLE) - CAST(a AS DOUBLE))
      |             / CAST(tt AS DOUBLE)) AS ss
      |  FROM cells)
      |SELECT n_strata, sum_a,
      |       floor(se * 10000.0 + 0.5) / 10000.0 AS expected,
      |       CASE WHEN sv <= 0 THEN NULL ELSE
      |         floor((abs(CAST(sum_a AS DOUBLE) - se) - 0.5)
      |             * (abs(CAST(sum_a AS DOUBLE) - se) - 0.5) / sv
      |             * 1000000.0 + 0.5) / 1000000.0 END AS cmh_chi2,
      |       CASE WHEN ss <= 0 THEN NULL ELSE
      |         floor(sr / ss * 1000000.0 + 0.5) / 1000000.0 END AS or_mh
      |FROM m""".stripMargin

  /** BENJAMINI–HOCHBERG FDR control over a battery of per-cohort
    * two-sided proportion z-tests — the multiple-comparisons step
    * every per-segment screen needs: run one test per cohort
    * (user_id % 20), convert |z| to a two-sided p through the
    * Abramowitz–Stegun 7.1.26 erfc polynomial (|err| < 1.5e-7,
    * spelled operand-for-operand in both engines), then step-up
    * adjust: p̃₍ᵢ₎ = min_{j ≥ i} p₍ⱼ₎·m/j, reject at q = 0.05.
    * Reading 20 raw p-values at α = 0.05 expects a false positive per
    * screen; BH caps the false-discovery RATE instead.
    *
    * Parity: cohort counts are exact BIGINTs; z/p are one shared
    * double chain; the adjustment is a rank + reverse-running-min
    * pass over the BOUNDED cohort battery packed into a sorted array
    * (ordered by (p, cohort) so ties break deterministically — the
    * oracle's windows step the identical order); the reject flag
    * compares the RENDERED p̃ so both engines gate on identical
    * digits.
    *
    * Scale: one counts-only hash aggregate to m rows; the adjust is
    * a packed-array fold over the bounded battery, never a
    * partition-less window, never the facts. */
  def fdrBh(events: DataFrame, cohorts: Int = 20): DataFrame = {
    val g = events.filter(col("event_type").isin("view", "purchase"))
      .groupBy((col("user_id") % cohorts.toLong).as("cohort"))
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("x"),
        count(lit(1)).as("n"))
    val tot = g.agg(sum(col("x")).as("xt"), sum(col("n")).as("nt"),
      count(lit(1)).as("mm"))
    val pPool = col("xt").cast("double") / col("nt").cast("double")
    val rate = col("x").cast("double") / col("n").cast("double")
    val z = (rate - pPool) /
      sqrt(pPool * (lit(1.0) - pPool) / col("n").cast("double"))
    val xA = abs(col("z")) / sqrt(lit(2.0))
    val tA = lit(1.0) / (lit(1.0) + lit(0.3275911) * xA)
    val poly = ((((lit(1.061405429) * tA - lit(1.453152027)) * tA
      + lit(1.421413741)) * tA - lit(0.284496736)) * tA
      + lit(0.254829592)) * tA
    // rank + step-up adjust as a packed-array pass over the BOUNDED
    // battery (sort_array orders by (pval, cohort) — the struct's
    // leading fields — so ties break deterministically): rank = array
    // position, p̃ = reverse running min of p·m/rank. No partition-less
    // window — the battery folds on one row with map-side partials.
    // degenerate pooled rate (0 or 1): the z denominator is 0 and the
    // whole battery would read NaN — whose ordering/rendering is the
    // one place the chain and the DuckDB twin are not pinned. Emit
    // NULL z (pval/p_bh/reject propagate NULL below), the tost /
    // powerMde degenerate-pool posture.
    val pooled = col("xt") > lit(0L) && col("xt") < col("nt")
    val scored = g.crossJoin(broadcast(tot))
      .withColumn("rate", rate)
      .withColumn("z", when(pooled, z))
      .withColumn("pval", poly * exp(-xA * xA))
    val packed = scored.agg(sort_array(collect_list(struct(
      col("pval"), col("cohort"), col("x"), col("n"),
      col("rate"), col("z"), col("mm")))).as("arr"))
    val adj = packed.select(col("arr"), expr(
      """reverse(aggregate(
        |  reverse(transform(arr, (e, i) ->
        |    e.pval * CAST(e.mm AS DOUBLE) / CAST(i + 1 AS DOUBLE))),
        |  struct(CAST(2.0 AS DOUBLE) AS mn,
        |         CAST(array() AS ARRAY<DOUBLE>) AS o),
        |  (acc, p) -> struct(least(acc.mn, p) AS mn,
        |                     concat(acc.o, array(least(acc.mn, p))) AS o),
        |  acc -> acc.o))""".stripMargin).as("bh"))
      .select(posexplode(col("arr")).as(Seq("i", "e")), col("bh"))
    val pBh = least(lit(1.0), element_at(col("bh"), col("i") + lit(1)))
    adj.select(col("e.cohort").as("cohort"), col("e.x").as("x"),
      col("e.n").as("n"),
      halfUp(col("e.rate"), 6).as("rate"),
      halfUp(col("e.z"), 6).as("z"),
      halfUp(col("e.pval"), 6).as("pval"),
      // degenerate battery (NULL pval, see `pooled` above): no
      // adjusted p, no decision — NULL, never a NaN rendering
      when(col("e.pval").isNotNull, halfUp(pBh, 6)).as("p_bh"),
      when(col("e.pval").isNotNull,
        (halfUp(pBh, 6) <= lit(0.05)).cast("int")).as("reject"))
      .orderBy(col("cohort"))
  }

  /** Oracle twin of [[fdrBh]] — `cohorts` is interpolated so a caller
    * using a non-default battery width cannot silently desync the
    * engine from its oracle. The degenerate-pool CASE guards mirror
    * the engine's NULL short-circuit operand-for-operand. */
  private[operators] def fdrBhOracleSql(cohorts: Int = 20): String =
    s"""WITH g AS (
      |  SELECT user_id % $cohorts AS cohort,
      |         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |           AS BIGINT) AS x,
      |         CAST(count(*) AS BIGINT) AS n
      |  FROM events WHERE event_type IN ('view', 'purchase') GROUP BY 1),
      |tot AS (SELECT CAST(sum(x) AS BIGINT) AS xt,
      |               CAST(sum(n) AS BIGINT) AS nt,
      |               CAST(count(*) AS BIGINT) AS mm FROM g),
      |zed AS (
      |  SELECT cohort, x, n, mm,
      |         CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS rate,
      |         CASE WHEN xt > 0 AND xt < nt THEN
      |         (CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
      |          - CAST(xt AS DOUBLE) / CAST(nt AS DOUBLE))
      |         / sqrt(CAST(xt AS DOUBLE) / CAST(nt AS DOUBLE)
      |                * (1.0 - CAST(xt AS DOUBLE) / CAST(nt AS DOUBLE))
      |                / CAST(n AS DOUBLE)) END AS z
      |  FROM g, tot),
      |pv AS (
      |  SELECT cohort, x, n, mm, rate, z,
      |         ((((1.061405429 * (1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))))
      |             - 1.453152027) * (1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))))
      |             + 1.421413741) * (1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))))
      |             - 0.284496736) * (1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))))
      |             + 0.254829592) * (1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))))
      |           * exp(-(abs(z) / sqrt(2.0)) * (abs(z) / sqrt(2.0))) AS pval
      |  FROM zed),
      |rk AS (
      |  SELECT *, row_number() OVER (ORDER BY pval, cohort) AS rank FROM pv),
      |adj AS (
      |  SELECT *,
      |         CASE WHEN pval IS NULL THEN NULL ELSE
      |         least(1.0, min(pval * CAST(mm AS DOUBLE) / CAST(rank AS DOUBLE))
      |           OVER (ORDER BY rank DESC
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |           END AS p_bh
      |  FROM rk)
      |SELECT cohort, x, n,
      |       floor(rate * 1000000.0 + 0.5) / 1000000.0 AS rate,
      |       floor(z * 1000000.0 + 0.5) / 1000000.0 AS z,
      |       floor(pval * 1000000.0 + 0.5) / 1000000.0 AS pval,
      |       floor(p_bh * 1000000.0 + 0.5) / 1000000.0 AS p_bh,
      |       CAST(floor(p_bh * 1000000.0 + 0.5) / 1000000.0 <= 0.05
      |         AS INTEGER) AS reject
      |FROM adj ORDER BY cohort""".stripMargin

  /** WILSON score confidence intervals for the per-arm view→purchase
    * conversion rate over the [[conversionSpans]] table — the
    * interval the q_ab_test point estimate should ship with. Wilson
    * (not Wald): stays inside [0,1] and behaves at small n or extreme
    * p̂, where Wald's ±z√(p̂q̂/n) collapses to zero width at p̂ ∈ {0,1}.
    * center = (p̂ + z²/2n)/(1 + z²/n), half-width = z·√(p̂q̂/n +
    * z²/4n²)/(1 + z²/n) at z = 1.96.
    *
    * Parity: x/n are exact BIGINTs from the span reduction; the CI
    * chain is one shared double expression per arm, mirrored
    * operand-for-operand (1.96·1.96 spelled as the same product).
    *
    * Scale: the span reduction then a 2-row closed form. */
  def wilsonCi(events: DataFrame): DataFrame = {
    val s = conversionSpans(events).groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("ev")).as("x"))
    val nD = col("n").cast("double")
    val xD = col("x").cast("double")
    val ph = xD / nD
    val z2 = lit(1.96) * lit(1.96)
    val denom = lit(1.0) + z2 / nD
    val center = (ph + z2 / (lit(2.0) * nD)) / denom
    val half = lit(1.96) *
      sqrt(ph * (lit(1.0) - ph) / nD + z2 / (lit(4.0) * nD * nD)) / denom
    s.select(col("arm"), col("x"), col("n"),
      halfUp(ph, 6).as("rate"),
      halfUp(center - half, 6).as("ci_lo"),
      halfUp(center + half, 6).as("ci_hi"))
      .orderBy(col("arm"))
  }

  private[operators] val wilsonCiOracleSql: String =
    s"""WITH $spansOracleCte,
      |s AS (SELECT arm, CAST(count(*) AS BIGINT) AS n,
      |             CAST(sum(ev) AS BIGINT) AS x
      |      FROM spans GROUP BY 1)
      |SELECT arm, x, n,
      |       floor(CAST(x AS DOUBLE) / CAST(n AS DOUBLE) * 1000000.0 + 0.5)
      |         / 1000000.0 AS rate,
      |       floor(((CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
      |               + 1.96 * 1.96 / (2.0 * CAST(n AS DOUBLE)))
      |              / (1.0 + 1.96 * 1.96 / CAST(n AS DOUBLE))
      |              - 1.96 * sqrt(CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
      |                  * (1.0 - CAST(x AS DOUBLE) / CAST(n AS DOUBLE))
      |                  / CAST(n AS DOUBLE)
      |                  + 1.96 * 1.96 / (4.0 * CAST(n AS DOUBLE)
      |                      * CAST(n AS DOUBLE)))
      |                / (1.0 + 1.96 * 1.96 / CAST(n AS DOUBLE)))
      |             * 1000000.0 + 0.5) / 1000000.0 AS ci_lo,
      |       floor(((CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
      |               + 1.96 * 1.96 / (2.0 * CAST(n AS DOUBLE)))
      |              / (1.0 + 1.96 * 1.96 / CAST(n AS DOUBLE))
      |              + 1.96 * sqrt(CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
      |                  * (1.0 - CAST(x AS DOUBLE) / CAST(n AS DOUBLE))
      |                  / CAST(n AS DOUBLE)
      |                  + 1.96 * 1.96 / (4.0 * CAST(n AS DOUBLE)
      |                      * CAST(n AS DOUBLE)))
      |                / (1.0 + 1.96 * 1.96 / CAST(n AS DOUBLE)))
      |             * 1000000.0 + 0.5) / 1000000.0 AS ci_hi
      |FROM s ORDER BY arm""".stripMargin

  /** FISHER's EXACT two-sided test on the arm × converted 2×2 over a
    * DETERMINISTIC BOUNDED subsample (top-`k` users by md5 rank) —
    * the exact small-sample test next to the asymptotic battery
    * (q_ab_test's z, q_stats_chi2): p = Σ over hypergeometric tables
    * with pmf ≤ pmf(observed)·(1+1e-7), the scipy `two-sided`
    * convention. The subsample cap is the SCALE CONTRACT, not a
    * shortcut: exact Fisher on a billion users is statistically
    * meaningless (any nonzero effect reads p≈0 — that regime belongs
    * to q_stats_chi2) and its factorial spine grows with the corpus;
    * capping at k keeps the ln-factorial fold calendar-bounded at any
    * corpus size, and md5 rank makes the subsample replayable
    * bit-for-bit in both engines.
    *
    * Parity: cell counts are exact BIGINTs; ln-factorials are ONE
    * sequential ascending fold (packed-array aggregate here, the
    * recursive-CTE walk in the twin — identical IEEE add order, the
    * kaplanMeier posture); the pmf ≤ threshold branch compares
    * identical doubles on both sides; included pmfs quantize to a
    * 1e-9 BIGINT grid before the sum (order-free).
    *
    * Scale: one (user) hash aggregate, a TakeOrdered top-k by hash,
    * then a 1-row frame exploded to ≤ k+1 term rows. */
  def fisherExact(events: DataFrame, k: Int = 120): DataFrame = {
    val users = events
      .select(col("user_id"), col("event_type"), to_date(col("ts")).as("d"))
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", col("d"))).as("v0"),
        min(when(col("event_type") === "purchase", col("d"))).as("p0"))
      .filter(col("v0").isNotNull)
      .select(col("user_id"), (col("user_id") % 2).as("arm"),
        when(col("p0").isNotNull && col("p0") >= col("v0"), lit(1L))
          .otherwise(lit(0L)).as("ev"))
    val sub = users.orderBy(md5(col("user_id").cast("string"))).limit(k)
    val cells = sub.agg(
      sum(when(col("arm") === 1L && col("ev") === 1L, 1L).otherwise(0L))
        .as("a"),
      sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n1"),
      sum(col("ev")).as("m1"),
      count(lit(1)).as("t"))
    // lf[i] = ln(i!) by one sequential ascending fold; lf[0] seeds 0
    val withLf = cells.withColumn("lf", expr(
      """aggregate(sequence(0, t),
        |  struct(CAST(0.0 AS DOUBLE) AS s,
        |         CAST(array(0.0) AS ARRAY<DOUBLE>) AS o),
        |  (acc, x) -> IF(x = 0, acc,
        |    struct(acc.s + ln(CAST(x AS DOUBLE)) AS s,
        |           concat(acc.o, array(acc.s + ln(CAST(x AS DOUBLE)))) AS o)),
        |  acc -> acc.o)""".stripMargin))
    def lf(c: Column): Column =
      element_at(col("lf"), (c + lit(1L)).cast("int"))
    val n0 = col("t") - col("n1")
    def lnpmf(kk: Column): Column =
      lf(col("n1")) - lf(kk) - lf(col("n1") - kk) +
        lf(n0) - lf(col("m1") - kk) - lf(n0 - (col("m1") - kk)) -
        (lf(col("t")) - lf(col("m1")) - lf(col("t") - col("m1")))
    val terms = withLf
      .withColumn("klo", greatest(lit(0L), col("m1") - (col("t") - col("n1"))))
      .withColumn("khi", least(col("n1"), col("m1")))
      .select(col("a"), col("n1"), col("m1"), col("t"), col("lf"),
        explode(expr("sequence(klo, khi)")).as("k"))
      .withColumn("pmf", exp(lnpmf(col("k"))))
      .withColumn("pmfa", exp(lnpmf(col("a"))))
    terms
      .agg(max(col("a")).as("a"), max(col("n1")).as("n1"),
        max(col("m1")).as("m1"), max(col("t")).as("n"),
        sum(when(col("pmf") <= col("pmfa") * lit(1.0 + 1e-7),
          floor(col("pmf") * lit(1e9) + lit(0.5)).cast("long"))
          .otherwise(lit(0L))).as("pq"))
      .select(col("a"), col("n1"), col("m1"), col("n"),
        halfUp(least(lit(1.0), col("pq").cast("double") / lit(1e9)), 6)
          .as("p_two_sided"))
  }

  /** Oracle twin of [[fisherExact]] — `k` is interpolated so a caller
    * using a non-default subsample cap cannot silently desync the
    * engine from its oracle. */
  private[operators] def fisherOracleSql(k: Int = 120): String =
    s"""WITH RECURSIVE u AS (
      |  SELECT user_id,
      |         min(CASE WHEN event_type = 'view'
      |                  THEN CAST(CAST(ts AS TIMESTAMP) AS DATE) END) AS v0,
      |         min(CASE WHEN event_type = 'purchase'
      |                  THEN CAST(CAST(ts AS TIMESTAMP) AS DATE) END) AS p0
      |  FROM events GROUP BY 1 HAVING v0 IS NOT NULL),
      |sub AS (
      |  SELECT user_id % 2 AS arm,
      |         CASE WHEN p0 IS NOT NULL AND p0 >= v0 THEN 1 ELSE 0 END AS ev
      |  FROM u ORDER BY md5(CAST(user_id AS VARCHAR)) LIMIT $k),
      |cells AS (
      |  SELECT CAST(sum(CASE WHEN arm = 1 AND ev = 1 THEN 1 ELSE 0 END)
      |           AS BIGINT) AS a,
      |         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |         CAST(sum(ev) AS BIGINT) AS m1,
      |         CAST(count(*) AS BIGINT) AS t
      |  FROM sub),
      |rec(i, s) AS (
      |  SELECT 0, CAST(0.0 AS DOUBLE)
      |  UNION ALL
      |  SELECT r.i + 1, r.s + ln(CAST(r.i + 1 AS DOUBLE))
      |  FROM rec r, cells c WHERE r.i < c.t),
      |ks AS (
      |  SELECT c.a, c.n1, c.m1, c.t, g.g AS k
      |  FROM cells c, generate_series(0, $k) g(g)
      |  WHERE g.g >= greatest(0, c.m1 - (c.t - c.n1))
      |    AND g.g <= least(c.n1, c.m1)),
      |pm AS (
      |  SELECT a, n1, m1, t, k,
      |         exp((SELECT s FROM rec WHERE i = ks.n1)
      |           - (SELECT s FROM rec WHERE i = ks.k)
      |           - (SELECT s FROM rec WHERE i = ks.n1 - ks.k)
      |           + (SELECT s FROM rec WHERE i = ks.t - ks.n1)
      |           - (SELECT s FROM rec WHERE i = ks.m1 - ks.k)
      |           - (SELECT s FROM rec WHERE i = ks.t - ks.n1 - (ks.m1 - ks.k))
      |           - ((SELECT s FROM rec WHERE i = ks.t)
      |              - (SELECT s FROM rec WHERE i = ks.m1)
      |              - (SELECT s FROM rec WHERE i = ks.t - ks.m1))) AS pmf,
      |         exp((SELECT s FROM rec WHERE i = ks.n1)
      |           - (SELECT s FROM rec WHERE i = ks.a)
      |           - (SELECT s FROM rec WHERE i = ks.n1 - ks.a)
      |           + (SELECT s FROM rec WHERE i = ks.t - ks.n1)
      |           - (SELECT s FROM rec WHERE i = ks.m1 - ks.a)
      |           - (SELECT s FROM rec WHERE i = ks.t - ks.n1 - (ks.m1 - ks.a))
      |           - ((SELECT s FROM rec WHERE i = ks.t)
      |              - (SELECT s FROM rec WHERE i = ks.m1)
      |              - (SELECT s FROM rec WHERE i = ks.t - ks.m1))) AS pmfa
      |  FROM ks)
      |SELECT max(a) AS a, max(n1) AS n1, max(m1) AS m1, max(t) AS n,
      |       floor(least(1.0, CAST(sum(CASE WHEN pmf <= pmfa * (1.0 + 0.0000001)
      |           THEN CAST(floor(pmf * 1000000000.0 + 0.5) AS BIGINT)
      |           ELSE 0 END) AS DOUBLE) / 1000000000.0)
      |         * 1000000.0 + 0.5) / 1000000.0 AS p_two_sided
      |FROM pm""".stripMargin

  /** TOST EQUIVALENCE screen (two one-sided tests, z-approximation)
    * between the view and purchase value distributions — the readout
    * q_ab_test cannot give: failing to reject "different" is NOT
    * evidence of "same"; TOST reverses the burden, rejecting
    * non-equivalence when the 90% CI of the difference sits inside
    * ±δ (δ = 5% of the pooled mean — a relative margin, so the
    * screen is scale-free in the measure's units). Equivalent iff
    * t_lower = (Δ+δ)/se ≥ 1.644854 AND t_upper = (Δ−δ)/se ≤
    * −1.644854 (α = .05, large-n z critical value).
    *
    * Parity: the anova cents-moments posture (exact BIGINT n/Σ/Σ²
    * per arm); Δ/δ/se/t chains are one fixed-order double expression;
    * the equivalent flag compares the RENDERED t's. Degenerate
    * (zero-variance or empty) arms read NULL t's and equivalent=0.
    *
    * Scale: ONE conditional hash aggregate to a 1-row frame. */
  def tostEquivalence(events: DataFrame, typeA: String = "view",
      typeB: String = "purchase"): DataFrame = {
    val v = events.filter(col("value").isNotNull &&
      col("event_type").isin(typeA, typeB))
      .select(col("event_type").as("et"), cents(col("value")).as("c"))
    val m = v.agg(
      sum(when(col("et") === typeA, 1L).otherwise(0L)).as("na"),
      sum(when(col("et") === typeA, col("c")).otherwise(0L)).as("sa"),
      sum(when(col("et") === typeA, col("c") * col("c")).otherwise(0L))
        .as("qa"),
      sum(when(col("et") === typeB, 1L).otherwise(0L)).as("nb"),
      sum(when(col("et") === typeB, col("c")).otherwise(0L)).as("sb"),
      sum(when(col("et") === typeB, col("c") * col("c")).otherwise(0L))
        .as("qb"))
    val naD = col("na").cast("double"); val nbD = col("nb").cast("double")
    val ma = col("sa").cast("double") / naD / lit(100.0)
    val mb = col("sb").cast("double") / nbD / lit(100.0)
    // sample variance in value² units: (Σc² − (Σc)²/n)/(n−1)/1e4
    val va = (col("qa").cast("double") -
      col("sa").cast("double") * col("sa").cast("double") / naD) /
      (naD - lit(1.0)) / lit(1e4)
    val vb = (col("qb").cast("double") -
      col("sb").cast("double") * col("sb").cast("double") / nbD) /
      (nbD - lit(1.0)) / lit(1e4)
    val diff = ma - mb
    val delta = lit(0.05) *
      abs((col("sa").cast("double") + col("sb").cast("double")) /
        (naD + nbD) / lit(100.0))
    val se = sqrt(va / naD + vb / nbD)
    // !(se > 0) also catches NaN — a zero-variance pair must read
    // NULL, never an inf/NaN that renders differently across engines
    val degenerate = col("na") < 2L || col("nb") < 2L || !(se > lit(0.0))
    val tLo = when(degenerate, lit(null).cast("double"))
      .otherwise((diff + delta) / se)
    val tHi = when(degenerate, lit(null).cast("double"))
      .otherwise((diff - delta) / se)
    val tLoR = halfUp(tLo, 6); val tHiR = halfUp(tHi, 6)
    m.select(col("na").as("n_a"), col("nb").as("n_b"),
      halfUp(diff, 6).as("mean_diff"),
      halfUp(delta, 6).as("delta"),
      tLoR.as("t_lower"), tHiR.as("t_upper"),
      when(tLoR >= lit(1.644854) && tHiR <= lit(-1.644854), lit(1))
        .otherwise(lit(0)).as("equivalent"))
  }

  private[operators] val tostOracleSql: String =
    """WITH v AS (
      |  SELECT event_type AS et,
      |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
      |  FROM events
      |  WHERE value IS NOT NULL AND event_type IN ('view', 'purchase')),
      |m AS (
      |  SELECT CAST(sum(CASE WHEN et = 'view' THEN 1 ELSE 0 END) AS BIGINT)
      |           AS na,
      |         CAST(sum(CASE WHEN et = 'view' THEN c ELSE 0 END) AS BIGINT)
      |           AS sa,
      |         CAST(sum(CASE WHEN et = 'view' THEN c * c ELSE 0 END)
      |           AS BIGINT) AS qa,
      |         CAST(sum(CASE WHEN et = 'purchase' THEN 1 ELSE 0 END)
      |           AS BIGINT) AS nb,
      |         CAST(sum(CASE WHEN et = 'purchase' THEN c ELSE 0 END)
      |           AS BIGINT) AS sb,
      |         CAST(sum(CASE WHEN et = 'purchase' THEN c * c ELSE 0 END)
      |           AS BIGINT) AS qb
      |  FROM v),
      |x AS (
      |  SELECT na, nb,
      |         CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) / 100.0
      |           - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) / 100.0 AS diff,
      |         0.05 * abs((CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE))
      |           / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)) / 100.0)
      |           AS delta,
      |         sqrt((CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE)
      |                 * CAST(sa AS DOUBLE) / CAST(na AS DOUBLE))
      |               / (CAST(na AS DOUBLE) - 1.0) / 10000.0
      |               / CAST(na AS DOUBLE)
      |             + (CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE)
      |                 * CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))
      |               / (CAST(nb AS DOUBLE) - 1.0) / 10000.0
      |               / CAST(nb AS DOUBLE)) AS se
      |  FROM m),
      |r AS (
      |  SELECT na, nb, diff, delta,
      |         CASE WHEN na < 2 OR nb < 2 OR NOT (se > 0) THEN NULL
      |              ELSE floor((diff + delta) / se * 1000000.0 + 0.5)
      |                / 1000000.0 END AS t_lower,
      |         CASE WHEN na < 2 OR nb < 2 OR NOT (se > 0) THEN NULL
      |              ELSE floor((diff - delta) / se * 1000000.0 + 0.5)
      |                / 1000000.0 END AS t_upper
      |  FROM x)
      |SELECT na AS n_a, nb AS n_b,
      |       floor(diff * 1000000.0 + 0.5) / 1000000.0 AS mean_diff,
      |       floor(delta * 1000000.0 + 0.5) / 1000000.0 AS delta,
      |       t_lower, t_upper,
      |       CASE WHEN t_lower >= 1.644854 AND t_upper <= -1.644854
      |            THEN 1 ELSE 0 END AS equivalent
      |FROM r""".stripMargin

  /** POWER / MDE readout for the A/B conversion experiment — the
    * design-side number every test in this battery stands on: at
    * α = .05 (two-sided) and 80% power, the minimal detectable
    * absolute lift with the arms as sized is MDE = (z_{α/2}+z_β)·
    * √(p̄(1−p̄)(1/n₀+1/n₁)), and the per-arm n required to detect a
    * 10% RELATIVE lift is (z_{α/2}+z_β)²·2p̄(1−p̄)/(0.1·p̄)². An
    * underpowered readout ("not significant" at 20% power) is noise,
    * not evidence — this row says so before anyone reads q_ab_test.
    *
    * Parity: per-arm (x, n) are exact BIGINTs from the shared
    * [[conversionSpans]] reduction; z constants are literals spelled
    * identically in both engines; one fixed-order double chain.
    *
    * Scale: the span reduction then a 1-row closed form. */
  def powerMde(events: DataFrame): DataFrame = {
    val s = conversionSpans(events).groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("ev")).as("x"))
    val m = s.agg(
      sum(when(col("arm") === 0L, col("n")).otherwise(0L)).as("n0"),
      sum(when(col("arm") === 1L, col("n")).otherwise(0L)).as("n1"),
      sum(col("x")).as("xt"), sum(col("n")).as("nt"))
    val n0D = col("n0").cast("double"); val n1D = col("n1").cast("double")
    val p = col("xt").cast("double") / col("nt").cast("double")
    val zsum = lit(1.959964) + lit(0.841621) // z_{.025} + z_{.20}
    val mde = zsum * sqrt(p * (lit(1.0) - p) *
      (lit(1.0) / n0D + lit(1.0) / n1D))
    val nReq = zsum * zsum * lit(2.0) * p * (lit(1.0) - p) /
      ((lit(0.1) * p) * (lit(0.1) * p))
    val degenerate = col("n0") === 0L || col("n1") === 0L ||
      col("xt") === 0L || col("xt") === col("nt")
    m.select(col("n0"), col("n1"),
      halfUp(p, 6).as("pooled_rate"),
      halfUp(when(degenerate, lit(null).cast("double")).otherwise(mde), 6)
        .as("mde_absolute"),
      when(degenerate, lit(null).cast("long"))
        .otherwise(ceil(nReq).cast("long")).as("n_per_arm_10pct_lift"))
  }

  private[operators] val powerOracleSql: String =
    s"""WITH $spansOracleCte,
      |s AS (SELECT arm, CAST(count(*) AS BIGINT) AS n,
      |             CAST(sum(ev) AS BIGINT) AS x
      |      FROM spans GROUP BY 1),
      |m AS (SELECT
      |        CAST(sum(CASE WHEN arm = 0 THEN n ELSE 0 END) AS BIGINT) AS n0,
      |        CAST(sum(CASE WHEN arm = 1 THEN n ELSE 0 END) AS BIGINT) AS n1,
      |        CAST(sum(x) AS BIGINT) AS xt,
      |        CAST(sum(n) AS BIGINT) AS nt
      |      FROM s)
      |SELECT n0, n1,
      |       floor(CAST(xt AS DOUBLE) / CAST(nt AS DOUBLE) * 1000000.0 + 0.5)
      |         / 1000000.0 AS pooled_rate,
      |       CASE WHEN n0 = 0 OR n1 = 0 OR xt = 0 OR xt = nt THEN NULL
      |            ELSE floor((1.959964 + 0.841621)
      |              * sqrt(CAST(xt AS DOUBLE) / CAST(nt AS DOUBLE)
      |                  * (1.0 - CAST(xt AS DOUBLE) / CAST(nt AS DOUBLE))
      |                  * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE)))
      |              * 1000000.0 + 0.5) / 1000000.0 END AS mde_absolute,
      |       CASE WHEN n0 = 0 OR n1 = 0 OR xt = 0 OR xt = nt THEN NULL
      |            ELSE CAST(ceil((1.959964 + 0.841621) * (1.959964 + 0.841621)
      |              * 2.0 * (CAST(xt AS DOUBLE) / CAST(nt AS DOUBLE))
      |              * (1.0 - CAST(xt AS DOUBLE) / CAST(nt AS DOUBLE))
      |              / ((0.1 * CAST(xt AS DOUBLE) / CAST(nt AS DOUBLE))
      |                 * (0.1 * CAST(xt AS DOUBLE) / CAST(nt AS DOUBLE))))
      |              AS BIGINT) END AS n_per_arm_10pct_lift
      |FROM m""".stripMargin

  /** PAIRED t-TEST on per-user mean values across the two calendar
    * halves — the continuous sibling of [[mcnemarPaired]]: each user
    * is their own control, so between-user variance cancels and the
    * test runs on the within-user differences d_u = mean(first half)
    * − mean(second half), over users observed in BOTH halves.
    * t = d̄ / (s_d/√n) ~ t(n−1). The unpaired q_ab_test on the same
    * stream mixes between-user variance into its denominator — on
    * repeated-measure data this one is the right readout.
    *
    * Parity: per-(user, half) (n, Σcents) are exact BIGINTs; each
    * user's d quantizes to the 1e-6 grid (and d² to 1e-4) AS LONGS
    * before the user-level sums — the bootstrap replicate-moment
    * posture, order-free under any partitioning; the t chain is one
    * fixed-order double expression with n<2 / zero-variance NULL
    * guards.
    *
    * Scale: one (user) hash aggregate, then a 1-row reduction;
    * calendar bounds are a broadcast 1-row aggregate. */
  def pairedTTest(events: DataFrame): DataFrame = {
    val bounds = events.agg(min(to_date(col("ts"))).as("lo"),
      max(to_date(col("ts"))).as("hi"))
    val perUser = events.filter(col("value").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("d"),
        cents(col("value")).as("c"))
      .crossJoin(broadcast(bounds))
      .withColumn("h1",
        datediff(col("d"), col("lo")) * 2 <= datediff(col("hi"), col("lo")))
      .groupBy(col("user_id"))
      .agg(sum(when(col("h1"), 1L).otherwise(0L)).as("na"),
        sum(when(col("h1"), col("c")).otherwise(0L)).as("sa"),
        sum(when(!col("h1"), 1L).otherwise(0L)).as("nb"),
        sum(when(!col("h1"), col("c")).otherwise(0L)).as("sb"))
      .filter(col("na") > 0L && col("nb") > 0L)
    val dU = (col("sa").cast("double") / col("na").cast("double") -
      col("sb").cast("double") / col("nb").cast("double")) / lit(100.0)
    val m = perUser.agg(
      count(lit(1)).as("n"),
      sum(floor(dU * lit(1e6) + lit(0.5)).cast("long")).as("sdq"),
      sum(floor(dU * dU * lit(1e4) + lit(0.5)).cast("long")).as("sqq"))
    val nD = col("n").cast("double")
    val sd = col("sdq").cast("double") / lit(1e6)
    val sq = col("sqq").cast("double") / lit(1e4)
    val md = sd / nD
    val varD = (sq - sd * sd / nD) / (nD - lit(1.0))
    val t = md / sqrt(varD / nD)
    m.select(col("n").as("n_pairs"),
      halfUp(md, 6).as("mean_diff"),
      halfUp(when(col("n") < 2L || !(varD > lit(0.0)),
        lit(null).cast("double")).otherwise(t), 6).as("t_stat"))
  }

  private[operators] val pairedTOracleSql: String =
    """WITH b AS (
      |  SELECT min(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS lo,
      |         max(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS hi FROM events),
      |pu AS (
      |  SELECT user_id,
      |         CAST(sum(CASE WHEN date_diff('day', b.lo,
      |               CAST(CAST(ts AS TIMESTAMP) AS DATE)) * 2
      |             <= date_diff('day', b.lo, b.hi) THEN 1 ELSE 0 END)
      |           AS BIGINT) AS na,
      |         CAST(sum(CASE WHEN date_diff('day', b.lo,
      |               CAST(CAST(ts AS TIMESTAMP) AS DATE)) * 2
      |             <= date_diff('day', b.lo, b.hi)
      |             THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
      |             ELSE 0 END) AS BIGINT) AS sa,
      |         CAST(sum(CASE WHEN date_diff('day', b.lo,
      |               CAST(CAST(ts AS TIMESTAMP) AS DATE)) * 2
      |             > date_diff('day', b.lo, b.hi) THEN 1 ELSE 0 END)
      |           AS BIGINT) AS nb,
      |         CAST(sum(CASE WHEN date_diff('day', b.lo,
      |               CAST(CAST(ts AS TIMESTAMP) AS DATE)) * 2
      |             > date_diff('day', b.lo, b.hi)
      |             THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
      |             ELSE 0 END) AS BIGINT) AS sb
      |  FROM events, b WHERE value IS NOT NULL GROUP BY 1
      |  HAVING na > 0 AND nb > 0),
      |q AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(CAST(floor(
      |             (CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
      |              - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)) / 100.0
      |             * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sdq,
      |         CAST(sum(CAST(floor(
      |             ((CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
      |               - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)) / 100.0)
      |             * ((CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
      |                 - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)) / 100.0)
      |             * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sqq
      |  FROM pu)
      |SELECT n AS n_pairs,
      |       floor(CAST(sdq AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE)
      |           * 1000000.0 + 0.5) / 1000000.0 AS mean_diff,
      |       CASE WHEN n < 2 OR NOT ((CAST(sqq AS DOUBLE) / 10000.0
      |               - (CAST(sdq AS DOUBLE) / 1000000.0)
      |                 * (CAST(sdq AS DOUBLE) / 1000000.0)
      |                 / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) > 0)
      |            THEN NULL
      |            ELSE floor(CAST(sdq AS DOUBLE) / 1000000.0
      |                / CAST(n AS DOUBLE)
      |              / sqrt((CAST(sqq AS DOUBLE) / 10000.0
      |                  - (CAST(sdq AS DOUBLE) / 1000000.0)
      |                    * (CAST(sdq AS DOUBLE) / 1000000.0)
      |                    / CAST(n AS DOUBLE))
      |                / (CAST(n AS DOUBLE) - 1.0) / CAST(n AS DOUBLE))
      |              * 1000000.0 + 0.5) / 1000000.0 END AS t_stat
      |FROM q""".stripMargin

  /** COCHRAN–ARMITAGE trend test: is the fulfilled-rate MONOTONE in
    * the ordered priority factor (weights w = the priority digit
    * 1..5)? The ordering-aware sibling of q_stats_chi2: a χ²
    * independence test spends (k−1) degrees of freedom noticing ANY
    * deviation and is blind to direction; the trend test puts its one
    * degree of freedom on the ordered alternative, z = (T − p̄Σwn) /
    * √(p̄q̄(Σw²n − (Σwn)²/N)) with T = Σwx ~ N(0,1) under the null —
    * far more powerful when the actual question is "does it rise
    * with priority". Degenerate pools (p̄ ∈ {0,1}, zero weight
    * variance) read NULL.
    *
    * Parity: w, x, n are integers, so T/Σwn/Σw²n are EXACT BIGINTs —
    * the entire statistic is one fixed-order double chain over five
    * exact integers; nothing to quantize.
    *
    * Scale: ONE counts-only hash aggregate to ≤ |priorities| rows,
    * then a bounded reduction. */
  def cochranArmitage(orders: DataFrame): DataFrame = {
    val g = orders.select(
      substring(col("o_orderpriority"), 1, 1).cast("long").as("w"),
      when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("s"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n"), sum(col("s")).as("x"))
    val m = g.agg(count(lit(1)).as("k"), sum(col("n")).as("nt"),
      sum(col("x")).as("xt"),
      sum(col("w") * col("x")).as("t"),
      sum(col("w") * col("n")).as("wn"),
      sum(col("w") * col("w") * col("n")).as("wwn"))
    val p = col("xt").cast("double") / col("nt").cast("double")
    val e = p * col("wn").cast("double")
    val v = p * (lit(1.0) - p) * (col("wwn").cast("double") -
      col("wn").cast("double") * col("wn").cast("double") /
        col("nt").cast("double"))
    m.select(col("k").as("n_groups"), col("nt").as("n"),
      col("t").as("t_sum"),
      halfUp(e, 4).as("expected"),
      halfUp(when(!(v > lit(0.0)), lit(null).cast("double"))
        .otherwise((col("t").cast("double") - e) / sqrt(v)), 6)
        .as("z_trend"))
  }

  private[operators] val cochranArmitageOracleSql: String =
    """WITH g AS (
      |  SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS w,
      |         CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
      |           AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS k,
      |         CAST(sum(n) AS BIGINT) AS nt,
      |         CAST(sum(x) AS BIGINT) AS xt,
      |         CAST(sum(w * x) AS BIGINT) AS t,
      |         CAST(sum(w * n) AS BIGINT) AS wn,
      |         CAST(sum(w * w * n) AS BIGINT) AS wwn
      |  FROM g)
      |SELECT k AS n_groups, nt AS n, t AS t_sum,
      |       floor(CAST(xt AS DOUBLE) / CAST(nt AS DOUBLE)
      |           * CAST(wn AS DOUBLE) * 10000.0 + 0.5) / 10000.0
      |         AS expected,
      |       CASE WHEN NOT (CAST(xt AS DOUBLE) / CAST(nt AS DOUBLE)
      |             * (1.0 - CAST(xt AS DOUBLE) / CAST(nt AS DOUBLE))
      |             * (CAST(wwn AS DOUBLE) - CAST(wn AS DOUBLE)
      |                * CAST(wn AS DOUBLE) / CAST(nt AS DOUBLE)) > 0)
      |            THEN NULL
      |            ELSE floor((CAST(t AS DOUBLE)
      |                - CAST(xt AS DOUBLE) / CAST(nt AS DOUBLE)
      |                  * CAST(wn AS DOUBLE))
      |              / sqrt(CAST(xt AS DOUBLE) / CAST(nt AS DOUBLE)
      |                  * (1.0 - CAST(xt AS DOUBLE) / CAST(nt AS DOUBLE))
      |                  * (CAST(wwn AS DOUBLE) - CAST(wn AS DOUBLE)
      |                     * CAST(wn AS DOUBLE) / CAST(nt AS DOUBLE)))
      |              * 1000000.0 + 0.5) / 1000000.0 END AS z_trend
      |FROM m""".stripMargin

  // Window.unboundedPreceding without the import collision
  private val Window_unboundedPreceding: Long =
    org.apache.spark.sql.expressions.Window.unboundedPreceding

  val queries: Map[String, Q] = Map(
    // k-sample variance decomposition across the event-type arms
    "q_stats_anova" -> ((s, d) => anovaOneWay(Tables.events(s, d))),
    // rank-based k-sample test with tie correction, same arms
    "q_stats_kruskal" -> ((s, d) => kruskalWallis(Tables.events(s, d))),
    // variance-homogeneity gate for the ANOVA (median-centered form)
    "q_stats_levene" -> ((s, d) => leveneBrownForsythe(Tables.events(s, d))),
    // normality screen per nation over account balances (the
    // q_agg_moments grouping, plus the chi-square-2 readout)
    "q_stats_jarque_bera" -> ((s, d) =>
      jarqueBera(Tables.customer(s, d), col("c_nationkey"), col("c_acctbal"))),
    // product-limit view→purchase conversion curves per A/B arm
    "q_stats_survival" -> ((s, d) => kaplanMeier(Tables.events(s, d))),
    // symmetric bounded drift between the view/purchase value mixes
    "q_drift_js" -> ((s, d) =>
      jensenShannon(Tables.events(s, d), "view", "purchase")),
    // two-arm log-rank test over the survival-curve risk sets
    "q_stats_logrank" -> ((s, d) => logRank(Tables.events(s, d))),
    // paired within-user before/after conversion test
    "q_stats_mcnemar" -> ((s, d) => mcnemarPaired(Tables.events(s, d))),
    // stratified 2x2 CMH chi-square + Mantel-Haenszel pooled OR
    "q_stats_cmh" -> ((s, d) =>
      cmhStratified(Tables.orders(s, d), Tables.customer(s, d))),
    // BH step-up FDR over the per-cohort proportion z battery
    "q_stats_fdr" -> ((s, d) => fdrBh(Tables.events(s, d))),
    // Wilson score CIs for the per-arm conversion rates
    "q_stats_wilson" -> ((s, d) => wilsonCi(Tables.events(s, d))),
    // exact hypergeometric 2x2 p over the md5-capped subsample
    "q_stats_fisher" -> ((s, d) => fisherExact(Tables.events(s, d))),
    // two one-sided equivalence screen on the view/purchase values
    "q_stats_tost" -> ((s, d) => tostEquivalence(Tables.events(s, d))),
    // minimal detectable effect + required-n design readout
    "q_stats_power" -> ((s, d) => powerMde(Tables.events(s, d))),
    // within-user paired t on the half-calendar mean differences
    "q_stats_ttest_paired" -> ((s, d) => pairedTTest(Tables.events(s, d))),
    // ordered-factor trend in the fulfilled rate (1-df, direction-aware)
    "q_stats_trend" -> ((s, d) => cochranArmitage(Tables.orders(s, d))),
  )

  val oracle: Map[String, String] = Map(
    "q_stats_anova" -> anovaOracleSql,
    "q_stats_kruskal" -> kruskalOracleSql,
    "q_stats_levene" -> leveneOracleSql,
    "q_stats_jarque_bera" -> jarqueBeraOracleSql,
    "q_stats_survival" -> kaplanMeierOracleSql,
    "q_drift_js" -> jensenShannonOracleSql,
    "q_stats_logrank" -> logRankOracleSql,
    "q_stats_mcnemar" -> mcnemarOracleSql,
    "q_stats_cmh" -> cmhOracleSql,
    "q_stats_fdr" -> fdrBhOracleSql(),
    "q_stats_wilson" -> wilsonCiOracleSql,
    "q_stats_fisher" -> fisherOracleSql(),
    "q_stats_tost" -> tostOracleSql,
    "q_stats_power" -> powerOracleSql,
    "q_stats_ttest_paired" -> pairedTOracleSql,
    "q_stats_trend" -> cochranArmitageOracleSql,
  )
}
