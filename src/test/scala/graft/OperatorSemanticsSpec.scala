package graft

import org.apache.spark.sql.functions._

/** Targeted semantic assertions per operator family — pinned facts a
  * wrong implementation would break, independent of the DuckDB oracle.
  */
class OperatorSemanticsSpec extends SparkTestBase {

  test("q_filter_time_range honors inclusive month bounds") {
    val df = SparkEntry.queries("q_filter_time_range")(spark, sf)
    val bad = df.filter(
      (col("year") < 1996 || (col("year") === 1996 && col("month") < 2)) ||
      (col("year") > 1999 || (col("year") === 1999 && col("month") > 10))).count()
    assert(bad == 0)
    // boundary months present (data spans 1995..2001)
    assert(df.filter(col("year") === 1996 && col("month") === 2).count() > 0)
    assert(df.filter(col("year") === 1999 && col("month") === 10).count() > 0)
  }

  test("observe() collects validation counts in the SAME pass as the query") {
    // the reference prints row counts before/after each filter stage
    // as a separate len(df) per stage (precipitation_pipeline.py:
    // 106-109, :167); Observation attaches the counts to the one
    // flagship pass — zero extra scans, zero extra actions
    val obs = new org.apache.spark.sql.Observation("validation")
    val li = Tables.lineitem(spark, sf)
      .filter(col("l_quantity").isNotNull)
      .observe(obs,
        count(lit(1)).as("n_after_null_filter"),
        sum(when(operators.Climate.timestampRange(
          col("l_shipdate"), 1996, 2, 1999, 10), 1).otherwise(0)).as("n_in_range"))
    val kept = li.filter(operators.Climate.timestampRange(
      col("l_shipdate"), 1996, 2, 1999, 10)).count()
    val m = obs.get
    assert(m("n_in_range") == kept)
    assert(m("n_after_null_filter").asInstanceOf[Long] >= kept)
  }

  test("q_agg_group_monthly sums match a direct recomputation") {
    val df = SparkEntry.queries("q_agg_group_monthly")(spark, sf)
    val total = df.agg(sum("n_rows")).head.getLong(0)
    val expected = Tables.lineitem(spark, sf)
      .filter(col("l_quantity").isNotNull)
      .filter(year(col("l_shipdate")).between(1996, 1999))
      .filter(!(year(col("l_shipdate")) === 1996 && month(col("l_shipdate")) < 2))
      .filter(!(year(col("l_shipdate")) === 1999 && month(col("l_shipdate")) > 10))
      .count()
    assert(total == expected)
  }

  test("grid resolution returns the default on constant input") {
    import spark.implicits._
    val one = Seq(1.5, 1.5, 1.5).toDF("coord")
    val res = operators.Climate.gridResolution(one, "coord", 0.5)
      .head.getDouble(0)
    assert(res == 0.5)
  }

  test("grid resolution finds the min gap") {
    import spark.implicits._
    val df = Seq(0.0, 0.5, 1.5, 2.0).toDF("coord")
    val res = operators.Climate.gridResolution(df, "coord", 9.9)
      .head.getDouble(0)
    assert(res == 0.5)
  }

  test("semi and anti join partition the left relation") {
    val o = Tables.orders(spark, sf)
    val c = Tables.customer(spark, sf)
    val semi = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi").count()
    val anti = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti").count()
    assert(semi + anti == c.count())
  }

  test("scd2Build: runs compact, intervals chain, one open current version per key") {
    import spark.implicits._
    val log = Seq(
      (1L, "a", 10L, 1L), (1L, "a", 20L, 2L),  // re-observation: no new version
      (1L, "b", 30L, 3L), (1L, "a", 40L, 4L),  // value returns: NEW version
      (2L, "x", 10L, 1L),
      (3L, "p", 10L, 2L), (3L, "q", 10L, 1L),  // same ts: ord breaks the tie (q first)
      // NULL observations compact like any other repeated value
      (4L, "x", 10L, 1L), (4L, null: String, 20L, 2L),
      (4L, null: String, 30L, 3L), (4L, "x", 40L, 4L))
      .toDF("user_id", "event_type", "us", "event_id")
      .withColumn("ts", expr("timestamp_micros(us)"))
    val r = operators.Snapshot
      .scd2Build(log, "user_id", "event_type", "ts", "event_id")
      .orderBy(col("user_id"), col("version"))
      .collect().map(x => (x.getLong(0), x.getString(1), x.getLong(2),
        if (x.isNullAt(3)) -1L else x.getLong(3), x.getLong(4), x.getBoolean(5)))
    assert(r.toSeq == Seq(
      (1L, "a", 10L, 30L, 1L, false),
      (1L, "b", 30L, 40L, 2L, false),
      (1L, "a", 40L, -1L, 3L, true),
      (2L, "x", 10L, -1L, 1L, true),
      (3L, "q", 10L, 10L, 1L, false),
      (3L, "p", 10L, -1L, 2L, true),
      (4L, "x", 10L, 20L, 1L, false),
      (4L, null, 20L, 40L, 2L, false),  // one NULL version, not two
      (4L, "x", 40L, -1L, 3L, true)))
    // registered shape: one shuffle — single hash exchange on user_id
    val plan = SparkEntry.queries("q_scd2_build")(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1,
      "compaction + intervals + version must share one user_id exchange")
  }

  test("mixTemperature: tau=0 equalizes strata, small stratum caps at 1, kept set matches exact digest math") {
    import spark.implicits._
    // A: 8 docs, B: 2 docs; f=0.5, tau=0 → q = 1/2 each →
    // rate_A = 10·0.5·0.5/8 = 0.3125, rate_B = 2.5/2 capped at 1.0
    val docs = (Seq.tabulate(8)(i => (i.toLong, "A")) ++
      Seq((100L, "B"), (101L, "B"))).toDF("doc_id", "lang")
    val kept = operators.TextOps.mixTemperature(docs, "lang", 0.0, 0.5, "s1")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(Set(100L, 101L).subsetOf(kept), "capped stratum keeps everything")
    // mirror digestHex8 exactly: rate_A = 0.3125 → 0x50000000
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def hex8(id: Long) = md.digest(s"$id:s1".getBytes("UTF-8"))
      .take(4).map(b => f"${b & 0xff}%02x").mkString
    val expectA = (0L to 7L).filter(hex8(_) < "50000000").toSet
    assert(kept -- Set(100L, 101L) == expectA)
    // tau=1 is the natural distribution: every stratum keeps at rate f
    val nat = operators.TextOps.mixTemperature(docs, "lang", 1.0, 0.5, "s1")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val expectNat = (docs.collect().map(r => (r.getLong(0), r.getString(1)))
      .filter { case (id, _) => hex8(id) < "80000000" }).map(_._1).toSet
    assert(nat == expectNat)
  }

  test("textEntropy: hand-computed values, constant doc scores +0.0, empty doc excluded, no shuffle") {
    import spark.implicits._
    val docs = Seq((1L, "aabb"), (2L, "abcd"), (3L, "aaaa"), (4L, ""))
      .toDF("doc_id", "text")
    val r = operators.TextOps.textEntropy(docs)
      .collect().map(x => (x.getLong(0), x.getDouble(1)))
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.toSeq == Seq(
      (1L, r6(math.log(2))), (2L, r6(math.log(4))), (3L, 0.0)))
    assert(r(2)._2.toString == "0.0", "must be +0.0, not -0.0")
    val plan = operators.TextOps.textEntropy(docs)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange hashpartitioning"),
      "entropy is a pure row-local projection")
  }

  test("corpusHealth: planted dup counted, token/short/entropy stats match hand math, one report row per source") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aabb", "s"), (2L, "aabb", "s"), (3L, "ab ab", "s"),
      (4L, "x" * 200, "t"))
      .toDF("doc_id", "text", "source")
    val r = operators.TextOps.corpusHealth(docs).collect()
    assert(r.length == 2)
    val s = r(0)
    assert(s.getString(0) == "s" && s.getLong(1) == 3)
    assert(s.getDouble(2) == 0.333333)       // 1 - 2/3 distinct
    assert(s.getDouble(3) == 1.3333)         // (1+1+2)/3 tokens
    val e1 = math.log(2)                     // "aabb"
    val e2 = -(0.4 * math.log(0.4) * 2 + 0.2 * math.log(0.2)) // "ab ab"
    assert(math.abs(s.getDouble(4) - (e1 + e1 + e2) / 3) < 1e-6)
    assert(s.getDouble(5) == 1.0)            // all short
    val t = r(1)
    assert(t.getString(0) == "t" && t.getLong(1) == 1 &&
      t.getDouble(2) == 0.0 && t.getDouble(4) == 0.0 && t.getDouble(5) == 0.0)
  }

  test("anomalyMad: flags exactly the planted outlier, constant groups drop instead of emitting infinity") {
    import spark.implicits._
    // group g: symmetric values around 10 (med=10, mad=1) + one spike;
    // group c: constant → mad 0 → excluded entirely
    val ev = (Seq((1L, "g", 9.0), (2L, "g", 10.0), (3L, "g", 11.0),
      (4L, "g", 9.0), (5L, "g", 11.0), (6L, "g", 100.0), (10L, "g", 10.0),
      (7L, "c", 5.0), (8L, "c", 5.0), (9L, "c", 5.0)))
      .toDF("event_id", "event_type", "value")
    val r = operators.Aggregations.anomalyMad(ev, "event_type", "value")
      .select(col("event_id"), col("rz")).collect()
      .map(x => (x.getLong(0), x.getDouble(1)))
    // med(g)=10, adevs = [1,0,1,1,1,90] → mad=1; rz(100) = 0.6745*90
    assert(r.toSeq == Seq((6L, 0.6745 * 90)))
  }

  test("scd2Lookup: every fact hits exactly one version, zero-length tie intervals match nothing, join stays equi-keyed") {
    import spark.implicits._
    val log = Seq(
      (1L, "a", 10L, 1L), (1L, "a", 20L, 2L),
      (1L, "b", 30L, 3L), (1L, "a", 40L, 4L),
      (3L, "p", 10L, 2L), (3L, "q", 10L, 1L))
      .toDF("user_id", "event_type", "us", "event_id")
      .withColumn("ts", expr("timestamp_micros(us)"))
    val dim = operators.Snapshot
      .scd2Build(log, "user_id", "event_type", "ts", "event_id")
    val facts = Seq((101L, 1L, 25L), (102L, 1L, 30L), (103L, 1L, 99L),
      (104L, 3L, 10L)).toDF("fact_id", "user_id", "us")
    val r = operators.Snapshot.scd2Lookup(facts, dim, "user_id", "us")
      .select(col("fact_id"), col("version"), col("event_type"))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getString(2))).sortBy(_._1)
    assert(r.toSeq == Seq(
      (101L, 1L, "a"),   // mid-interval
      (102L, 2L, "b"),   // boundary: valid_from inclusive
      (103L, 3L, "a"),   // open current interval
      (104L, 2L, "p")))  // user 3's [10,10) "q" is zero-length — p wins
    val plan = operators.Snapshot.scd2Lookup(facts, dim, "user_id", "us")
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      "interval containment must ride the user_id equi-join as a residual")
  }

  test("pagerank: star graph matches hand iteration, cycle is the uniform fixed point, parallel edges collapse") {
    import spark.implicits._
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // star: 1->{2,3}, {2,3}->1 — duplicate edge must not double-contribute
    val star = Seq((1L, 2L), (1L, 3L), (2L, 1L), (3L, 1L), (1L, 2L))
      .toDF("src", "dst")
    // mirror the engine's operand order: (1-d)/n + d*mass
    var (p1, p2) = (1.0 / 3, 1.0 / 3)  // p3 == p2 by symmetry
    for (_ <- 1 to 3) {
      val (m1, m2) = (p2 + p2, p1 / 2)
      p1 = (1.0 - 0.85) / 3 + 0.85 * m1
      p2 = (1.0 - 0.85) / 3 + 0.85 * m2
    }
    val got = operators.Graph.pagerank(star)
      .collect().map(x => (x.getLong(0), x.getDouble(1)))
    assert(got.toSeq == Seq((1L, r6(p1)), (2L, r6(p2)), (3L, r6(p2))))
    // 3-cycle: uniform 1/3 is the fixed point
    val cyc = operators.Graph.pagerank(
      Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst"))
      .collect().map(_.getDouble(1))
    assert(cyc.toSeq == Seq(0.333333, 0.333333, 0.333333))
  }

  test("ngramLmScore: hand-computed bigram nll, short docs excluded") {
    import spark.implicits._
    val docs = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "z"))
      .toDF("doc_id", "text")
    // model: c12 = {(a,b)->3, (b,a)->1, (b,c)->1}; c1 = {a->3, b->2};
    // V = |{b, a, c}| = 3; alpha = 0.4
    def p(c12: Double, c1: Double) = (c12 + 0.4) / (c1 + 0.4 * 3)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val nll1 = r6(-(math.log(p(3, 3)) * 2 + math.log(p(1, 2))) / 3)
    val nll2 = r6(-(math.log(p(3, 3)) + math.log(p(1, 2))) / 2)
    val r = operators.TextOps.ngramLmScore(docs)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
    assert(r.toSeq == Seq((1L, 3L, nll1), (2L, 2L, nll2)))  // doc 3: no bigrams
  }

  test("driftPsi: identical snapshots score zero, a length shift shows in both buckets") {
    import spark.implicits._
    val a = Seq.tabulate(3)(i => (i.toLong, "x" * 10)).toDF("doc_id", "text")
    val same = operators.Snapshot.driftPsi(a, a).collect()
    assert(same.length == 1 &&
      same.forall(r => r.getLong(1) == r.getLong(2) && r.getDouble(3) == 0.0))
    // old all in bucket 0, new all in bucket 1 → mirror-image terms
    val b = Seq.tabulate(3)(i => (i.toLong, "y" * 300)).toDF("doc_id", "text")
    val shifted = operators.Snapshot.driftPsi(a, b)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getDouble(3)))
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val term = r6((0.5 / 4 - 3.5 / 4) * math.log((0.5 / 4) / (3.5 / 4)))
    assert(shifted.toSeq == Seq((0L, 3L, 0L, term), (1L, 0L, 3L, term)))
    assert(term > 0.25, "a full-mass bucket shift must trip the drift alarm")
  }

  test("funnel: stages only count in order, ties break on event_id, counts are per-user") {
    import spark.implicits._
    def ev(rows: (Long, Long, Long, String)*) =
      rows.toDF("user_id", "event_id", "us", "event_type")
        .withColumn("ts", expr("timestamp_micros(us)"))
    val e = ev(
      (1L, 1L, 10L, "view"), (1L, 2L, 20L, "click"), (1L, 3L, 30L, "purchase"),
      (2L, 1L, 10L, "click"), (2L, 2L, 20L, "view"),        // click BEFORE view: no stage2
      (3L, 1L, 10L, "view"),                                 // stage1 only
      (4L, 1L, 10L, "purchase"), (4L, 2L, 20L, "view"),      // early purchase doesn't count
      (4L, 3L, 30L, "click"),
      (5L, 1L, 10L, "signup"),                               // never enters the funnel
      (6L, 1L, 10L, "view"), (6L, 2L, 10L, "click"),         // same ts: id order ⇒ counts
      (7L, 2L, 10L, "view"), (7L, 1L, 10L, "click"))         // same ts: click sorts first ⇒ not
    val r = operators.Windows.funnel(e, Seq("view", "click", "purchase")).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      (7L, 6L, 3L, 1L))
  }

  test("cohortRetention: first-month cohorts, distinct user-months, triangle replay") {
    import spark.implicits._
    val e = Seq(
      (1L, "2024-01-05"), (1L, "2024-01-20"), (1L, "2024-02-11"), // cohort 01, active 01+02
      (2L, "2024-01-09"),                                          // cohort 01, active 01
      (3L, "2024-02-01"), (3L, "2024-02-28"))                      // cohort 02, active 02
      .toDF("user_id", "day")
      .withColumn("ts", to_timestamp(col("day")))
    val r = operators.Windows.cohortRetention(e)
      .collect().map(x => (x.getString(0), x.getString(1), x.getLong(2))).toSeq
    assert(r == Seq(("2024-01", "2024-01", 2L), ("2024-01", "2024-02", 1L),
      ("2024-02", "2024-02", 1L)))
  }

  test("bloomSemiJoin: row-identical to the plain semi join, probe one-sided, nulls drop") {
    import spark.implicits._
    val o = Tables.orders(spark, sf)
    val rich = Tables.customer(spark, sf)
      .filter(col("c_acctbal") > lit(9900.0)).select("c_custkey")
    val a = operators.Joins.bloomSemiJoin(o, "o_custkey", rich, "c_custkey")
      .select("o_orderkey").as[Long].collect().sorted.toSeq
    val want = o.join(rich, o("o_custkey") === rich("c_custkey"), "left_semi")
      .select("o_orderkey").as[Long].collect().sorted.toSeq
    assert(a == want, "bloom prefilter + exact rerun must equal the semi join")
    assert(a.nonEmpty, "harness slice must actually select something")
    // one-sidedness: the sketch alone never rejects a true dim key —
    // probe every dim key through the registered expression path
    val keys = rich.as[Long].collect().toSeq
    val bloom = rich.select(col("c_custkey").cast("long").as("k"))
      .stat.bloomFilter("k", keys.length.max(1).toLong, 0.01)
    assert(keys.forall(bloom.mightContainLong), "no false negatives")
    // null fact keys are dropped, as a null-rejecting join key would be
    val withNull = Seq[(java.lang.Long, java.lang.Long)]((1L, null))
      .toDF("o_orderkey", "o_custkey")
    assert(operators.Joins.bloomSemiJoin(
      withNull, "o_custkey", rich, "c_custkey").count() == 0L)
  }

  test("as-of join: matched_ts is the max view ts <= purchase ts") {
    val res = SparkEntry.queries("q_join_asof")(spark, sf)
    val e = Tables.events(spark, sf)
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
    // brute-force recompute on the small sf for 20 sampled purchases
    val sample = res.limit(20).collect()
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getTimestamp(2))).toMap
    val vrows = views.collect().map(r => (r.getLong(0), r.getTimestamp(1)))
    sample.foreach { r =>
      val (user, pts) = purchases(r.getLong(0))
      val expect = vrows.filter(v => v._1 == user && !v._2.after(pts))
        .map(_._2).sortBy(_.getTime).lastOption.orNull
      assert(r.getTimestamp(2) == expect,
        s"event ${r.getLong(0)}: got ${r.getTimestamp(2)}, want $expect")
    }
  }

  test("union_all preserves cardinality; union_distinct dedups") {
    val ua = SparkEntry.queries("q_union_all")(spark, sf).count()
    val c = Tables.customer(spark, sf).count()
    val s2 = Tables.supplier(spark, sf).count()
    assert(ua == c + s2)
  }

  test("topk equals sort-limit") {
    val topk = SparkEntry.queries("q_topk")(spark, sf).collect().map(_.getLong(0))
    val sorted = Tables.orders(spark, sf)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10).collect().map(_.getLong(0))
    assert(topk.sameElements(sorted))
  }

  test("approx_count_distinct within 5% of exact") {
    val li = Tables.lineitem(spark, sf)
    val approx = li.select(approx_count_distinct(col("l_partkey")))
      .head.getLong(0).toDouble
    val exact = li.select(countDistinct(col("l_partkey"))).head.getLong(0).toDouble
    assert(math.abs(approx - exact) / exact < 0.05)
    // the registered banded-check shape: exact count + band boolean
    val row = SparkEntry.queries("q_agg_approx_distinct")(spark, sf).head
    assert(row.getLong(0).toDouble == exact && row.getBoolean(1))
  }

  test("approxPercentiles: rank error inside the GK band, under any partitioning") {
    import graft.operators.Aggregations
    val li = Tables.lineitem(spark, sf)
    // exact per-group sorted values, once
    val exact = li.select(col("l_returnflag").as("g"),
        col("l_extendedprice").as("v"))
      .collect().groupBy(_.getString(0))
      .map { case (g, rs) => g -> rs.map(_.getDouble(1)).sorted }
    // the sketch's contract: the returned value's true rank sits
    // within eps·n of the target (eps = 1/accuracy; sf0.001 groups are
    // small enough that the tolerance below is dominated by ties/±1)
    def rankCheck(df: org.apache.spark.sql.DataFrame): Unit =
      df.collect().foreach { r =>
        val vals = exact(r.getString(0))
        val n = vals.length
        for ((q, i) <- Seq(0.25 -> 2, 0.5 -> 3, 0.75 -> 4, 0.95 -> 5)) {
          val v = r.getDouble(i)
          val lo = vals.count(_ < v)       // lowest rank v could hold
          val hi = vals.count(_ <= v)      // highest rank v could hold
          val target = q * n
          val tol = math.max(1.0, 1e-4 * n) + 1.0
          assert(lo - tol <= target && target <= hi + tol,
            s"g=${r.getString(0)} q=$q v=$v rank∈[$lo,$hi] target=$target n=$n")
        }
      }
    rankCheck(Aggregations.approxPercentiles(li, col("l_returnflag"),
      col("l_extendedprice")))
    // MERGEABLE state: the band must hold however the partials are
    // laid out (sketch merge order may vary; the GUARANTEE is the band)
    for (k <- Seq(1, 7, 32))
      rankCheck(Aggregations.approxPercentiles(li.repartition(k),
        col("l_returnflag"), col("l_extendedprice")))
    // the driver-visible band check (the registered query's shape)
    // must agree: every boolean true, here at a much coarser accuracy
    // than the registered default so the band itself does real work
    val bc = Aggregations.approxPercentileBandCheck(li,
      col("l_returnflag"), col("l_extendedprice"), accuracy = 100).collect()
    assert(bc.nonEmpty && bc.forall(r => (2 to 5).forall(r.getBoolean)),
      bc.mkString(" | "))
  }

  test("hive orders layout: per-sfDir isolation and stable memoization") {
    import graft.sources.IO
    val a = IO.hivePartitionedOrders(spark, "/root/testdata/sf0.001")
    val b = IO.hivePartitionedOrders(spark, "/root/testdata/sf0.01")
    // distinct sfDirs get distinct layouts; re-invocation reuses the
    // already-written one (the pay-once-at-ingest contract)
    assert(a != b)
    assert(IO.hivePartitionedOrders(spark, "/root/testdata/sf0.001") == a)
    assert(spark.read.parquet(b).count() >
      spark.read.parquet(a).count())
  }

  test("bucketedJoin serves two scale factors in one session without cross-talk") {
    import graft.operators.Joins
    val a = Joins.bucketedJoin(spark, "/root/testdata/sf0.001").count()
    val b = Joins.bucketedJoin(spark, "/root/testdata/sf0.01").count()
    assert(b > a) // 10x the data, more join rows
    // the first sfDir still answers from ITS tables after the second build
    assert(Joins.bucketedJoin(spark, "/root/testdata/sf0.001").count() == a)
  }

  test("q_sql_entry: concurrent different-sfDir invocations don't share view state") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val dirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
    def run(d: String): Long = SparkEntry.queries("q_sql_entry")(spark, d)
      .agg(org.apache.spark.sql.functions.sum("n")).head.getLong(0)
    val expected = dirs.map(run) // sequential ground truth
    (1 to 3).foreach { _ =>
      val got = Await.result(
        Future.sequence(dirs.map(d => Future(run(d)))), 2.minutes)
      assert(got == expected, s"concurrent sql_entry mixed up scale factors: $got")
    }
  }

  test("equi-height histogram: buckets partition the rows with near-equal heights") {
    val res = SparkEntry.queries("q_agg_histogram_eq")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val total = Tables.events(spark, sf)
      .filter(org.apache.spark.sql.functions.col("value").isNotNull).count()
    assert(res.map(_._2).sum == total)            // partition of non-null rows
    assert(res.map(_._2).max - res.map(_._2).min <= 1) // SQL-standard ntile heights
    // value ranges are non-overlapping and ordered with the buckets
    res.sliding(2).foreach { case Array(a, b) => assert(a._4 <= b._3 + 1e-9) }
  }

  test("stratified sampling degenerate rates: 0 keeps nothing, 1 keeps (almost) all") {
    import graft.operators.TextOps
    val docs = Tables.documents(spark, sf)
    val none = TextOps.stratifiedSample(docs, "lang", Nil, defaultRate = 0.0, salt = "s")
    assert(none.count() == 0)
    // rate 1.0 clamps to threshold 'ffffffff': only a digest prefix of
    // exactly ffffffff (p = 2^-32 per doc) could drop — none here
    val all = TextOps.stratifiedSample(docs, "lang", Nil, defaultRate = 1.0, salt = "s")
    assert(all.count() == docs.count())
  }

  test("rangeBucketedJoin equals the naive theta join, pairs unique, boundary inclusive") {
    import graft.operators.Joins
    val e = Tables.events(spark, sf)
    val purch = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("ts").as("p_ts"))
    val views = e.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("ts").as("v_ts"))
    val bucketed = Joins.rangeBucketedJoin(purch, "p_ts", views, "v_ts", 120)
      .select("purchase_id", "view_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    // the probe's 3-bucket explode must meet each qualifying pair
    // exactly once — a dedup pass hiding double-counting would mask it
    assert(bucketed.length == bucketed.distinct.length, "pair emitted twice")
    val naive = purch.join(views,
        abs(unix_micros(col("p_ts")) - unix_micros(col("v_ts"))) <= 120L * 1000000L)
      .select("purchase_id", "view_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(bucketed.sorted.sameElements(naive.sorted),
      s"bucketed=${bucketed.length} naive=${naive.length}")
    assert(bucketed.nonEmpty, "fixture yields no pairs — test is vacuous")
  }

  test("prefixSums equals the naive grouped window, dominant group included") {
    import graft.operators.Windows
    import spark.implicits._
    // skewed fixture: one group holds 80% of the rows (the shape that
    // collapses the naive stratum-partitioned window to a single task)
    val rows = (1L to 400L).map(i => ("big", i, i % 7 + 1)) ++
      (1L to 50L).map(i => ("s1", i, i % 5 + 1)) ++
      (1L to 50L).map(i => ("s2", i, i % 3 + 1))
    val df = rows.toDF("grp", "id", "v")
    val got = Windows.prefixSums(df, Seq("grp"), Seq(col("v") -> "cum"),
        Seq(col("id")))._1.select("grp", "id", "cum").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    // naive per-group running sum, computed locally
    val want = rows.groupBy(_._1).flatMap { case (g, xs) =>
      xs.sortBy(_._2).scanLeft((g, 0L, 0L)) { case ((_, _, acc), (_, id, v)) =>
        (g, id, acc + v)
      }.tail.map { case (_, id, cum) => (g, id) -> cum }
    }.toMap
    assert(got == want)
    assert(Windows.prefixSums(spark.emptyDataset[(String, Long, Long)]
      .toDF("grp", "id", "v"), Seq("grp"), Seq(col("v") -> "cum"),
      Seq(col("id")))._1.count() == 0)
  }

  test("prefixSums totals equal a direct count/sum, grouped and global, empty too") {
    import graft.operators.Windows
    import spark.implicits._
    val rows = (1L to 400L).map(i => ("big", i, i % 7 + 1, (i % 3).toInt)) ++
      (1L to 50L).map(i => ("s1", i, i % 5 + 1, 2))
    val df = rows.toDF("grp", "id", "v", "w")
    val measures = Seq(col("v") -> "cv", col("w") -> "cw")
    def sorted(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toSeq).sortBy(_.head.toString).toSeq
    // empty input included: no grouped row, and ONE global row with
    // _n = 0 and NULL measure totals, exactly as count(*)/sum give
    for (in <- Seq(df, df.filter(lit(false)))) {
      val grouped = Windows.prefixSums(in, Seq("grp"), measures, Seq(col("id")))._2
      assert(sorted(grouped.select("grp", "_n", "cv", "cw")) ==
        sorted(in.groupBy("grp").agg(count(lit(1)), sum("v"), sum("w"))))
      val global = Windows.prefixSums(in, Nil, measures, Seq(col("grp"), col("id")))._2
      assert(global.select("_n", "cv", "cw").collect().map(_.toSeq).toSeq ==
        in.agg(count(lit(1)), sum("v"), sum("w")).collect().map(_.toSeq).toSeq)
    }
  }

  test("tfidf: hand-computed scores, rank ties break on term, per-doc dedup via tf") {
    import spark.implicits._
    val docs = Seq((1L, "x x y"), (2L, "x z"), (3L, "w")).toDF("doc_id", "text")
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val (ln3, ln32) = (math.log(3.0), math.log(3.0 / 2))
    val r = operators.TextOps.tfidf(docs, 3)
      .collect().map(x => (x.getLong(0), x.getString(1), x.getDouble(2), x.getLong(3))).toSeq
    assert(r == Seq(
      (1L, "y", r4(ln3), 1L), (1L, "x", r4(2 * ln32), 2L),
      (2L, "z", r4(ln3), 1L), (2L, "x", r4(ln32), 2L),
      (3L, "w", r4(ln3), 1L)))
  }

  test("invertedIndex: sorted postings, per-doc repeats collapse, maxDf cap drops terms") {
    import spark.implicits._
    val docs = Seq((2L, "x z"), (1L, "x x y"), (3L, "w")).toDF("doc_id", "text")
    val r = operators.TextOps.invertedIndex(docs)
      .collect().map(x => (x.getString(0), x.getLong(1), x.getString(2))).toSeq
    assert(r == Seq(("w", 1L, "3"), ("x", 2L, "1,2"), ("y", 1L, "1"), ("z", 1L, "2")))
    val capped = operators.TextOps.invertedIndex(docs, maxDf = 1L)
      .select("term").as[String].collect().toSeq
    assert(capped == Seq("w", "y", "z"), "df-2 term must fall to the cap")
  }

  test("gopherRules: a clean doc keeps, each rule trips on its own pathology") {
    import spark.implicits._
    val good = ("the quick brown fox jumps over the lazy dog and runs " * 6).trim
    val docs = Seq(
      (1L, good),                                    // passes everything
      (2L, "the and fox"),                           // too few words
      (3L, ("4242 777 " * 40) + "the and fox"),      // digit-token flood
      (4L, ("ab " * 60) + "the and")                 // mwl below 3
    ).toDF("doc_id", "text")
    val r = operators.TextOps.gopherRules(docs)
      .collect().map(x => (x.getLong(0), x.getInt(3), x.getInt(4), x.getInt(5),
        x.getInt(6), x.getInt(7), x.getInt(8))).toSeq
    assert(r == Seq(
      (1L, 1, 1, 1, 1, 1, 1),
      (2L, 0, 1, 1, 1, 1, 0),
      (3L, 1, 1, 1, 1, 0, 0),
      (4L, 1, 0, 1, 1, 1, 0)))
  }

  test("splitHoldout: deterministic, id-stable under corpus growth, fractions in band") {
    import spark.implicits._
    val big = (1L to 400L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val r1 = operators.TextOps.splitHoldout(big, 0.5, 0.25, "cv0")
      .collect().map(x => (x.getLong(0), x.getString(1)))
    val r2 = operators.TextOps.splitHoldout(big, 0.5, 0.25, "cv0")
      .collect().map(x => (x.getLong(0), x.getString(1)))
    assert(r1.sameElements(r2))
    val byId = r1.toMap
    assert(byId.values.toSet.subsetOf(Set("train", "val", "test")))
    val nTrain = r1.count(_._2 == "train")
    assert(nTrain > 400 * 0.4 && nTrain < 400 * 0.6, s"train share off: $nTrain/400")
    // growth stability: the first 100 ids keep their split in the
    // 400-doc corpus (assignment is a pure function of the id)
    val small = operators.TextOps.splitHoldout(
      big.filter(col("doc_id") <= 100), 0.5, 0.25, "cv0")
      .collect().map(x => (x.getLong(0), x.getString(1)))
    assert(small.forall { case (id, s) => byId(id) == s })
  }

  test("bpeTrain: hand-computed merge sequence, greedy left-to-right, early stop") {
    import spark.implicits._
    val docs = Seq((1L, "aaab aaab ab")).toDF("doc_id", "text")
    val r = operators.TextOps.bpeTrain(docs, 10)
      .collect().map(x => (x.getLong(0), x.getString(1), x.getString(2),
        x.getString(3), x.getLong(4))).toSeq
    // iter1: (a,a) appears 2× in each "aaab" (freq 2) → 4; beats (a,b)=3
    //   merge → [aa, a, b] (greedy: third 'a' does NOT re-merge into aa)
    // iter2: (a,b)=2·1+1·1=3 beats (aa,a)=2 → [aa, ab] / [ab]
    // iter3: (aa,ab)=2 → [aaab]; iter4: no pairs left → early stop
    assert(r == Seq(
      (1L, "a", "a", "aa", 4L), (2L, "a", "b", "ab", 3L),
      (3L, "aa", "ab", "aaab", 2L)))
    // determinism across re-runs (argmax tie order is total)
    val again = operators.TextOps.bpeTrain(docs, 10)
      .collect().map(x => (x.getLong(0), x.getString(3))).toSeq
    assert(again == Seq((1L, "aa"), (2L, "ab"), (3L, "aaab")))
  }

  test("bpeEncode: trained merges applied greedily; wordless docs keep zeros") {
    import spark.implicits._
    val train = Seq((1L, "aaab aaab ab")).toDF("doc_id", "text")
    val merges = operators.TextOps.bpeTrain(train, 10) // (aa), (ab), (aaab)
    val docs = Seq(
      (1L, "aaab aaab ab"),  // each word fully merges → 1 token apiece
      (2L, "aaa ba"),        // greedy: [aa, a]; "ba" has no merge → [b, a]
      (3L, "xyz"),           // untouched by any merge → 3 symbols
      (4L, "!!! ...")        // no [a-z0-9]+ words at all → (0, 0)
    ).toDF("doc_id", "text")
    val r = operators.TextOps.bpeEncode(docs, merges)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    assert(r.toSeq == Seq(
      (1L, 3L, 3L), (2L, 2L, 4L), (3L, 1L, 3L), (4L, 0L, 0L)))
  }

  test("withGlobalNtile: exact vs local rank under chained calls AND checkpointed inputs") {
    // regression pin for the layout-pinning checkpoint in
    // prefixSums: before it, the offsets and running-sum
    // branches could re-execute the range exchange with different
    // sampled boundaries (exchange reuse is not guaranteed), making
    // _pid disagree between branches — 79/1500 wrong quintiles in the
    // original rfm chain, triggered specifically by checkpointed
    // inputs. Both the plain and the checkpointed chain must be exact.
    import operators.Windows.withGlobalNtile
    val per = Tables.orders(spark, sf).groupBy(col("o_custkey"))
      .agg(count(lit(1)).cast("long").as("f"))
    val n = per.count().toInt
    val exact = per.collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(x => (x._2, x._1)).zipWithIndex.map { case ((ck, _), i) =>
        val rn = i + 1L; val q = n / 5; val r = n % 5
        ck -> (if (q == 0) rn
               else if (rn <= r * (q + 1)) (rn + q) / (q + 1)
               else r + (rn - r * (q + 1) + q - 1) / q)
      }.toMap
    for (input <- Seq(per, per.localCheckpoint())) {
      val got = withGlobalNtile(
        withGlobalNtile(input, "x_q", 5, col("o_custkey")),
        "f_q", 5, col("f"), col("o_custkey"))
        .select(col("o_custkey"), col("f_q")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(exact.forall { case (ck, b) => got(ck) == b },
        s"ntile diverged from the exact rank on ${exact.count { case (ck, b) => got(ck) != b }}/$n rows")
    }
  }

  test("rfm: hand-built order log, metrics and quintiles exact, segments concatenate") {
    import spark.implicits._
    // 5 customers, strictly ordered on every metric → with buckets=5
    // each lands alone in its quintile; customer c gets r_q=6-c (most
    // recent last-order = smallest r_days = quintile 1)
    val rows = (1 to 5).flatMap { c =>
      (1 to c).map(i => (c * 100L + i, c.toLong, 100.0 * c,
        java.sql.Timestamp.valueOf(s"2024-01-${10 + c} 00:00:00")))
    }
    val orders = rows.toDF("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    val r = operators.Windows.rfm(orders)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getDouble(3), x.getLong(4), x.getLong(5), x.getLong(6), x.getString(7)))
    assert(r.length == 5)
    r.foreach { case (c, rd, f, m, rq, fq, mq, seg) =>
      assert(rd == 15 - (10 + c.toInt) && f == c && m == 100.0 * c * c)
      assert(rq == 6 - c && fq == c && mq == c, s"cust $c: ($rq, $fq, $mq)")
      assert(seg == s"$rq$fq$mq")
    }
  }

  test("validateContract: per-rule counts match a direct recomputation of the planting") {
    val r = SparkEntry.queries("q_validate_contract")(spark, sf)
      .collect().map(x => (x.getString(0), x.getLong(1))).toMap
    val o = Tables.orders(spark, sf)
    val nNull = o.filter(col("o_orderkey") % 97 === 0).count()
    val nOrphan = o.filter(col("o_orderkey") % 97 =!= 0 &&
      col("o_orderkey") % 79 === 0).count()
    val nNeg = o.filter(col("o_orderkey") % 89 === 0).count()
    val nBad = o.filter(col("o_orderkey") % 83 === 0).count()
    assert(r == Map("fk_orphan_custkey" -> nOrphan, "not_null_custkey" -> nNull,
      "nonnegative_totalprice" -> nNeg, "status_in_domain" -> nBad))
    assert(r.values.sum > 0, "planting must produce violations")
  }

  test("rrfFuse: hand-computed fusion, one-sided docs contribute one term, ties on id") {
    import spark.implicits._
    val lex = Seq((1L, 0.9), (2L, 0.5), (4L, 0.5)).toDF("doc_id", "score")
    val vec = Seq((2L, 0.99), (3L, 0.4)).toDF("vec_id", "sim")
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val r = operators.Similarity.rrfFuse(lex, vec, 60, 20)
      .collect().map(x => (x.getLong(0), Option(x.get(1)), Option(x.get(2)),
        x.getDouble(3))).toSeq
    // lex ranks: 1->1, 2->2 (tie 0.5: id 2 before 4), 4->3; vec: 2->1, 3->2
    assert(r == Seq(
      (2L, Some(2L), Some(1L), r6(1.0 / 62 + 1.0 / 61)),
      (1L, Some(1L), None, r6(1.0 / 61)),
      (3L, None, Some(2L), r6(1.0 / 62)),
      (4L, Some(3L), None, r6(1.0 / 63))))
  }

  test("ngramTopK: counts across docs, tie order on gram, k truncates") {
    import spark.implicits._
    val docs = Seq((1L, "a b a b"), (2L, "b a")).toDF("doc_id", "text")
    val r = operators.TextOps.ngramTopK(docs, 2, 30)
      .collect().map(x => (x.getString(0), x.getLong(1))).toSeq
    assert(r == Seq(("a b", 2L), ("b a", 2L)))
    val top1 = operators.TextOps.ngramTopK(docs, 2, 1)
      .collect().map(x => (x.getString(0), x.getLong(1))).toSeq
    assert(top1 == Seq(("a b", 2L)))
  }

  test("dsirScore: hand-computed two-model log-ratio, unseen target bigrams back off") {
    import spark.implicits._
    val docs = Seq((1L, "en", "a b a b"), (2L, "de", "a b c"), (3L, "en", "z"))
      .toDF("doc_id", "lang", "text")
    // corpus: c12c={(a,b)->3,(b,a)->1,(b,c)->1}, c1c={a->3,b->2}, Vc=3
    // target (en = doc 1): c12t={(a,b)->2,(b,a)->1}, c1t={a->2,b->1}, Vt=2
    def lt(c12: Double, c1: Double) = math.log((c12 + 0.4) / (c1 + 0.4 * 2))
    def lc(c12: Double, c1: Double) = math.log((c12 + 0.4) / (c1 + 0.4 * 3))
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val d1t = Seq(lt(2, 2), lt(2, 2), lt(1, 1)); val d1c = Seq(lc(3, 3), lc(3, 3), lc(1, 2))
    val d2t = Seq(lt(2, 2), lt(0, 1));           val d2c = Seq(lc(3, 3), lc(1, 2))
    def avg(xs: Seq[Double]) = xs.sum / xs.size
    val r = operators.TextOps.dsirScore(docs, col("lang") === "en")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2),
        x.getDouble(3), x.getDouble(4))).toSeq
    assert(r == Seq(
      (1L, 3L, r6(-avg(d1t)), r6(-avg(d1c)), r6(avg(d1t.zip(d1c).map { case (a, b) => a - b }))),
      (2L, 2L, r6(-avg(d2t)), r6(-avg(d2c)), r6(avg(d2t.zip(d2c).map { case (a, b) => a - b })))))
    // the en doc must score more target-like than the de doc
    assert(r(0)._5 > r(1)._5)
  }

  test("samplePerGroup: exactly k per stratum, deterministic, stable as other strata grow") {
    import spark.implicits._
    val docs = (1L to 100L).map(i => (i, "big", s"d$i")) ++
      (101L to 105L).map(i => (i, "small", s"d$i"))
    val df = docs.toDF("doc_id", "lang", "text")
    val r = operators.TextOps.samplePerGroup(df, "lang", 3, "ev0")
      .collect().map(x => (x.getLong(0), x.getString(1), x.getLong(2)))
    assert(r.count(_._2 == "big") == 3 && r.count(_._2 == "small") == 3)
    assert(r.forall(_._3 <= 3))
    // stability: the big stratum's picks don't change when small vanishes
    val alone = operators.TextOps.samplePerGroup(
      df.filter(col("lang") === "big"), "lang", 3, "ev0")
      .collect().map(x => (x.getLong(0), x.getString(1), x.getLong(2)))
    assert(alone.toSeq == r.filter(_._2 == "big").toSeq)
  }

  test("reservoirSample: the k digest-smallest docs, any-k prefix property, k > n returns all") {
    import spark.implicits._
    val df = (1L to 40L).map(i => (i, if (i % 2 == 0) "en" else "de", s"d$i"))
      .toDF("doc_id", "lang", "text")
    // independent replay of the digest order: java MessageDigest, not
    // the engine's sha2
    def key(id: Long): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.digest(s"$id:res1".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
    }
    val expect5 = (1L to 40L).sortBy(i => (key(i), i)).take(5).sorted
    val got5 = operators.TextOps.reservoirSample(df, 5, "res1")
      .collect().map(_.getLong(0)).toSeq
    assert(got5 == expect5, s"$got5 vs $expect5")
    // any-k consistency: the k=3 sample is a PREFIX of the k=5 sample
    val got3 = operators.TextOps.reservoirSample(df, 3, "res1")
      .collect().map(_.getLong(0)).toSet
    assert(got3.subsetOf(got5.toSet) && got3.size == 3)
    // k beyond the corpus returns everything, still deterministic
    assert(operators.TextOps.reservoirSample(df, 100, "res1").count() == 40)
    // the emitted sample_key IS the digest (auditable)
    val keys = operators.TextOps.reservoirSample(df, 5, "res1")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(keys.forall { case (id, k0) => k0 == key(id) })
  }

  test("perplexityBuckets: rank carve thirds, bucket order matches nll order, N=5 boundary") {
    import spark.implicits._
    // 5 docs: d1/d2 are pure repetition of the corpus-dominant bigram
    // (low nll), d5 is all corpus-rare bigrams (high nll)
    val docs = Seq(
      (1L, "en", "aa bb aa bb aa bb aa bb aa bb"),
      (2L, "en", "aa bb aa bb aa bb"),
      (3L, "en", "aa bb cc dd"),
      (4L, "en", "cc dd ee ff aa bb"),
      (5L, "en", "gg hh ii jj kk ll")).toDF("doc_id", "lang", "text")
    val r = operators.TextOps.perplexityBuckets(docs)
      .collect().map(x => (x.getLong(0), x.getDouble(2), x.getLong(3), x.getString(4)))
    assert(r.length == 5)
    // rn is the (nll, doc_id) rank — a permutation of 1..5
    assert(r.sortBy(x => (x._2, x._1)).map(_._3).toSeq == (1L to 5L))
    // hand math (α=0.4, V=11): nll d2 .4261 < d1 .4373 < d4 1.0712 <
    // d3 1.1345 < d5 1.3499 — d2 beats d1 because a LARGER fraction of
    // its bigrams is the corpus-dominant (aa,bb). N=5 carve: head =
    // rn*3<=5 -> {rank 1}, middle = {2,3}, tail = {4,5}
    val byBucket = r.groupBy(_._4).view.mapValues(_.map(_._1).toSet).toMap
    assert(byBucket == Map("head" -> Set(2L), "middle" -> Set(1L, 4L),
      "tail" -> Set(3L, 5L)), byBucket.toString)
    // bucket order respects the score order: max(head) <= min(middle) etc.
    def nlls(b: String) = r.filter(_._4 == b).map(_._2)
    assert(nlls("head").max <= nlls("middle").min &&
      nlls("middle").max <= nlls("tail").min)
    // the dominant-bigram doc sits at the cheap end, the rare-bigram
    // doc at the expensive end
    assert(r.find(_._1 == 2L).get._4 == "head" && r.find(_._1 == 5L).get._4 == "tail")
  }

  test("pcaTopComponent: planted dominant axis recovered, var share exact-ish, deterministic") {
    import spark.implicits._
    // rank-2 cloud in R4: x = s·w + t·z with w=(.5,.5,.5,.5),
    // z=(.5,-.5,.5,-.5) orthonormal; s has 25x the variance of t, so
    // the principal axis is ±w with var share ~ 25/26
    val w = Array(0.5, 0.5, 0.5, 0.5)
    val z = Array(0.5, -0.5, 0.5, -0.5)
    val rows = (0 until 200).map { k =>
      val s = (k % 20 - 9.5) / 2.0      // var 33.25/4
      val t = (k / 20 - 4.5) / 10.0     // var ~0.0825
      (k.toLong, w.indices.map(i => (s * w(i) + t * z(i)).toFloat).toArray, "a")
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val r = operators.Similarity.pcaTopComponent(df, iters = 30)
      .collect().map(x => (x.getLong(0), x.getDouble(1), x.getDouble(2), x.getDouble(3)))
    assert(r.length == 4)
    // loadings align with ±w (all four equal up to quantization/sign)
    val loads = r.map(_._2)
    assert(loads.map(math.abs).forall(l => math.abs(l - 0.5) < 1e-3),
      s"loadings not ±w: ${loads.toSeq}")
    assert(loads.map(math.signum).distinct.length == 1, s"mixed signs: ${loads.toSeq}")
    // eigenvalue ≈ var(s) (projection onto unit w), share ≈ vs/(vs+vt)
    val vs = rows.map(x => (x._1 % 20 - 9.5) / 2.0).map(v => v * v).sum / 199.0
    val vt = (0 until 200).map(k => (k / 20 - 4.5) / 10.0).map(v => v * v).sum / 199.0
    assert(math.abs(r.head._3 - vs) < 1e-2, s"eigenvalue ${r.head._3} vs $vs")
    assert(math.abs(r.head._4 - vs / (vs + vt)) < 1e-2,
      s"share ${r.head._4} vs ${vs / (vs + vt)}")
    // bit-determinism: a second run renders identical digits
    val r2 = operators.Similarity.pcaTopComponent(df, iters = 30)
      .collect().map(x => (x.getLong(0), x.getDouble(1), x.getDouble(2), x.getDouble(3)))
    assert(r2.toSeq == r.toSeq)
  }

  test("abTest: hand-computed Welch t, Satterthwaite df, two-proportion z, degenerate pool NULLs") {
    import spark.implicits._
    // one event per user: arm 0 (even ids) values {1,2,3,4} with one
    // converter; arm 1 (odd ids) values {3,4,5,6} with three.
    // Hand math: means 2.5/4.5, var 5/3 each -> t = 2/sqrt(5/6) =
    // 2.1909, df = 6 exactly; p 0.25/0.75, pooled 0.5 -> z = 1.4142
    val ev = Seq(
      (0L, "purchase", 1.0), (2L, "view", 2.0), (4L, "view", 3.0), (6L, "view", 4.0),
      (1L, "purchase", 3.0), (3L, "purchase", 4.0), (5L, "purchase", 5.0), (7L, "view", 6.0)
    ).zipWithIndex.map { case ((u, t, v), i) => (i.toLong, u, t, v) }
      .toDF("event_id", "user_id", "event_type", "value")
    val r = operators.Aggregations.abTest(ev, col("user_id") % 2,
      col("event_type") === "purchase").collect()
    assert(r.length == 1)
    val x = r.head
    assert((x.getLong(0), x.getLong(1)) == ((4L, 4L)))
    assert((x.getDouble(2), x.getDouble(3)) == ((0.25, 0.75)))
    assert(x.getDouble(4) == 1.4142 && x.getLong(5) == 0L) // z below 1.96
    assert((x.getDouble(6), x.getDouble(7)) == ((2.5, 4.5)))
    assert(x.getDouble(8) == 2.1909 && x.getDouble(9) == 6.0 && x.getLong(10) == 1L)
    // degenerate pool: every user converts -> z NULL, flag 0, t intact
    val all = operators.Aggregations.abTest(ev, col("user_id") % 2, lit(true))
      .collect().head
    assert(all.isNullAt(4) && all.getLong(5) == 0L && all.getDouble(8) == 2.1909)
  }

  test("gapIslands: streaks split on gaps, duplicate-day events collapse, users independent") {
    import spark.implicits._
    val e = Seq(
      (1L, 1L, "2024-01-01 03:00:00"), (1L, 2L, "2024-01-01 21:00:00"), // same day twice
      (1L, 3L, "2024-01-02 12:00:00"), (1L, 4L, "2024-01-03 00:00:01"), // 3-day streak
      (1L, 5L, "2024-01-05 10:00:00"),                                  // gap → new island
      (2L, 6L, "2024-01-02 09:00:00"), (2L, 7L, "2024-01-04 09:00:00")) // two 1-day islands
      .toDF("user_id", "event_id", "day")
      .withColumn("ts", to_timestamp(col("day")))
    val r = operators.Windows.gapIslands(e)
      .collect().map(x => (x.getLong(0), x.getString(1), x.getString(2), x.getLong(3))).toSeq
    assert(r == Seq(
      (1L, "2024-01-01", "2024-01-03", 3L), (1L, "2024-01-05", "2024-01-05", 1L),
      (2L, "2024-01-02", "2024-01-02", 1L), (2L, "2024-01-04", "2024-01-04", 1L)))
  }

  test("attribution: strictly-preceding touches, first vs last, tie on event_id, unattributed stays") {
    import spark.implicits._
    def ev(rows: (Long, Long, Long, String)*) =
      rows.toDF("user_id", "event_id", "us", "event_type")
        .withColumn("ts", expr("timestamp_micros(us)"))
    val e = ev(
      (1L, 1L, 10L, "view"), (1L, 2L, 20L, "click"), (1L, 3L, 30L, "purchase"),
      (1L, 4L, 40L, "view"), (1L, 5L, 50L, "purchase"),   // second conversion sees view 4 last
      (2L, 6L, 10L, "purchase"), (2L, 7L, 20L, "view"),   // later touch must NOT attribute
      (3L, 8L, 10L, "view"), (3L, 9L, 10L, "purchase"))   // same us: id order ⇒ view precedes
    val r = operators.Windows.attribution(e, Seq("view", "click"), "purchase")
      .collect().map(x => (x.getLong(0), Option(x.get(2)), Option(x.get(4)),
        Option(x.getString(5)))).toSeq
    assert(r == Seq(
      (3L, Some(1L), Some(2L), Some("click")),
      (5L, Some(1L), Some(4L), Some("view")),
      (6L, None, None, None),
      (9L, Some(8L), Some(8L), Some("view"))))
  }

  test("triangleStats: known census, direction/duplicates/hubs don't change it") {
    import spark.implicits._
    // K4 minus edge 34 on {1..4} (edges fed directed+duplicated) plus
    // node 9 on {1,2,5}: closes triangle {129}; spoke 59 wedges only
    val edges = Seq(
      (1L, 2L), (2L, 1L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L), (1L, 2L),
      (9L, 1L), (9L, 2L), (9L, 5L), (5L, 9L))
      .toDF("src", "dst")
    val r = operators.Graph.triangleStats(edges).head()
    // und edges: 12,13,23,14,24,19,29,59 → 8; triangles {123},{124},{129};
    // degrees: 1→4 2→4 3→2 4→2 9→3 5→1 ⇒ wedges 6+6+1+1+3+0 = 17
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (8L, 17L, 3L))
    assert(r.getDouble(3) == BigDecimal(3.0 * 3 / 17)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // triangle-free star: zero triangles, cc 0
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val s = operators.Graph.triangleStats(star).head()
    assert((s.getLong(2), s.getDouble(3)) == (0L, 0.0))
  }

  test("climatologyAnomaly: per-cell-month mean over years, anomaly symmetric") {
    import spark.implicits._
    // ids 0 and 2880 land on the SAME cell (2880 ≡ 0 mod 360 and
    // 2880·7 ≡ 0 mod 576); both January but different years → one
    // climatology group: mean 15, anomalies ±5. id 1 is a different
    // cell, single observation → anomaly 0. Nulls are dropped.
    val ev = Seq(
      (0L, "2023-01-15", Some(10.0)),
      (2880L, "2024-01-20", Some(20.0)),
      (1L, "2023-01-10", Some(7.5)),
      (2L, "2023-02-01", None))
      .toDF("event_id", "d", "value")
      .select(col("event_id"), to_timestamp(col("d")).as("ts"),
        col("value").cast("double"))
    val r = operators.Climate.climatologyAnomaly(ev)
      .collect().map(x => (x.getLong(0), x.getInt(3), x.getDouble(5), x.getDouble(6)))
    assert(r.toSeq == Seq(
      (0L, 1, 15.0, -5.0), (1L, 1, 7.5, 0.0), (2880L, 1, 15.0, 5.0)))
  }

  test("gridCoarsen: 2×2 cell blocks aggregate, block index exact") {
    import spark.implicits._
    // id 0 → cell (-90, -180) → block (0,0); id 2880 → same block;
    // id 1 → (-89.5, -175.625) → block (0, 3)
    val ev = Seq(
      (0L, "2023-01-15", Some(1.0)), (2880L, "2023-06-01", Some(3.0)),
      (1L, "2023-01-10", Some(5.0)), (2L, "2023-02-01", None))
      .toDF("event_id", "d", "value")
      .select(col("event_id"), to_timestamp(col("d")).as("ts"),
        col("value").cast("double"))
    val r = operators.Climate.gridCoarsen(ev)
      .collect().map(x => (x.getInt(0), x.getInt(1), x.getLong(2),
        x.getDouble(3), x.getDouble(4), x.getDouble(5)))
    assert(r.toSeq == Seq((0, 0, 2L, 2.0, 1.0, 3.0), (0, 3, 1L, 5.0, 5.0, 5.0)))
  }

  test("interpolateGaps: interior gaps blend by time, edges back/forward-fill") {
    import spark.implicits._
    val ev = Seq(
      (0L, "2023-01-01", None), (1L, "2023-01-02", Some(10.0)),
      (2L, "2023-01-03", None), (3L, "2023-01-04", None),
      (4L, "2023-01-05", Some(40.0)), (5L, "2023-01-06", None))
      .toDF("event_id", "d", "value")
      .select(col("event_id"), to_timestamp(col("d")).as("ts"),
        col("value").cast("double"))
    val r = operators.Climate.interpolateGaps(ev, lit(0))
      .collect().map(x => (x.getLong(0), x.getDouble(2), x.getString(3)))
    assert(r.toSeq == Seq(
      (0L, 10.0, "bfill"), (1L, 10.0, "obs"), (2L, 20.0, "interp"),
      (3L, 30.0, "interp"), (4L, 40.0, "obs"), (5L, 40.0, "ffill")))
    // an all-null series stays null and is labeled none
    val dead = Seq((9L, "2023-01-01", Option.empty[Double]))
      .toDF("event_id", "d", "value")
      .select(col("event_id"), to_timestamp(col("d")).as("ts"),
        col("value").cast("double"))
    val n = operators.Climate.interpolateGaps(dead, lit(0)).head()
    assert(n.isNullAt(2) && n.getString(3) == "none")
    // duplicate-timestamp bracket: prev and next non-null neighbors
    // share one ts, the slope is undefined — the blend must pin to pv
    // (not NULL via non-ANSI division, not NaN as IEEE engines yield)
    val dup = Seq(
      (0L, "2023-01-01", Some(2.0)), (1L, "2023-01-01", None),
      (2L, "2023-01-01", Some(8.0)))
      .toDF("event_id", "d", "value")
      .select(col("event_id"), to_timestamp(col("d")).as("ts"),
        col("value").cast("double"))
    val dr = operators.Climate.interpolateGaps(dup, lit(0))
      .collect().map(x => (x.getLong(0), x.getDouble(2), x.getString(3)))
    assert(dr.toSeq == Seq((0L, 2.0, "obs"), (1L, 2.0, "interp"),
      (2L, 8.0, "obs")))
  }

  test("edgeJaccard: triangle + pendant, direction/duplicates ignored") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (1L, 3L), (3L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val r = operators.Graph.edgeJaccard(edges)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getDouble(3)))
    // degrees: 1→2 2→2 3→3 4→1; common neighbors: (1,2)→{3}, (1,3)→{2},
    // (2,3)→{1}, (3,4)→∅; jaccard = common / (da + db - common)
    assert(r.toSeq == Seq(
      (1L, 2L, 1L, 0.333333), (1L, 3L, 1L, 0.25),
      (2L, 3L, 1L, 0.25), (3L, 4L, 0L, 0.0)))
  }

  test("associationRules: support/confidence/lift on known baskets") {
    import spark.implicits._
    // baskets: {10,20,30}, {10,20}, {10}; only (10,20) meets support 2;
    // line-level duplicates of the same (order, part) must not inflate
    val li = Seq((1L, 10L), (1L, 10L), (1L, 20L), (1L, 30L),
      (2L, 10L), (2L, 20L), (3L, 10L))
      .toDF("l_orderkey", "l_partkey")
    val r = operators.Graph.associationRules(li)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getDouble(3), x.getDouble(4), x.getDouble(5)))
    // conf(10→20) = 2/3, conf(20→10) = 1, lift = 2·3/(3·2) = 1
    assert(r.toSeq == Seq((10L, 20L, 2L, 0.666667, 1.0, 1.0)))
  }

  test("groupZscore: z, outlier flag, and winsorized clamp per group") {
    import spark.implicits._
    val df = (1 to 9).map(i => (i.toLong, "b", 0.0)) :+ ((10L, "b", 10.0))
    val r = operators.Windows.groupZscore(df.toDF("id", "grp", "v"),
      col("id"), col("grp"), col("v"))
      .collect().map(x => (x.getLong(0), x.getDouble(2), x.getBoolean(3),
        x.getDouble(4)))
    // mean 1, sd sqrt(10): z(0) = −0.3162 (clamped to 0.0 floor is
    // −5.32 < 0 so winsorized stays 0); z(10) = 2.846 > 2 → outlier,
    // clamped to 1 + 2√10 = 7.32
    assert(r.take(9).forall { case (_, z, o, w) => z == -0.3162 && !o && w == 0.0 })
    assert(r.last == ((10L, 2.846, true, 7.32)))
  }

  test("areaWeightedDaily: cos(lat) weighting discounts poleward cells") {
    import spark.implicits._
    // id 180 → lat 0 (weight 1), id 300 → lat 60 (weight 0.5):
    // weighted = (10·1 + 40·0.5)/1.5 = 20, naive = 25
    val ev = Seq((180L, "2023-01-15", 10.0), (300L, "2023-01-15", 40.0))
      .toDF("event_id", "d", "value")
      .select(col("event_id"), to_timestamp(col("d")).as("ts"),
        col("value").cast("double"))
    val r = operators.Climate.areaWeightedDaily(ev).head()
    assert((r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3)) == (2023, 1, 15, 2L))
    assert(r.getDouble(4) == 20.0 && r.getDouble(5) == 25.0)
  }

  test("resampleDaily: missing days materialize with n_obs 0 and forward-fill") {
    import spark.implicits._
    val ev = Seq((1L, "2023-01-01", Some(10.0)), (2L, "2023-01-03", Some(30.0)),
      (3L, "2023-01-03", Some(50.0)))
      .toDF("event_id", "d", "value")
      .select(col("event_id"), to_timestamp(col("d")).as("ts"),
        col("value").cast("double"))
    val r = operators.Climate.resampleDaily(ev, lit(0))
      .collect().map(x => (x.getInt(3), x.getLong(4),
        Option(x.get(5)).map(_.asInstanceOf[Double]),
        Option(x.get(6)).map(_.asInstanceOf[Double])))
    // day 2 is manufactured: no obs, null mean, forward-filled 10
    assert(r.toSeq == Seq(
      (1, 1L, Some(10.0), Some(10.0)),
      (2, 0L, None, Some(10.0)),
      (3, 2L, Some(40.0), Some(40.0))))
  }

  test("resampleDaily: a series spanning beyond maxSpineDays fails loudly") {
    import spark.implicits._
    // one adversarial series straddling five centuries would quietly
    // fan ~180k spine rows; the span pre-flight names the series and
    // the limit instead (healthy series on the default bound pass)
    val ev = Seq((1L, "1500-01-01", Some(1.0)), (2L, "2023-01-01", Some(2.0)))
      .toDF("event_id", "d", "value")
      .select(col("event_id"), to_timestamp(col("d")).as("ts"),
        col("value").cast("double"))
    val e = intercept[Exception] {
      operators.Climate.resampleDaily(ev, lit(7), maxSpineDays = 1000).collect()
    }
    def msg(t: Throwable): Boolean = t != null &&
      (Option(t.getMessage).exists(m => m.contains("maxSpineDays=1000")
        && m.contains("series 7")) || msg(t.getCause))
    assert(msg(e), s"expected the span pre-flight error naming series 7, got: $e")
    // the same input passes when the caller raises the bound explicitly
    val wide = operators.Climate.resampleDaily(ev, lit(7),
      maxSpineDays = 200000)
    assert(wide.filter(col("n_obs") > 0).count() == 2)
  }

  test("ewma: renormalized lag-chain matches hand-computed values") {
    import spark.implicits._
    val ev = Seq((1L, 0L, "2023-01-01", 10.0), (2L, 0L, "2023-01-02", 20.0),
      (3L, 0L, "2023-01-03", 30.0))
      .toDF("event_id", "user_id", "d", "value")
      .select(col("event_id"), col("user_id"), to_timestamp(col("d")).as("ts"),
        col("value").cast("double"))
    val r = operators.Windows.ewma(ev, col("event_id"), col("user_id"),
      col("ts"), col("value"))
      .collect().map(x => (x.getLong(0), x.getDouble(2)))
    // y1 = 10; y2 = (20 + 0.75·10)/1.75 = 15.7143;
    // y3 = (30 + 0.75·20 + 0.5625·10)/2.3125 = 21.8919
    assert(r.toSeq == Seq((1L, 10.0), (2L, 15.7143), (3L, 21.8919)))
  }

  test("nearestStation: great-circle assignment, equidistant tie breaks on id") {
    import spark.implicits._
    val cells = Seq((0.0, 0.0), (50.0, 0.0)).toDF("lat", "lon")
    val st = Seq((1L, 0.0, 10.0), (2L, 0.0, -10.0), (3L, 60.0, 0.0))
      .toDF("station_id", "slat", "slon")
    val r = operators.Climate.nearestStation(cells, st)
      .collect().map(x => (x.getDouble(0), x.getLong(2), x.getDouble(3)))
    // (0,0) is EXACTLY 10° from stations 1 and 2 → id tie-break → 1;
    // 10° of arc = 2·6371·radians(10)/2 = 1111.9493 km on both axes
    assert(r.toSeq == Seq((0.0, 1L, 1111.9493), (50.0, 3L, 1111.9493)))
  }

  test("groupMoments: symmetric group has zero skew; spike shows positive skew") {
    import spark.implicits._
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("b", 0.0), ("b", 0.0), ("b", 0.0), ("b", 4.0)).toDF("g", "v")
    val r = operators.Aggregations.groupMoments(df, col("g"), col("v"))
      .collect().map(x => (x.getString(0), x.getLong(1), x.getDouble(2), x.getDouble(3)))
    // a: z = (−1,0,1) → skew 0, kurt 2/3 − 3 = −2.3333
    // b: sd = 2 (sample), z = (−.5,−.5,−.5,1.5) → skew .75, kurt −1.6875
    assert(r.toSeq == Seq(("a", 3L, 0.0, -2.3333), ("b", 4L, 0.75, -1.6875)))
  }

  test("curationComposite: dedup, gopher, entropy, and language gates compose") {
    import spark.implicits._
    val good = (1 to 10).map(_ =>
      "the quick brown fox and dog run to the park in a day it is fine").mkString(" ")
    val lowEntropy = Seq.fill(60)("the").mkString(" ") // gopher-clean, entropy ~1.4
    val docs = Seq(
      (1L, "s1", "en", good),
      (2L, "s1", "en", good),          // exact duplicate → canonical is 1
      (3L, "s1", "en", "too few words here"), // r_nwords = 0
      (4L, "s1", "en", lowEntropy))    // passes gopher, fails entropy gate
      .toDF("doc_id", "source", "lang", "text")
    val r = operators.TextOps.curationComposite(docs).collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(1L))
    assert(r.head.getString(2) == "en" && r.head.getLong(3) == 160L)
    // the low-entropy doc really did pass the gopher gates
    val g = operators.TextOps.gopherRules(docs.filter(col("doc_id") === 4))
    assert(g.head().getAs[Int]("keep") == 1)
  }

  test("embedQuantizeAudit: endpoint errors zero, midpoint error 1/255, constant dim exact") {
    import spark.implicits._
    val emb = Seq((1L, Array(0.0f, 10.0f)), (2L, Array(1.0f, 10.0f)),
      (3L, Array(2.0f, 10.0f))).toDF("vec_id", "embedding")
    val r = operators.Similarity.embedQuantizeAudit(emb)
      .collect().map(x => (x.getInt(0), x.getDouble(1), x.getDouble(2),
        x.getDouble(3), x.getDouble(4)))
    // dim 1: range [0,2], endpoints reconstruct exactly, the midpoint
    // lands on code 128 → error 1/255 = 0.00392157, mean 1/765
    // dim 2: constant → hi = lo → dequant is exact
    assert(r.toSeq == Seq(
      (1, 0.0, 2.0, 0.00130719, 0.00392157),
      (2, 10.0, 10.0, 0.0, 0.0)))
  }

  test("CharEntropy native expression is bit-identical to the HOF reference") {
    import spark.implicits._
    // adversarial shapes: constant char, ASCII text, digits+symbols,
    // BMP unicode (umlauts/CJK), single char, long mixed runs, and
    // non-BMP astral characters (emoji, mathematical alphanumerics) —
    // surrogate pairs must count as ONE code point, matching both the
    // regex split (code-point aware) and the DuckDB oracle
    val texts = Seq(
      "aaaaaaaaaa", "the quick brown fox jumps over the lazy dog",
      "a1b2c3!!##  \t tabs and  spaces", "müller straße 北京 東京 ümlaut",
      "z", "abc" * 100 + "xyz" * 7 + " " * 13,
      "🎉🎉🎉 party 🚀 emoji", "𝒜𝒷𝒸 𝄞 mixed 𝕏𝕐ℤ astral", "🚀")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val both = df.select(col("doc_id"),
      operators.TextOps.entropyOf(
        array_remove(split(col("text"), ""), "")).as("hof"),
      expr("text").as("t"))
    val native = operators.TextOps.textEntropy(df)
    val hof = both.select(col("doc_id"), round(col("hof"), 6).as("e"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    native.collect().foreach { r =>
      assert(r.getDouble(1) == hof(r.getLong(0)),
        s"doc ${r.getLong(0)}: native ${r.getDouble(1)} != hof ${hof(r.getLong(0))}")
    }
    // and the exact-value anchor: uniform 4-char text → ln(4)
    val u = operators.TextOps.textEntropy(Seq((9L, "abcd")).toDF("doc_id", "text"))
      .head().getDouble(1)
    assert(u == BigDecimal(math.log(4.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("weightedMedian: weight mass moves the median where row count would not") {
    import spark.implicits._
    // values 1,2,3 with weights 1,1,10: plain median is 2, but 10 of
    // the 12 units of mass sit at 3 → weighted median 3
    val df = Seq(("g", 1.0, 1.0, 1L), ("g", 2.0, 1.0, 2L), ("g", 3.0, 10.0, 3L))
      .toDF("grp", "v", "wt", "id")
    val r = operators.Aggregations.weightedMedian(df, col("grp"), col("v"),
      col("wt"), Seq(col("id"))).head()
    assert(r.getString(0) == "g" && r.getDouble(1) == 3.0)
    // symmetric mass → the boundary value at half weight
    val e = Seq(("h", 1.0, 2.0, 1L), ("h", 5.0, 2.0, 2L))
      .toDF("grp", "v", "wt", "id")
    assert(operators.Aggregations.weightedMedian(e, col("grp"), col("v"),
      col("wt"), Seq(col("id"))).head().getDouble(1) == 1.0)
  }

  test("weightedMedian: a fractional weight fails the query, naming the column") {
    import spark.implicits._
    val df = Seq(("g", 1.0, 1.0, 1L), ("g", 2.0, 2.5, 2L)).toDF("grp", "v", "wt", "id")
    val e = intercept[Exception] {
      operators.Aggregations.weightedMedian(df, col("grp"), col("v"),
        col("wt"), Seq(col("id"))).collect()
    }
    assert(e.getMessage.contains("weight wt must be integer-valued"), e.getMessage)
  }

  test("groupGini: zero for equal mass, (n-1)/n for fully concentrated") {
    import spark.implicits._
    val df = Seq(("eq", 10.0, 1L), ("eq", 10.0, 2L), ("eq", 10.0, 3L), ("eq", 10.0, 4L),
      ("cc", 0.0, 1L), ("cc", 0.0, 2L), ("cc", 0.0, 3L), ("cc", 12.0, 4L))
      .toDF("grp", "v", "id")
    val r = operators.Aggregations.groupGini(df, col("grp"), col("v"), Seq(col("id")))
      .collect().map(x => (x.getString(0), x.getDouble(2))).toMap
    assert(r("eq") == 0.0 && r("cc") == 0.75)
  }

  test("ratioToReport: shares sum to one within each group") {
    import spark.implicits._
    val df = Seq((1L, "a", 10.0), (2L, "a", 30.0), (3L, "b", 5.0))
      .toDF("id", "g", "v")
    val r = operators.Windows.ratioToReport(df, col("id"), col("g"), col("v"))
      .collect().map(x => (x.getLong(0), x.getDouble(2)))
    assert(r.toSeq == Seq((1L, 0.25), (2L, 0.75), (3L, 1.0)))
  }

  test("ratioToReport: a zero-sum group fails loudly, naming the group") {
    import spark.implicits._
    // +5 and -5 sum to exactly 0.0: the share is undefined and the
    // contract raises in-plan (engine-dependent ±Inf/NaN would
    // otherwise leak); healthy sibling groups don't mask the failure
    val df = Seq((1L, "z", 5.0), (2L, "z", -5.0), (3L, "ok", 7.0))
      .toDF("id", "g", "v")
    val e = intercept[Exception] {
      operators.Windows.ratioToReport(df, col("id"), col("g"), col("v"))
        .collect()
    }
    def msg(t: Throwable): Boolean = t != null &&
      (Option(t.getMessage).exists(m => m.contains("sums to exactly 0.0")
        && m.contains("group z")) || msg(t.getCause))
    assert(msg(e), s"expected the zero-sum-group error naming 'z', got: $e")
  }

  test("payloadDedupStats: storage math on planted duplicate payloads") {
    import spark.implicits._
    // "xx" twice + "yyyy" once: 3 payloads, 2 distinct, dup rate 1/3,
    // raw bytes 2+2+4 = 8, content-addressed 2+4 = 6
    val docs = Seq((1L, "xx"), (2L, "xx"), (3L, "yyyy")).toDF("doc_id", "text")
    val r = operators.Multimodal.payloadDedupStats(docs).head()
    assert((r.getString(0), r.getLong(1), r.getLong(2)) == ("text/plain", 3L, 2L))
    assert(r.getDouble(3) == 0.333333 && r.getLong(4) == 8L && r.getLong(5) == 6L)
  }

  test("cellTrend: closed-form slope on a planted linear series") {
    import spark.implicits._
    // one cell (event_id % 2880 constant) with value = 3x + 7 over
    // 4 days → slope exactly 3, intercept exactly 7; a second cell
    // with all obs on ONE day → zero x-variance → NULL slope
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(days: Int) = new java.sql.Timestamp(ts0.getTime + days * 86400000L)
    val rows = (0 to 3).map(i => (0L, t(i), 7.0 + 3.0 * i)) ++
      Seq((1L, t(2), 5.0), (1L, t(2), 9.0))
    val ev = rows.toDF("event_id", "ts", "value")
    val r = operators.Climate.cellTrend(ev).collect()
    val byCell = r.map(x => (x.getDouble(0), x)).toMap
    val linear = byCell((0L % 360) * 0.5 - 90.0)
    assert(linear.getDouble(3) == 3.0 && linear.getDouble(4) == 7.0)
    val flat = byCell((1L % 360) * 0.5 - 90.0)
    assert(flat.isNullAt(3) && flat.isNullAt(4) &&
      flat.getDouble(5) == 7.0) // mean still defined
  }

  test("degreeDays: clamp accumulates the right side of the base") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-01-15 12:00:00")
    // values 240 / 260 around base 250: HDD = 10 + 0, CDD = 0 + 10
    val ev = Seq((0L, ts, 240.0), (0L, ts, 260.0)).toDF("event_id", "ts", "value")
    val r = operators.Climate.degreeDays(ev, 250.0).head()
    assert(r.getLong(4) == 2L && r.getDouble(5) == 10.0 && r.getDouble(6) == 10.0)
  }

  test("heatwaveRuns: planted runs split on the cold day") {
    import spark.implicits._
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(days: Int) = new java.sql.Timestamp(ts0.getTime + days * 86400000L)
    // days 1,2,3 hot; day 4 cold (max 390 <= 400); day 5 hot again —
    // two runs (3-day, 1-day); day 4 carries TWO obs so the daily MAX
    // (not any single reading) decides hotness
    val ev = Seq(
      (0L, t(1), 450.0), (0L, t(2), 460.0), (0L, t(3), 455.0),
      (0L, t(4), 390.0), (0L, t(4), 100.0),
      (0L, t(5), 480.0)
    ).toDF("event_id", "ts", "value")
    val r = operators.Climate.heatwaveRuns(ev, 400.0).head()
    assert(r.getLong(1) == 2L && r.getLong(2) == 3L && r.getLong(3) == 4L)
  }

  test("chunkDocuments: full coverage, overlap, and final short chunk") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a" * 48),   // < size → exactly one (short) chunk
      (2L, "b" * 200),  // == size → one full chunk
      (3L, "c" * 201),  // size+1 → 2 chunks, second of length 51
      (4L, "d" * 500)   // 1 + ceil(300/150) = 3 chunks
    ).toDF("doc_id", "text")
    val r = operators.TextOps.chunkDocuments(docs, size = 200, stride = 150)
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getLong(2)))
    val byDoc = r.groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    assert(byDoc(1L).map(_._3).toSeq == Seq(48L))
    assert(byDoc(2L).map(_._3).toSeq == Seq(200L))
    assert(byDoc(3L).map(_._3).toSeq == Seq(200L, 51L))
    assert(byDoc(4L).map(_._3).toSeq == Seq(200L, 200L, 200L))
    // coverage: last chunk's start + its length reaches the text end
    byDoc.foreach { case (id, cs) =>
      val L = Map(1L -> 48, 2L -> 200, 3L -> 201, 4L -> 500)(id)
      val (_, lastIdx, lastLen) = cs.last
      assert(lastIdx * 150 + lastLen == L, s"doc $id uncovered tail")
    }
    // stride < size ⇒ consecutive chunks overlap by size − stride
    assert(operators.TextOps.chunkDocuments(docs, 200, 150)
      .count() == r.length)
    intercept[IllegalArgumentException] {
      operators.TextOps.chunkDocuments(docs, 100, 200) // stride > size
    }
  }

  test("asof nearest: picks the closer side, ties to the earlier view") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def t(sec: Int) = new java.sql.Timestamp(base + sec * 1000L)
    // user 1: views at 0 s and 10 s, purchase at 6 s → forward (10 s,
    // Δ=+4 s) beats backward (0 s, Δ=−6 s). user 2: views at 0 and
    // 8 s, purchase at 4 s → exact tie → earlier (0 s). user 3:
    // purchase with no views → NULL match.
    val ev = Seq(
      (10L, 1L, "view", t(0)), (11L, 1L, "view", t(10)),
      (12L, 1L, "purchase", t(6)),
      (20L, 2L, "view", t(0)), (21L, 2L, "view", t(8)),
      (22L, 2L, "purchase", t(4)),
      (30L, 3L, "purchase", t(5))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val r = operators.Joins.asofNearest(ev).collect()
      .map(x => (x.getLong(0), Option(x.get(2)), if (x.isNullAt(3)) None else Some(x.getLong(3))))
    assert(r.toSeq == Seq(
      (12L, Some(t(10)), Some(4000000L)),
      (22L, Some(t(0)), Some(-4000000L)),
      (30L, None, None)))
  }

  test("degreeDistribution: counts nodes per degree on a planted graph") {
    import spark.implicits._
    // path a-b-c plus isolated edge d-e: degrees b=2, a=c=d=e=1
    val und = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("a", "b")
    val r = operators.Graph.degreeDistribution(und).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSeq
    assert(r == Seq((1L, 4L), (2L, 1L)))
  }

  test("fuzzySelfJoin: finds planted near-duplicates, never cross-block or far pairs") {
    import spark.implicits._
    val df = Seq(
      (1L, "B1", 4, "goldenrod lavender spring"),
      (2L, "B1", 4, "goldenrod lavandar spring"),  // dist 2 from #1
      (3L, "B1", 4, "metallic midnight chiffon"),  // far from both
      (4L, "B2", 4, "goldenrod lavender spring"),  // identical text, other block
      (5L, "B1", 7, "goldenrod lavender spring")   // identical text, other size
    ).toDF("k", "brand", "size", "name")
    val r = operators.Joins.fuzzySelfJoin(df, col("k"),
        Seq(col("brand"), col("size")), col("name"), maxDist = 3)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
    assert(r == Seq((1L, 2L, 2L)))
  }

  test("rollingMedian: exact medians over the trailing frame, per series") {
    import spark.implicits._
    def t(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val ev = Seq(
      (1L, 1L, t(0), 10.0), (2L, 1L, t(1), 30.0), (3L, 1L, t(2), 20.0),
      (4L, 1L, t(3), 100.0), (5L, 2L, t(0), 7.0)
    ).toDF("event_id", "user_id", "ts", "value")
    val r = operators.Windows.rollingMedian(ev, col("event_id"),
        col("user_id"), col("ts"), col("value"), window = 3)
      .collect().map(x => (x.getLong(0), x.getDouble(2))).toSeq
    // series 1: [10], [10,30]→20, [10,30,20]→20, [30,20,100]→30
    assert(r == Seq((1L, 10.0), (2L, 20.0), (3L, 20.0), (4L, 30.0), (5L, 7.0)))
  }

  test("markovTransitions: per-source probabilities sum to 1, counts match pairs") {
    val r = SparkEntry.queries("q_event_markov")(spark, sf)
    val sums = r.groupBy(col("src")).agg(sum(col("p")).as("sp")).collect()
    sums.foreach(x => assert(math.abs(x.getDouble(1) - 1.0) < 1e-4,
      s"src ${x.get(0)}: probabilities sum to ${x.getDouble(1)}"))
    val totalPairs = r.agg(sum(col("n"))).head.getLong(0)
    val ev = Tables.events(spark, sf)
    val users = ev.groupBy("user_id").count()
    val expected = ev.count() - users.count() // n-1 consecutive pairs per user
    assert(totalPairs == expected)
  }

  test("decayedSum: closed-form weights at 0 and one half-life of age") {
    import spark.implicits._
    val df = Seq(
      (1L, java.sql.Date.valueOf("2024-03-01"), 100.0),  // ref date, w = 1
      (1L, java.sql.Date.valueOf("2024-01-31"), 100.0),  // 30 d old, w = 1/2
      (2L, java.sql.Date.valueOf("2024-03-01"), 40.0)
    ).toDF("e", "dt", "v")
    val r = operators.Aggregations.decayedSum(df, col("e"), col("dt"),
        col("v"), halfLifeDays = 30.0)
      .collect().map(x => (x.getLong(0), x.getDouble(2), x.getDouble(3))).toSeq
    assert(r == Seq((1L, 150.0, 1.5), (2L, 40.0, 1.0)))
  }

  test("timeWeightedAvg: ZOH weighting, NULL twa on degenerate series") {
    import spark.implicits._
    def t(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val ev = Seq(
      // series 1: 0.0 held 10 s, then 10.0 held 90 s, then a final
      // observation (no successor → excluded) — twa = 900/100 = 9.0
      (1L, t(0), 0.0, 1L), (2L, t(10), 10.0, 1L), (3L, t(100), 555.0, 1L),
      // series 2: single observation → zero total weight → NULL
      (4L, t(0), 42.0, 2L)
    ).toDF("event_id", "ts", "value", "sid")
    val r = operators.Climate.timeWeightedAvg(ev, col("sid")).collect()
      .map(x => (x.getLong(0), x.getLong(1),
        if (x.isNullAt(2)) None else Some(x.getDouble(2)), x.getDouble(3)))
      .toSeq
    assert(r == Seq((1L, 3L, Some(9.0), 188.3333), (2L, 1L, None, 42.0)))
  }

  test("coalesceIntervals: overlap merges, touch merges, gap splits, coverage exact") {
    import spark.implicits._
    val iv = Seq(
      // user 1: [0,10) + [5,20) overlap → [0,20); [20,30) touches →
      // still [0,30); [40,50) gaps → new span
      (1L, 0L, 10L), (1L, 5L, 20L), (1L, 20L, 30L), (1L, 40L, 50L),
      // user 2: containment — [0,100) swallows [10,20)
      (2L, 0L, 100L), (2L, 10L, 20L)
    ).toDF("u", "s", "e")
    val r = operators.Windows.coalesceIntervals(iv, col("u"), col("s"), col("e"))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getLong(3), x.getLong(4), x.getLong(5))).toSeq
    assert(r == Seq(
      (1L, 1L, 0L, 30L, 30L, 3L), (1L, 2L, 40L, 50L, 10L, 1L),
      (2L, 1L, 0L, 100L, 100L, 2L)))
  }

  test("rollingActiveUsers: DAU and trailing-window distinct counts on planted days") {
    import spark.implicits._
    def t(day: Int) = new java.sql.Timestamp(
      java.sql.Date.valueOf(f"2024-01-${day}%02d").getTime + 3600000L)
    // day 1: users {1,2}; day 2: {2}; day 9: {3} (outside day 2's
    // 7-day trail) → rolling_7 at d1=2, d2=2 (u1 from d1 + u2), d9=1
    val ev = Seq((1L, t(1)), (2L, t(1)), (2L, t(2)), (3L, t(9)))
      .toDF("user_id", "ts")
    val r = operators.Aggregations.rollingActiveUsers(ev).collect()
      .map(x => (x.getDate(0).toString, x.getLong(1), x.getLong(2))).toSeq
    assert(r == Seq(("2024-01-01", 2L, 2L), ("2024-01-02", 1L, 2L),
      ("2024-01-09", 1L, 1L)))
  }

  test("asof tolerance: in-window view matches, stale view NULLs, no view NULLs") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def t(sec: Int) = new java.sql.Timestamp(base + sec * 1000L)
    val ev = Seq(
      (10L, 1L, "view", t(0)), (11L, 1L, "purchase", t(300)),   // 5 min → match
      (20L, 2L, "view", t(0)), (21L, 2L, "purchase", t(1200)),  // 20 min → stale
      (30L, 3L, "purchase", t(5))                               // no view
    ).toDF("event_id", "user_id", "event_type", "ts")
    val got = operators.Joins.asofTolerance(ev, 600000000L)
      .collect().map(x => (x.getLong(0), Option(x.get(2)),
        if (x.isNullAt(3)) None else Some(x.getLong(3)))).toSeq
    assert(got == Seq(
      (11L, Some(t(0)), Some(300000000L)),
      (21L, None, None), (30L, None, None)))
  }

  test("intervalOverlapJoin: multi-bucket spans counted once, touch excluded, same key excluded") {
    import spark.implicits._
    val iv = Seq(
      // A1 [0, 2500) spans buckets 0,1,2 (W=1000); B1 [1500, 1800)
      // overlaps inside bucket 1 → exactly one pair, overlap 300
      (1L, 1L, 0L, 2500L), (2L, 1L, 1500L, 1800L),
      // C1 touches A1's end exactly → strict [s,e): no match
      (3L, 1L, 2500L, 3000L),
      // same key as A1, overlapping → excluded (key_a < key_b)
      (1L, 2L, 100L, 200L)
    ).toDF("u", "sid", "s", "e")
    val r = operators.Joins.intervalOverlapJoin(iv, col("u"), col("sid"),
        col("s"), col("e"), bucketUs = 1000L)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getLong(3), x.getLong(4))).toSeq
    assert(r == Seq((1L, 1L, 2L, 1L, 300L)))
  }

  test("intervalOverlapJoin: a span wider than the fan-out bound fails LOUDLY, named") {
    import spark.implicits._
    // one year-long "session" at an hourly bucket = an 8,761-way
    // explode — the guard must name the interval, not silently fan out
    val hourUs = 3600L * 1000000
    val iv = Seq(
      (1L, 7L, 0L, 365L * 24 * hourUs), // the adversarial interval, id 7
      (2L, 8L, 0L, hourUs / 2)
    ).toDF("u", "sid", "s", "e")
    val e = intercept[Exception] {
      operators.Joins.intervalOverlapJoin(iv, col("u"), col("sid"),
        col("s"), col("e"), bucketUs = hourUs).collect()
    }
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("maxBucketsPerInterval") && msg.contains("7"), msg)
    // raising the bound explicitly admits the wide interval
    val ok = operators.Joins.intervalOverlapJoin(iv, col("u"), col("sid"),
      col("s"), col("e"), bucketUs = hourUs, maxBucketsPerInterval = 10000)
    assert(ok.count() == 1) // the two intervals do overlap in bucket 0
  }

  test("driftKs: closed-form two-sample statistic, tie resolves to min value") {
    import spark.implicits._
    val a = Seq(1.0, 2.0, 3.0, 4.0).toDF("v")
    val b = Seq(3.0, 4.0, 5.0, 6.0).toDF("v")
    // F_old jumps to 1 by v=4, F_new lags by 2 values → max gap 0.5,
    // achieved at v ∈ {2,3,4}; min tie = 2
    val r = operators.Snapshot.driftKs(a, col("v"), b, col("v")).collect()
    assert(r.length == 1)
    val x = r.head
    assert((x.getLong(0), x.getLong(1), x.getDouble(2), x.getDouble(3)) ==
      ((4L, 4L, 0.5, 2.0)))
  }

  test("embedNormStats: closed-form norms, zero vector counted") {
    import spark.implicits._
    val emb = Seq(
      (1L, Array(3.0f, 4.0f), 0),   // norm 5
      (2L, Array(0.0f, 0.0f), 0),   // zero vector
      (3L, Array(6.0f, 8.0f), 1)    // norm 10
    ).toDF("vec_id", "embedding", "label")
    val r = operators.Similarity.embedNormStats(emb).collect()
      .map(x => (x.getInt(0), x.getLong(1), x.getDouble(2), x.getDouble(4),
        x.getDouble(5), x.getLong(6))).toSeq
    assert(r == Seq((0, 2L, 2.5, 0.0, 5.0, 1L), (1, 1L, 10.0, 10.0, 10.0, 0L)))
  }

  test("graph components: membership and sizes on a planted two-component graph") {
    import spark.implicits._
    // path 1-2-3 plus pair 10-11; component ids = min member
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val cc = operators.Dedup.connectedComponents(pairs, "src", "dst")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))
    val r = cc.withColumn("n", count(lit(1)).over(w))
      .orderBy(col("doc_id"))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
    assert(r == Seq((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (10L, 10L, 2L), (11L, 10L, 2L)))
  }

  test("packSequences: bins are contiguous and within budget except straddlers") {
    import graft.operators.TextOps
    val res = TextOps.packSequences(Tables.documents(spark, sf), 1024)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // bin ids never decrease in corpus order, start at 0, no gaps
    val bins = res.map(_._3)
    assert(bins.head == 0L && bins.sliding(2).forall { case Array(a, b) => b == a || b == a + 1 })
    // every bin's token mass stays under budget + one straddling doc
    res.groupBy(_._3).foreach { case (_, ds) =>
      val mass = ds.map(_._2).sum
      assert(mass < 1024 + ds.map(_._2).max, s"over-packed bin: $mass")
    }
  }

  test("orderedListAgg: ids concatenate in (n_chars DESC, doc_id) order, rank bound holds") {
    import spark.implicits._
    import graft.operators.Aggregations
    val docs = Seq(
      (1L, "en", 50L), (2L, "en", 90L), (3L, "en", 90L), (4L, "en", 10L),
      (5L, "de", 70L)
    ).toDF("doc_id", "lang", "n_chars")
    val res = Aggregations.orderedListAgg(docs, 3)
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // 90-char tie breaks by doc_id (2 before 3); the 10-char doc is cut by k=3
    assert(res("en") == ("2,3,1", 3L))
    assert(res("de") == ("5", 1L))
  }

  test("winsorizedMean: outlier clipped to the rank cut, closed-form mean") {
    import spark.implicits._
    import graft.operators.Aggregations
    // n=10, tail=0.2 → k=2: cuts at the 3rd and 8th order statistics
    val vals = Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 1000.0)
    val df = vals.map(("g", _)).toDF("grp", "v")
    val r = Aggregations.winsorizedMean(df, col("grp"), col("v"), 0.2)
      .collect().head
    assert(r.getAs[Double]("lo_cut") == 3.0 && r.getAs[Double]("hi_cut") == 8.0)
    // clipped stream: 3,3,3,4,5,6,7,8,8,8 → mean 5.5
    assert(r.getAs[Double]("winsor_mean") == 5.5)
    assert(r.getAs[Long]("n") == 10L)
    // the raw mean still carries the outlier's pull
    assert(r.getAs[Double]("raw_mean") == 104.5)
  }

  test("cusumProfile: closed-form excursion around a planted level shift") {
    import spark.implicits._
    import graft.operators.Windows
    // mean 3; devs -2,-2,-2,+2,+2,+2 → cusum -2,-4,-6,-4,-2,0
    val ev = Seq(1.0, 1.0, 1.0, 5.0, 5.0, 5.0).zipWithIndex.map {
      case (v, i) => ("g", i.toLong * 1000000L, i.toLong, v)
    }.toDF("series0", "us", "event_id", "v")
      .select(col("series0"), expr("timestamp_micros(us)").as("ts"),
        col("event_id"), col("v"))
    val r = Windows.cusumProfile(ev, col("series0"), col("ts"), col("v"))
      .collect().head
    assert(r.getAs[Long]("n") == 6L)
    assert(r.getAs[Double]("cusum_max") == 0.0)
    assert(r.getAs[Double]("cusum_min") == -6.0)
    assert(r.getAs[Double]("cusum_range") == 6.0)
  }

  test("theilSenTrend: lower median of pairwise slopes, daily mean reduction") {
    import spark.implicits._
    import graft.operators.Climate
    val day = 86400000000L
    // series A: daily means 0, 1, 10 → slopes {1, 5, 9} → lower median 5
    // (day 0 has TWO events averaging to 0); series B: 2, 4 → slope 2
    val rows = Seq(
      ("A", 0L, -1.0, 1L), ("A", 0L, 1.0, 2L), ("A", 1L, 1.0, 3L),
      ("A", 2L, 10.0, 4L),
      ("B", 0L, 2.0, 5L), ("B", 1L, 4.0, 6L))
    val ev = rows.toDF("event_type", "d", "value", "event_id")
      .select(col("event_type"),
        expr(s"timestamp_micros(d * ${day}L + ${1704067200000000L}L)").as("ts"),
        col("value"), col("event_id"))
    val r = Climate.theilSenTrend(ev)
      .collect().map(x => x.getString(0) ->
        ((x.getLong(1), x.getLong(2), x.getDouble(3)))).toMap
    assert(r("A") == ((3L, 3L, 5.0)), s"got ${r("A")}")
    assert(r("B") == ((2L, 1L, 2.0)))
  }

  test("chiSquareIndependence: zero on independence, N·min(r,c)-scaled on the diagonal") {
    import spark.implicits._
    import graft.operators.Aggregations
    val indep = (Seq.fill(10)(("a1", "b1")) ++ Seq.fill(10)(("a1", "b2")) ++
      Seq.fill(10)(("a2", "b1")) ++ Seq.fill(10)(("a2", "b2"))).toDF("x", "y")
    val ri = Aggregations.chiSquareIndependence(indep, col("x"), col("y"))
      .collect().head
    assert(ri.getAs[Long]("n") == 40L && ri.getAs[Long]("dof") == 1L)
    assert(ri.getAs[Double]("chi2") == 0.0 && ri.getAs[Double]("cramers_v") == 0.0)
    // perfect association: the two ZERO-observed cells contribute
    // (0-5)²/5 each — χ² = N = 20, V = 1 (dropping them would read 10)
    val dep = (Seq.fill(10)(("a1", "b1")) ++ Seq.fill(10)(("a2", "b2"))).toDF("x", "y")
    val rd = Aggregations.chiSquareIndependence(dep, col("x"), col("y"))
      .collect().head
    assert(rd.getAs[Double]("chi2") == 20.0, s"got ${rd.getAs[Double]("chi2")}")
    assert(rd.getAs[Double]("cramers_v") == 1.0)
  }

  test("readability: hand-counted censuses and scores, degenerate clamp") {
    import spark.implicits._
    import graft.operators.TextOps
    def hu4(x: Double): Double = math.floor(x * 1e4 + 0.5) / 1e4
    val docs = Seq((1L, "The cat sat. The dog ran!"), (2L, "")).toDF("doc_id", "text")
    val r = TextOps.readability(docs).collect()
      .map(x => x.getLong(0) -> x).toMap
    // 6 words, 2 sentence runs, 6 vowel groups → wps 3, spw 1
    val a = r(1L)
    assert((a.getLong(1), a.getLong(2), a.getLong(3)) == ((6L, 2L, 6L)))
    assert(a.getDouble(4) == hu4(206.835 - 1.015 * 3.0 - 84.6 * 1.0))
    assert(a.getDouble(5) == hu4(0.39 * 3.0 + 11.8 * 1.0 - 15.59))
    // empty doc clamps every census to 1 instead of dividing by zero
    val b = r(2L)
    assert((b.getLong(1), b.getLong(2), b.getLong(3)) == ((1L, 1L, 1L)))
    assert(b.getDouble(4) == hu4(206.835 - 1.015 - 84.6))
  }

  test("benfordScreen: planted digit histogram, sub-1 values excluded") {
    import spark.implicits._
    import graft.operators.Aggregations
    def hu6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val df = Seq(1.5, 10.0, 199.99, 25.0, 0.5).toDF("v")
    val r = Aggregations.benfordScreen(df, col("v"))
      .collect().map(x => x.getInt(0) -> ((x.getLong(1), x.getDouble(2),
        x.getDouble(3), x.getDouble(4)))).toMap
    assert(r.keySet == Set(1, 2))
    val ben1 = math.log(2.0) / math.log(10.0)
    assert(r(1) == ((3L, 0.75, hu6(ben1), hu6(0.75 - ben1))))
    val ben2 = math.log(1.5) / math.log(10.0)
    assert(r(2) == ((1L, 0.25, hu6(ben2), hu6(0.25 - ben2))))
  }

  test("pointInPolygon: even-odd rule on a planted square, duplicate cells reduce") {
    import spark.implicits._
    import graft.operators.Climate
    // event_id 180 → cell (lat 0.0, lon -112.5); id 0 → (lat -90, lon -180)
    val ev = Seq((180L, 1L, 1.0), (180L, 2L, 2.0), (0L, 3L, 3.0))
      .toDF("event_id", "us", "value")
      .select(col("event_id"), expr("timestamp_micros(us)").as("ts"), col("value"))
    val sq = Seq((-113.1, -0.9), (-112.1, -0.9), (-112.1, 0.9), (-113.1, 0.9))
    val r = Climate.pointInPolygon(ev, sq).collect()
      .map(x => (x.getDouble(0), x.getDouble(1), x.getLong(2)))
    assert(r.toSeq == Seq((0.0, -112.5, 2L)), s"got ${r.toSeq}")
    // shrink the square past the cell: nothing inside
    val tiny = Seq((-112.6, -0.9), (-112.55, -0.9), (-112.55, 0.9), (-112.6, 0.9))
    assert(Climate.pointInPolygon(ev, tiny).count() == 0L)
  }

  test("bootstrapMean: replayable, degenerate-constant collapse, SE in the s/sqrt(n) band") {
    import spark.implicits._
    import graft.operators.Aggregations
    // constant column: every replicate mean IS the constant → SE 0,
    // CI collapses to the point (dyadic 4.25 lands on every grid)
    val const = (1L to 50L).map((_, 4.25)).toDF("id", "v")
    val rc = Aggregations.bootstrapMean(const, col("id"), col("v")).collect().head
    assert(rc.getAs[Double]("mean") == 4.25)
    assert(rc.getAs[Double]("boot_se") == 0.0)
    assert(rc.getAs[Double]("ci_lo") == 4.25 && rc.getAs[Double]("ci_hi") == 4.25)
    assert(rc.getAs[Long]("n_reps") == 100L)
    // 1..100: s/sqrt(n) ≈ 2.9 — the bootstrap SE must land in a wide
    // band around it, and the percentile CI must bracket the mean
    val ramp = (1L to 100L).map(i => (i, i.toDouble)).toDF("id", "v")
    val r = Aggregations.bootstrapMean(ramp, col("id"), col("v")).collect().head
    assert(r.getAs[Double]("mean") == 50.5)
    val se = r.getAs[Double]("boot_se")
    assert(se > 1.0 && se < 6.0, s"se out of band: $se")
    assert(r.getAs[Double]("ci_lo") < 50.5 && r.getAs[Double]("ci_hi") > 50.5)
    // pure digest function: a rerun is bit-identical
    val r2 = Aggregations.bootstrapMean(ramp, col("id"), col("v")).collect().head
    assert(r.toSeq == r2.toSeq)
    // the fused BootstrapDraws expression and the original B-column
    // sha2 tree must emit bit-identical output rows (the native path
    // is the default; the tree is the reference the oracle mirrors)
    val tree = Aggregations.bootstrapMeanImpl(ramp, col("id"), col("v"),
      100, "bs", nativeDraws = false).collect().head
    assert(r.toSeq == tree.toSeq, s"native $r vs tree $tree")
    val treeC = Aggregations.bootstrapMeanImpl(const, col("id"), col("v"),
      100, "bs", nativeDraws = false).collect().head
    assert(rc.toSeq == treeC.toSeq, s"native $rc vs tree $treeC")
    // NULL-id rows: the tree's when-chain (and the DuckDB oracle's
    // CASE) weight a null-hashed uniform as 5 per replicate; the fused
    // path must coalesce its null array to the same, never silently
    // drop the row (n_rows counts it either way — a divergence shows
    // in boot_se/CI, not just counts)
    val withNull = (1L to 99L).map(i => (java.lang.Long.valueOf(i), i.toDouble))
      .toDF("id", "v")
      .union(Seq((Option.empty[java.lang.Long], 100.0)).toDF("id", "v"))
    val nNative = Aggregations.bootstrapMean(withNull, col("id"), col("v"))
      .collect().head
    val nTree = Aggregations.bootstrapMeanImpl(withNull, col("id"), col("v"),
      100, "bs", nativeDraws = false).collect().head
    assert(nNative.toSeq == nTree.toSeq, s"null-id: native $nNative vs tree $nTree")
    assert(nNative.getAs[Long]("n_rows") == 100L)
  }

  test("crossCorrelation: planted 2-day shift peaks at exactly 1.0, constant series NULLs") {
    import spark.implicits._
    import graft.operators.Climate
    val day = 86400000000L
    val base = Seq(1.0, 5.0, 2.0, 8.0, 3.0, 9.0, 4.0, 7.0, 6.0, 2.0)
    val rows =
      base.zipWithIndex.map { case (v, d) => ("A", d.toLong, v) } ++
      base.zipWithIndex.map { case (v, d) => ("B", d.toLong + 2L, v) } ++ // B = A shifted +2
      // dyadic constant (17/4): lands EXACTLY on the quantization
      // grids, so the overlap variance is exactly 0 → guard fires; an
      // off-grid constant (e.g. 4.2) may leave ±1-ulp variance and
      // read as ccf 0.0 instead — same verdict, different rendering
      (0L to 11L).map(d => ("C", d, 4.25))
    val ev = rows.toDF("event_type", "d", "value")
      .select(col("event_type"),
        expr(s"timestamp_micros(d * ${day}L + ${1704067200000000L}L)").as("ts"),
        col("value"))
    val ab = Climate.crossCorrelation(ev, "A", "B", maxLag = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))).toMap
    assert(ab(2L)._2 == 1.0, s"got ${ab(2L)}") // the true shift: exact 1.0
    assert(ab(2L)._1 == 10L)
    assert(ab.filterKeys(_ != 2L).values.forall(v => v._2 < 1.0),
      s"only the true lag may reach 1.0: $ab")
    // constant counterpart: variance 0 in every overlap → defined NULL
    val ac = Climate.crossCorrelation(ev, "A", "C", maxLag = 3).collect()
    assert(ac.nonEmpty && ac.forall(_.isNullAt(2)))
  }

  test("kmeansExact: planted 2-cluster plane converges, exact final distances") {
    import spark.implicits._
    import graft.operators.Similarity
    // seeds = vecs 0,1 at [0,0],[1,0]; after 2 Lloyd rounds the
    // centroids are exactly [0.5,0] and [10.5,10] → every dist2 = 0.25
    val emb = Seq(
      (0L, Array(0f, 0f)), (1L, Array(1f, 0f)),
      (2L, Array(10f, 10f)), (3L, Array(11f, 10f))
    ).toDF("vec_id", "embedding")
    val r = Similarity.kmeansExact(emb, k = 2, iters = 2)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
    assert(r.map(_._2).toSeq == Seq(0L, 0L, 1L, 1L), s"got ${r.toSeq}")
    assert(r.forall(_._3 == 0.25), s"got ${r.toSeq}")
    // empty-cell carry: k=4 over these 4 points seeds every point as
    // its own centroid — assignments stay the identity with dist 0
    val r4 = Similarity.kmeansExact(emb, k = 4, iters = 2)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
    assert(r4.toSeq == Seq((0L, 0L, 0.0), (1L, 1L, 0.0),
      (2L, 2L, 0.0), (3L, 3L, 0.0)), s"got ${r4.toSeq}")
  }

  test("holtTrend: linear series tracked exactly, level shift hand-replayed, 1-day series dropped") {
    import spark.implicits._
    import graft.operators.Climate
    def ev(rows: (String, String, Double)*) =
      rows.zipWithIndex.map { case ((t, d, v), i) => (i.toLong, t, d, v) }
        .toDF("event_id", "event_type", "day", "value")
        .withColumn("ts", to_timestamp(col("day")))
    // perfectly linear series: Holt locks on exactly — l=16, b=2,
    // forecast 18 (α=0.5, β=0.25; hand fold in the scaladoc's order);
    // day 1 arrives as TWO events averaging 10 (the daily rollup)
    val lin = ev(
      ("X", "2024-01-01", 9.0), ("X", "2024-01-01", 11.0),
      ("X", "2024-01-02", 12.0), ("X", "2024-01-03", 14.0),
      ("X", "2024-01-04", 16.0),
      // level shift 10,10,20,20 → l=18.125, b=1.71875, fc=19.8438
      ("Y", "2024-01-01", 10.0), ("Y", "2024-01-02", 10.0),
      ("Y", "2024-01-03", 20.0), ("Y", "2024-01-04", 20.0),
      // single-day series: no trend information → dropped
      ("Z", "2024-01-01", 5.0))
    val r = Climate.holtTrend(lin).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getDouble(2),
        x.getDouble(3), x.getDouble(4)))
    assert(r.toSeq == Seq(
      ("X", 4L, 16.0, 2.0, 18.0),
      ("Y", 4L, 18.125, 1.71875, 19.8438)), s"got ${r.toSeq}")
  }

  test("ols2: planted plane recovered exactly with R2=1, single-day design is singular → NULLs") {
    import spark.implicits._
    import graft.operators.Climate
    // y = 2 + 3·day + 4·lat on a non-degenerate (day, lat) design:
    // lat = (event_id%360)/2 − 90, even ids → integer lat. The plane
    // must come back exactly (integer moments, exact Cramer) with
    // R² = 1. Series "S" sits on ONE day → the design is singular
    // (day column is constant ⇒ det = 0) → NULL coefficients, n kept.
    def lat(eid: Long) = (eid % 360) / 2.0 - 90.0
    val pts = Seq( // (event_id, day) pairs spanning days and lats
      (180L, 0), (200L, 1), (240L, 2), (300L, 3), (178L, 4), (36L, 5))
    val rows = pts.map { case (eid, d) =>
      (eid, "P", d, 2.0 + 3.0 * d + 4.0 * lat(eid)) } ++
      Seq((180L, "S", 0, 1.0), (200L, "S", 0, 2.0))
    val df = rows.toDF("event_id", "event_type", "d", "value")
      .withColumn("ts", expr(
        "timestampadd(DAY, d, TIMESTAMP '2024-01-01 00:00:00')"))
    val r = Climate.ols2(df).collect().map(x => (x.getString(0), x.getLong(1),
      if (x.isNullAt(2)) null else x.getDouble(2),
      if (x.isNullAt(3)) null else x.getDouble(3),
      if (x.isNullAt(4)) null else x.getDouble(4),
      if (x.isNullAt(5)) null else x.getDouble(5)))
    assert(r.toSeq == Seq(
      ("P", 6L, 2.0, 3.0, 4.0, 1.0),
      ("S", 2L, null, null, null, null)), s"got ${r.toSeq}")
  }

  test("weeklySeasonality: pure weekly cycle scores 1.0, constant series NULLs, peak tie to earliest dow") {
    import spark.implicits._
    import graft.operators.Climate
    // A: 28 days of value = day%7 (a rigid weekly cycle) → every
    // within-dow variance is 0, so SS_between = SS_total and η² = 1;
    // peak dow 6 with mean 6. B: constant → SS_total = 0 → NULL η²,
    // every dow mean ties at 5 → earliest dow wins the peak.
    val ev = (0 until 28).map(d => ("A", d, (d % 7).toDouble)) ++
      (0 until 10).map(d => ("B", d, 5.0))
    val df = ev.zipWithIndex.map { case ((t, d, v), i) => (i.toLong, t, d, v) }
      .toDF("event_id", "event_type", "d", "value")
      .withColumn("ts", expr(
        "timestampadd(DAY, d, TIMESTAMP '2024-01-01 00:00:00')"))
    val r = Climate.weeklySeasonality(df).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getDouble(3),
        if (x.isNullAt(4)) null else x.getDouble(4)))
    assert(r.toSeq == Seq(
      ("A", 28L, 6L, 6.0, 1.0),
      ("B", 10L, 0L, 5.0, null)), s"got ${r.toSeq}")
  }

  test("mannWhitney: hand-computed U with a tie group, multi-event rollup, degenerate NULL") {
    import spark.implicits._
    import graft.operators.Aggregations
    // arm 0 (even users) per-user cents {100, 200, 300}; arm 1 (odd)
    // {200, 400, 500}; user 0 reaches 100 via TWO 0.50 events (the
    // per-user rollup). Combined sorted: 100a 200a 200b 300a 400b 500b
    // → ranks 1, 2.5, 2.5, 4, 5, 6 → R_a = 7.5, U_a = 7.5 − 6 = 1.5,
    // U_b = 7.5; tie term 2³−2 = 6; var = 9·(7 − 6/30)/12 = 5.1;
    // z = (1.5 − 4.5)/√5.1 = −1.3284…
    val ev = Seq(
      (0L, 0.5), (0L, 0.5), (2L, 2.0), (4L, 3.0),
      (1L, 2.0), (3L, 4.0), (5L, 5.0)
    ).zipWithIndex.map { case ((u, v), i) => (i.toLong, u, v) }
      .toDF("event_id", "user_id", "value")
    val r = Aggregations.mannWhitney(ev, col("user_id") % 2,
      round(col("value") * 100).cast("long")).collect()
    assert(r.length == 1)
    val x = r.head
    assert((x.getLong(0), x.getLong(1)) == ((3L, 3L)))
    assert((x.getDouble(2), x.getDouble(3)) == ((1.5, 7.5)))
    assert(x.getDouble(4) == -1.3284 && x.getLong(5) == 0L, s"got $x")
    // every user ties at one value: a single tie group has zero rank
    // variance → z NULL by guard, flag 0, counts intact
    val ev2 = Seq((0L, 0L, 1.0), (1L, 1L, 1.0), (2L, 2L, 1.0), (3L, 3L, 1.0))
      .toDF("event_id", "user_id", "value")
    val flat = Aggregations.mannWhitney(ev2, col("user_id") % 2,
      round(col("value") * 100).cast("long")).collect().head
    assert((flat.getLong(0), flat.getLong(1)) == ((2L, 2L)))
    assert(flat.isNullAt(4) && flat.getLong(5) == 0L, s"got $flat")
  }

  test("labelPropagation: bridged triangles split into two communities, round-1 tie-breaks exact") {
    import spark.implicits._
    import graft.operators.Graph
    // two triangles {1,2,3} and {4,5,6} joined by the bridge 3–4
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L)).toDF("src", "dst")
    // hand-replayed synchronous round 1 (min label on count ties):
    // 1←{2,3}→2, 2←{1,3}→1, 3←{1,2,4}→1, 4←{3,5,6}→3, 5←{4,6}→4,
    // 6←{4,5}→4 — this pins BOTH the synchronous update (no label
    // from the same round leaks in) and the smallest-label tie rule
    val r1 = Graph.labelPropagation(e, rounds = 1).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r1 == Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 3L,
      5L -> 4L, 6L -> 4L), s"got $r1")
    // by round 4 the labeling is stable: {1,2,3}→1, {4,5,6}→3, the
    // bridge endpoints held by their own triangle's majority
    val r4 = Graph.labelPropagation(e, rounds = 4).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    assert(r4.toSeq == Seq((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (4L, 3L, 3L), (5L, 3L, 3L), (6L, 3L, 3L)), s"got ${r4.toSeq}")
  }

  test("bfsHops: hop distances on a planted path, unreached nodes absent, min over multi-source") {
    import spark.implicits._
    import graft.operators.Graph
    // path 0–1–2–3–4–5 plus an isolated edge 10–11; seeds = %100==0
    // nodes present in the graph: {0, 100? no} → {0} and {100,...}
    // none — so seed set is {0} here
    val e = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L)).toDF("src", "dst")
    val d = Graph.bfsHops(e, _ % 100 === 0, rounds = 3).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    // 3 rounds reach exactly hops 0..3; 4, 5, 10, 11 absent
    assert(d == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L), s"got $d")
    // multi-source min: seeds 0 and 200 joined by a short arc — node
    // 201 is 1 from 200 even though it is 4 from 0
    val e2 = Seq((0L, 1L), (1L, 2L), (2L, 201L), (200L, 201L))
      .toDF("src", "dst")
    val d2 = Graph.bfsHops(e2, _ % 100 === 0, rounds = 3).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(d2 == Map(0L -> 0L, 200L -> 0L, 1L -> 1L, 201L -> 1L,
      2L -> 2L), s"got $d2")
  }

  test("topShare: deciles carve by descending rank, shares and cum shares are exact") {
    import spark.implicits._
    import graft.operators.Aggregations
    // 20 customers, revenue = custkey dollars → descending rank is
    // custkey 20..1; decile k = 2 customers; total = 210
    val orders = (1L to 20L).map(c => (c, c.toDouble)).toDF("o_custkey", "o_totalprice")
    val r = Aggregations.topShare(orders).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2), x.getDouble(3)))
    assert(r.length == 10)
    assert(r.map(_._2).forall(_ == 2L), s"got ${r.toSeq}")
    // decile 1 = {20, 19} → 39/210; cumulative of decile 10 = 1.0
    assert(math.abs(r.head._3 - 39.0 / 210.0) < 1e-6, s"got ${r.head}")
    assert(math.abs(r.last._4 - 1.0) < 1e-9, s"got ${r.last}")
    // shares strictly decrease (revenue sorted descending)
    assert(r.map(_._3).sliding(2).forall(p => p(0) > p(1)))
    // cum_share telescopes: cum(k) - cum(k-1) ≈ share(k) (6 dp rendering)
    r.sliding(2).foreach { p =>
      assert(math.abs((p(1)._4 - p(0)._4) - p(1)._3) < 2e-6, s"got ${p.toSeq}") }
  }

  test("autocorrelation: a 2-day-period alternating series has acf(1) = -1, acf(2) = +1") {
    import spark.implicits._
    import graft.operators.Climate
    // one series, 30 consecutive days alternating 10, 20
    val ev = (0 until 30).map { i =>
      (java.sql.Timestamp.valueOf(f"2024-01-${i % 31 + 1}%02d 12:00:00"),
        "a", if (i % 2 == 0) 10.0 else 20.0)
    }.toDF("ts", "event_type", "value")
    val r = Climate.autocorrelation(ev, maxLag = 2).collect()
      .map(x => x.getLong(1) -> x.getDouble(3)).toMap
    assert(math.abs(r(1L) - (-1.0)) < 1e-6, s"got $r")
    assert(math.abs(r(2L) - 1.0) < 1e-6, s"got $r")
  }

  test("runsTest: alternating series maxes runs (positive z), monotone series yields NULL (one-sided)") {
    import spark.implicits._
    import graft.operators.Climate
    val alt = (0 until 21).map { i =>
      (java.sql.Timestamp.valueOf(f"2024-01-${i + 1}%02d 12:00:00"),
        "alt", if (i % 2 == 0) 10.0 else 20.0)
    }
    val mono = (0 until 21).map { i =>
      (java.sql.Timestamp.valueOf(f"2024-01-${i + 1}%02d 12:00:00"),
        "mono", 10.0 + i)
    }
    val r = Climate.runsTest((alt ++ mono).toDF("ts", "event_type", "value"))
      .collect().map(x => x.getString(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4),
          if (x.isNullAt(5)) None else Some(x.getDouble(5))))).toMap
    // alternating: 20 moves = 10 up + 10 down, every move flips → 20 runs
    assert(r("alt") == ((21L, 10L, 10L, 20L, r("alt")._5)), s"got $r")
    assert(r("alt")._5.exists(_ > 3.0), s"got $r") // far more runs than E[R]=11
    // monotone: all ups → variance undefined → NULL z, 1 run
    assert(r("mono")._1 == 21L && r("mono")._2 == 20L &&
      r("mono")._3 == 0L && r("mono")._4 == 1L && r("mono")._5.isEmpty,
      s"got $r")
  }

  test("concurrencyPeaks: nested intervals stack, back-to-back intervals never double-count") {
    import spark.implicits._
    import graft.operators.Windows
    val day = 1704067200000000L // 2024-01-01T00:00:00Z in µs
    val m = 60000000L
    // three nested intervals peak at 3; a fourth starts exactly when
    // the first ends (half-open [s, e) — ends sort before starts)
    val iv = Seq(
      (1L, day, day + 10 * m),
      (2L, day + 1 * m, day + 9 * m),
      (3L, day + 2 * m, day + 8 * m),
      (4L, day + 10 * m, day + 20 * m),
      // next day: two strictly disjoint intervals → peak 1
      (5L, day + 1440 * m, day + 1441 * m),
      (6L, day + 1442 * m, day + 1443 * m)
    ).toDF("id", "s", "e")
    val r = Windows.concurrencyPeaks(iv, col("s"), col("e"), col("id"))
      .collect().map(x => (x.getDate(0).toString, x.getLong(1), x.getLong(2)))
    assert(r.toSeq == Seq(("2024-01-01", 3L, 8L), ("2024-01-02", 1L, 4L)),
      s"got ${r.toSeq}")
  }

  test("kendallTau: monotone agreement is +1, reversal is -1, ties correct the denominator") {
    import spark.implicits._
    import graft.operators.Climate
    def ev(t: String, day: Int, v: Double) =
      (java.sql.Timestamp.valueOf(f"2024-01-${day + 1}%02d 12:00:00"), t, v)
    // purchase = view + 1 day-wise → perfect agreement
    val up = (0 until 10).flatMap(i =>
      Seq(ev("view", i, 10.0 + i), ev("purchase", i, 11.0 + i)))
    val r1 = Climate.kendallTau(up.toDF("ts", "event_type", "value"),
      "view", "purchase").collect().head
    assert((r1.getLong(0), r1.getLong(1), r1.getLong(2), r1.getDouble(3)) ==
      ((10L, 45L, 0L, 1.0)), s"got $r1")
    // purchase reversed → perfect disagreement
    val dn = (0 until 10).flatMap(i =>
      Seq(ev("view", i, 10.0 + i), ev("purchase", i, 30.0 - i)))
    val r2 = Climate.kendallTau(dn.toDF("ts", "event_type", "value"),
      "view", "purchase").collect().head
    assert(r2.getDouble(3) == -1.0, s"got $r2")
    // constant purchase → every y pair tied → NULL tau
    val ct = (0 until 10).flatMap(i =>
      Seq(ev("view", i, 10.0 + i), ev("purchase", i, 5.0)))
    val r3 = Climate.kendallTau(ct.toDF("ts", "event_type", "value"),
      "view", "purchase").collect().head
    assert(r3.isNullAt(3), s"got $r3")
  }

  test("spearmanRho: nonlinear monotone is +1, reversal -1, average-rank ties hand-checked") {
    import spark.implicits._
    import graft.operators.Climate
    def ev(t: String, day: Int, v: Double) =
      (java.sql.Timestamp.valueOf(f"2024-01-${day + 1}%02d 12:00:00"), t, v)
    // purchase = view² day-wise: NONLINEAR but monotone → ρ = 1
    // exactly (the τ-vs-ρ point: Pearson on the raw values would not
    // be 1 here, Pearson on the ranks is)
    val up = (0 until 10).flatMap(i =>
      Seq(ev("view", i, 10.0 + i), ev("purchase", i, (10.0 + i) * (10.0 + i))))
    val r1 = Climate.spearmanRho(up.toDF("ts", "event_type", "value"),
      "view", "purchase").collect().head
    assert((r1.getLong(0), r1.getDouble(1)) == ((10L, 1.0)), s"got $r1")
    // reversed → -1
    val dn = (0 until 10).flatMap(i =>
      Seq(ev("view", i, 10.0 + i), ev("purchase", i, 30.0 - i)))
    assert(Climate.spearmanRho(dn.toDF("ts", "event_type", "value"),
      "view", "purchase").collect().head.getDouble(1) == -1.0)
    // constant purchase → zero rank variance → NULL
    val ct = (0 until 10).flatMap(i =>
      Seq(ev("view", i, 10.0 + i), ev("purchase", i, 5.0)))
    assert(Climate.spearmanRho(ct.toDF("ts", "event_type", "value"),
      "view", "purchase").collect().head.isNullAt(1))
    // tie case, hand-computed: x ranks 1,2,3,4; y = [5,7,7,9] → avg
    // ranks 1,2.5,2.5,4 → ρ = 18/√(20·18) = 0.948683 at 6 dp
    val tie = Seq(ev("view", 0, 1.0), ev("view", 1, 2.0),
      ev("view", 2, 3.0), ev("view", 3, 4.0),
      ev("purchase", 0, 5.0), ev("purchase", 1, 7.0),
      ev("purchase", 2, 7.0), ev("purchase", 3, 9.0))
    assert(Climate.spearmanRho(tie.toDF("ts", "event_type", "value"),
      "view", "purchase").collect().head.getDouble(1) == 0.948683)
  }

  test("rollingCorrelation: warmup NULL, perfect coupling +1, reversal -1, constant side NULLs") {
    import spark.implicits._
    import graft.operators.Climate
    def ev(t: String, day: Int, v: Double) =
      (java.sql.Timestamp.valueOf(f"2024-01-${day + 1}%02d 12:00:00"), t, v)
    val up = (0 until 5).flatMap(i =>
      Seq(ev("view", i, 1.0 + i), ev("purchase", i, 2.0 + 2 * i)))
    val rows = Climate.rollingCorrelation(up.toDF("ts", "event_type", "value"),
      "view", "purchase").collect()
    assert(rows.length == 5)
    assert(rows.head.isNullAt(2), s"day 0 has a 1-row frame: ${rows.head}")
    rows.tail.foreach(r => assert(r.getDouble(2) == 1.0, s"got $r"))
    val dn = (0 until 5).flatMap(i =>
      Seq(ev("view", i, 1.0 + i), ev("purchase", i, 9.0 - i)))
    Climate.rollingCorrelation(dn.toDF("ts", "event_type", "value"),
      "view", "purchase").collect().tail
      .foreach(r => assert(r.getDouble(2) == -1.0, s"got $r"))
    // constant purchase → zero in-frame variance at every width
    val ct = (0 until 5).flatMap(i =>
      Seq(ev("view", i, 1.0 + i), ev("purchase", i, 4.0)))
    Climate.rollingCorrelation(ct.toDF("ts", "event_type", "value"),
      "view", "purchase").collect()
      .foreach(r => assert(r.isNullAt(2), s"got $r"))
    // overflow pre-flight: a daily mean past ⌊√(2⁶³/7)⌋/1e4 ≈ 1.148e5
    // would silently wrap the frame's long Σxy (and diverge from
    // DuckDB's HUGEINT) — the in-plan guard must refuse it loudly.
    val hot = (0 until 3).flatMap(i =>
      Seq(ev("view", i, if (i == 1) 2.0e5 else 1.0 + i),
        ev("purchase", i, 2.0 + 2 * i)))
    val err = intercept[Exception] {
      Climate.rollingCorrelation(hot.toDF("ts", "event_type", "value"),
        "view", "purchase").collect()
    }
    val chain = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).map(e => Option(e.getMessage).getOrElse(""))
      .mkString(" | ")
    assert(chain.contains("rollingCorrelation"), chain)
    // ...and values just under the bound pass clean (1.1e5 < qmax/1e4)
    val warm = (0 until 5).flatMap(i =>
      Seq(ev("view", i, 1.1e5 + i), ev("purchase", i, 2.0 + 2 * i)))
    val ok = Climate.rollingCorrelation(warm.toDF("ts", "event_type", "value"),
      "view", "purchase").collect()
    // r rendered at 6 dp on the quantized grid: allow the last-digit wobble
    assert(ok.length == 5 &&
      ok.tail.forall(r => math.abs(r.getDouble(2) - 1.0) <= 2e-6), ok.mkString(","))
  }

  test("hitsBipartite: 3 iterations on the 3-edge fixture hit the Fibonacci ratios") {
    import spark.implicits._
    import graft.operators.Graph
    // customers {1,2} → suppliers {10,20}: 1→10, 1→20, 2→10.
    // L1-normalized half-steps walk the Fibonacci ladder:
    // a3 = (13/21, 8/21), h3 = (21/34, 13/34).
    val e = Seq((1L, 10L), (1L, 20L), (2L, 10L)).toDF("src", "dst")
    val r = Graph.hitsBipartite(e, iterations = 3).collect()
      .map(x => (x.getString(0), x.getLong(1)) -> x.getDouble(2)).toMap
    assert(r(("authority", 10L)) == 0.619048 && r(("authority", 20L)) == 0.380952,
      r.toString)
    assert(r(("hub", 1L)) == 0.617647 && r(("hub", 2L)) == 0.382353, r.toString)
  }

  test("mmrSelect: relevance tie to smaller id, redundancy penalty demotes the clone") {
    import spark.implicits._
    import graft.operators.Similarity
    // query 0 = (1,0); 1 and 2 point the same way (rel 1), 3 is
    // orthogonal (rel 0). Rank 1: rel tie -> id 1. Rank 2: the clone
    // still wins (0.7 - 0.3*1 = 0.4 > 0). Rank 3: the orthogonal
    // vector at score 0.7*0 - 0.3*0 = 0.
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.0f)),
      (2L, Array(2.0f, 0.0f)), (3L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.mmrSelect(emb, queryId = 0L, k = 3, lam = 0.7)
      .collect().map(x => (x.getLong(0), x.getLong(1),
        x.getDouble(2), if (x.isNullAt(3)) -1.0 else x.getDouble(3),
        x.getDouble(4)))
    assert(r.toSeq == Seq((1L, 1L, 1.0, -1.0, 0.7),
      (2L, 2L, 1.0, 1.0, 0.4), (3L, 3L, 0.0, 0.0, 0.0)), r.mkString(", "))
  }

  test("qualityProfile: nulls, distincts, min/max exact; strings count-only") {
    import spark.implicits._
    import graft.operators.Snapshot
    val df = Seq(
      (Some(1.0), Some("a")), (Some(2.5), Some("a")),
      (None, Some("b")), (Some(2.5), None))
      .toDF("x", "s")
    val r = Snapshot.qualityProfile(df, Seq("x"), Seq("s")).collect()
      .map(x => x.getString(0) -> x).toMap
    val x = r("x")
    assert((x.getLong(1), x.getLong(2), x.getLong(3)) == ((4L, 1L, 2L)))
    assert(x.getDouble(4) == 1.0 && x.getDouble(5) == 2.5, x.toString)
    val s = r("s")
    assert((s.getLong(1), s.getLong(2), s.getLong(3)) == ((4L, 1L, 2L)))
    assert(s.isNullAt(4) && s.isNullAt(5))
  }

  test("referentialOrphans: planted orphans counted, NULL FKs excluded") {
    import spark.implicits._
    import graft.operators.Snapshot
    val child = Seq(Some(1L), Some(2L), Some(99L), None, Some(98L))
      .toDF("fk")
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val r = Snapshot.referentialOrphans(
      Seq(("c->p", child, "fk", parent, "pk"))).collect().head
    // 4 non-null children, 2 orphans (99, 98), ratio 0.5
    assert((r.getLong(1), r.getLong(2), r.getDouble(3)) == ((4L, 2L, 0.5)),
      r.toString)
  }

  test("modularityOf: barbell graph scores 0.357143 split, 0 merged (textbook)") {
    import spark.implicits._
    import graft.operators.Graph
    // two triangles bridged by one edge (canonical a<b form), m = 7
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("src", "dst")
    // the natural split: e_c = 3 each, deg_c = 7 each
    // Q = 2·(4·7·3 − 49)/(4·49) = 70/196 = 0.357143 at 6 dp
    val split = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (4L, 4L), (5L, 4L), (6L, 4L)).toDF("node", "community_id")
    val r = Graph.modularityOf(edges, split).collect().head
    assert((r.getLong(0), r.getLong(1)) == ((2L, 7L)), r.toString)
    assert(r.getDouble(2) == 0.357143, r.toString)
    // everything in ONE community: Q = (4m·m − (2m)²)/(4m²) = 0 exactly
    val merged = (1L to 6L).map(n => (n, 0L)).toDF("node", "community_id")
    assert(Graph.modularityOf(edges, merged).collect().head.getDouble(2) == 0.0)
  }

  test("localClusteringCoeff: known graph, degree-1 nodes excluded, sums tie out to 3T") {
    import spark.implicits._
    // the triangleStats fixture: triangles {123},{124},{129}, spoke 59
    val edges = Seq(
      (1L, 2L), (2L, 1L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L), (1L, 2L),
      (9L, 1L), (9L, 2L), (9L, 5L), (5L, 9L))
      .toDF("src", "dst")
    val r = operators.Graph.localClusteringCoeff(edges).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getDouble(3))))
      .toMap
    assert(r(1L) == ((4L, 3L, 0.5)), s"got $r")
    assert(r(2L) == ((4L, 3L, 0.5)), s"got $r")
    assert(r(3L) == ((2L, 1L, 1.0)), s"got $r")
    assert(r(4L) == ((2L, 1L, 1.0)), s"got $r")
    assert(r(9L) == ((3L, 1L, 0.333333)), s"got $r")
    assert(!r.contains(5L), "degree-1 node must be excluded")
    assert(r.values.map(_._2).sum == 9L, "sum of per-node counts = 3T")
  }

  test("zipfFit: an exact 1/rank corpus fits slope -1, intercept ln(C), r^2 ~ 1") {
    import spark.implicits._
    // freqs 12, 6, 4, 3 = 12/rank for ranks 1..4 → exact Zipf line
    val text = (Seq.fill(12)("a") ++ Seq.fill(6)("b") ++
      Seq.fill(4)("c") ++ Seq.fill(3)("d")).mkString(" ")
    val r = operators.TextOps.zipfFit(Seq((1L, text)).toDF("doc_id", "text"))
      .collect().head
    assert(r.getLong(0) == 4L, s"got $r")
    assert(math.abs(r.getDouble(1) + 1.0) <= 1e-4, s"slope: $r")
    assert(math.abs(r.getDouble(2) - math.log(12.0)) <= 1e-3, s"intercept: $r")
    assert(r.getDouble(3) >= 0.9999, s"r2: $r")
  }

  test("degreeAssortativity: star is exactly -1, regular graph NULLs, duplicates ignored") {
    import spark.implicits._
    // K1,3 star: every edge joins deg 3 to deg 1 → r = -1 exactly
    val star = Seq((1L, 2L), (1L, 3L), (3L, 1L), (1L, 4L)).toDF("src", "dst")
    val r1 = operators.Graph.degreeAssortativity(star).collect().head
    assert((r1.getLong(0), r1.getDouble(1)) == ((3L, -1.0)), s"got $r1")
    // 4-cycle: degree-regular → zero variance → NULL
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val r2 = operators.Graph.degreeAssortativity(cyc).collect().head
    assert(r2.getLong(0) == 4L && r2.isNullAt(1), s"got $r2")
  }

  test("holtWinters: Scala replay of the fold matches digit for digit, short series dropped") {
    import spark.implicits._
    import graft.operators.Climate
    def ev(day: Int, v: Double) =
      (java.sql.Timestamp.valueOf(f"2024-01-${day + 1}%02d 12:00:00"), "view", v)
    // 21 days with a planted weekly cycle + drift, one event per day
    // so the daily mean is the raw value
    val ys = (0 until 21).map(i => 10.0 + 0.25 * i + Array(
      2.0, -1.0, 0.5, -0.5, 1.0, -2.0, 0.0)(i % 7))
    val df = ys.zipWithIndex.map { case (v, i) => ev(i, v) }
      .toDF("ts", "event_type", "value")
    val r = Climate.holtWinters(df).collect().head
    // independent replay: same init, same operand order
    val q = ys.map(v => math.floor(v * 1e9 + 0.5) / 1e9) // 1-event daily mean
    var l = q.take(7).foldLeft(0.0)(_ + _) / 7.0
    var b = (0 until 7).map(i => q(7 + i) - q(i)).foldLeft(0.0)(_ + _) / 49.0
    var s = q.take(7).map(_ - l).toArray
    for (t <- 7 until 21) {
      val x = q(t); val sDue = s(0)
      val lN = 0.5 * (x - sDue) + 0.5 * (l + b)
      val bN = 0.25 * (lN - l) + 0.75 * b
      s = s.drop(1) :+ (0.25 * (x - lN) + 0.75 * sDue)
      l = lN; b = bN
    }
    def h(x: Double, n: Int) = math.floor(x * math.pow(10, n) + 0.5) / math.pow(10, n)
    assert(r.getLong(1) == 21L, s"got $r")
    assert(r.getDouble(2) == h(l, 4), s"level: $r vs ${h(l, 4)}")
    assert(r.getDouble(3) == h(b, 6), s"trend: $r vs ${h(b, 6)}")
    assert(r.getDouble(4) == h(s(0), 4), s"seasonal: $r vs ${h(s(0), 4)}")
    assert(r.getDouble(5) == h(l + b + s(0), 4), s"forecast: $r")
    // a 14-day series has no post-init step → dropped
    val short = ys.take(14).zipWithIndex.map { case (v, i) => ev(i, v) }
      .toDF("ts", "event_type", "value")
    assert(Climate.holtWinters(short).count() == 0L)
  }

  test("span pre-flight: a day array past MaxSpanDays fails, naming its operator") {
    import graft.operators.{Climate, Inference}
    val n = Climate.MaxSpanDays + 1
    val day0 = 946684800L // 2000-01-01 UTC
    def at(days: org.apache.spark.sql.Column) = timestamp_seconds(lit(day0) + days * 86400L)
    // one series observed on n consecutive days
    val series = spark.range(n).select(lit("view").as("event_type"),
      at(col("id")).as("ts"), col("id").cast("double").as("value"))
    // 2n users, all viewing on day 0; user u buys on day u/2, so each
    // arm (u % 2) holds n distinct conversion spans, every one an event day
    val users = spark.range(2L * n)
    val spans = users.select(col("id").as("user_id"), lit("view").as("event_type"),
        at(lit(0L)).as("ts"))
      .union(users.select(col("id").as("user_id"), lit("purchase").as("event_type"),
        at(floor(col("id") / 2)).as("ts")))
    Seq[(String, () => Unit)](
      "holtTrend" -> (() => Climate.holtTrend(series).collect()),
      "holtWinters" -> (() => Climate.holtWinters(series).collect()),
      "kaplanMeier" -> (() => Inference.kaplanMeier(spans).collect()),
      "logRank" -> (() => Inference.logRank(spans).collect())
    ).foreach { case (op, run) =>
      val e = intercept[Exception](run())
      val msg = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
      assert(msg.contains(s"$op: ") && msg.contains(s" has $n days > ${n - 1}"),
        s"$op: $msg")
    }
  }

  test("seasonalDecompose: pure weekly cycle decomposes exactly, edges NULL the trend") {
    import spark.implicits._
    import graft.operators.Climate
    def ev(day: Int, v: Double) =
      (java.sql.Timestamp.valueOf(f"2024-01-${day + 1}%02d 12:00:00"), "view", v)
    // y = dow: every full centered frame sums 0+..+6 → trend 3.0,
    // seasonal = dow - 3, residual 0
    val df = (0 until 21).map(i => ev(i, (i % 7).toDouble))
      .toDF("ts", "event_type", "value")
    val rows = Climate.seasonalDecompose(df).collect()
    assert(rows.length == 21)
    rows.foreach { r =>
      val day = r.getLong(1)
      if (day < 3 || day > 17) {
        assert(r.isNullAt(3) && r.isNullAt(5), s"edge day $day: $r")
      } else {
        assert(r.getDouble(3) == 3.0, s"trend day $day: $r")
        assert(r.getDouble(5) == 0.0, s"residual day $day: $r")
      }
      assert(r.getDouble(4) == (day % 7).toDouble - 3.0, s"seasonal: $r")
    }
  }

  test("theilIndex: zero at equality, positive-only filter, hand-replayed two-value case") {
    import spark.implicits._
    import graft.operators.Aggregations
    val eq = Seq(("a", 5.0), ("a", 5.0), ("a", 5.0), ("b", -1.0), ("b", 2.0))
      .toDF("g", "v")
    val r = Aggregations.theilIndex(eq, col("g"), col("v")).collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getDouble(2)))).toMap
    assert(r("a") == ((3L, 0.0)), s"got $r")
    // group b keeps only v=2.0 (positive filter) → single value → 0
    assert(r("b") == ((1L, 0.0)), s"got $r")
    // two-value replay with the engine's exact quantization chain
    val tv = Seq(("g", 1.0), ("g", 3.0)).toDF("g", "v")
    val got = Aggregations.theilIndex(tv, col("g"), col("v"))
      .collect().head.getDouble(2)
    val mu = (math.floor(1.0 * 1e6 + 0.5) + math.floor(3.0 * 1e6 + 0.5)) / 1e6 / 2.0
    val t1 = math.floor((1.0 / mu) * math.log(1.0 / mu) * 1e6 + 0.5)
    val t2 = math.floor((3.0 / mu) * math.log(3.0 / mu) * 1e6 + 0.5)
    val want = math.floor((t1 + t2) / 1e6 / 2.0 * 1e6 + 0.5) / 1e6
    assert(got == want, s"got $got want $want")
  }

  test("wilcoxonSignedRank: hand-checked W+ and z, zero diffs dropped, tie correction applied") {
    import spark.implicits._
    import graft.operators.Climate
    def ev(t: String, day: Int, v: Double) =
      (java.sql.Timestamp.valueOf(f"2024-01-${day + 1}%02d 12:00:00"), t, v)
    // diffs d = +1, +2, +3, -4 and one ZERO pair (dropped): |d| ranks
    // 1..4, W+ = 6, E = 5, Var = 7.5, z = 1/sqrt(7.5) = 0.365148
    val a = Seq(ev("view", 0, 11.0), ev("purchase", 0, 10.0),
      ev("view", 1, 12.0), ev("purchase", 1, 10.0),
      ev("view", 2, 13.0), ev("purchase", 2, 10.0),
      ev("view", 3, 6.0), ev("purchase", 3, 10.0),
      ev("view", 4, 7.0), ev("purchase", 4, 7.0))
    val r1 = Climate.wilcoxonSignedRank(a.toDF("ts", "event_type", "value"),
      "view", "purchase").collect().head
    assert((r1.getLong(0), r1.getDouble(1), r1.getDouble(2)) ==
      ((4L, 6.0, 0.365148)), s"got $r1")
    // tie in |d|: d = +1, -1, +2 → avg ranks 1.5, 1.5, 3; W+ = 4.5;
    // Var = 3·4·7/24 − (2³−2)/48 = 3.375; z = 1.5/sqrt(3.375)
    val b = Seq(ev("view", 0, 11.0), ev("purchase", 0, 10.0),
      ev("view", 1, 9.0), ev("purchase", 1, 10.0),
      ev("view", 2, 12.0), ev("purchase", 2, 10.0))
    val r2 = Climate.wilcoxonSignedRank(b.toDF("ts", "event_type", "value"),
      "view", "purchase").collect().head
    assert((r2.getLong(0), r2.getDouble(1), r2.getDouble(2)) ==
      ((3L, 4.5, 0.816497)), s"got $r2")
    // all diffs zero → no pairs survive → empty result
    val z = Seq(ev("view", 0, 5.0), ev("purchase", 0, 5.0))
    assert(Climate.wilcoxonSignedRank(z.toDF("ts", "event_type", "value"),
      "view", "purchase").collect().head.getLong(0) == 0L)
  }

  test("kCenterSelect: hand-traced greedy farthest-point order on planted 2-D geometry") {
    import spark.implicits._
    // seed 0 at origin; then 1 (d2 100); then 3 (min(d2 to {0,1}) =
    // min(50, 50) = 50); then 2 (min-d2 1)
    val emb = Seq(
      (0L, Array(0f, 0f)), (1L, Array(10f, 0f)),
      (2L, Array(0f, 1f)), (3L, Array(5f, 5f)))
      .toDF("vec_id", "embedding")
    val rows = operators.Similarity.kCenterSelect(emb, k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))
    assert(rows(0)._1 == 1L && rows(0)._2 == 0L && rows(0)._3.isNaN)
    assert(rows(1) == ((2L, 1L, 100.0)), s"got ${rows.toSeq}")
    assert(rows(2) == ((3L, 3L, 50.0)), s"got ${rows.toSeq}")
    assert(rows(3) == ((4L, 2L, 1.0)), s"got ${rows.toSeq}")
  }

  test("kCenterSelect: NULL vec_id and an exhausted corpus fail with distinct messages") {
    import spark.implicits._
    val two: Seq[(Option[Long], Array[Float])] =
      Seq((Some(0L), Array(0f, 0f)), (Some(1L), Array(1f, 0f)))
    val exhausted = intercept[IllegalStateException] {
      operators.Similarity.kCenterSelect(two.toDF("vec_id", "embedding"), k = 3)
    }
    assert(exhausted.getMessage ==
      "kCenterSelect: candidate set exhausted at rank 3 (k=3 > corpus)")
    val nullId = intercept[IllegalStateException] {
      operators.Similarity.kCenterSelect(
        (two :+ ((None, Array(5f, 5f)))).toDF("vec_id", "embedding"), k = 2)
    }
    assert(nullId.getMessage.contains("NULL vec_id"), nullId.getMessage)
    assert(!nullId.getMessage.contains("exhausted"), nullId.getMessage)
  }

  test("driver-held selectors: k·d past MaxModelLiterals fails, naming operator and bound") {
    import spark.implicits._
    import graft.operators.Similarity
    // no zero vector: mmrSelect's cosine divides by the norms
    val emb = Seq((0L, Array(1f, 1f)), (1L, Array(1f, 0f)), (2L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val bound = Similarity.MaxModelLiterals
    val k = bound / 2 + 1 // 2-D vectors: k·d = bound + 2
    Seq[(String, () => Unit)](
      "kmeansExact" -> (() => Similarity.kmeansExact(emb, k = k)),
      "kCenterSelect" -> (() => Similarity.kCenterSelect(emb, k = k)),
      "mmrSelect" -> (() => Similarity.mmrSelect(emb, queryId = 0L, k = k))
    ).foreach { case (op, build) =>
      val e = intercept[IllegalArgumentException](build())
      assert(e.getMessage.contains(s"$op: ") &&
        e.getMessage.contains(s"exceed the bound of $bound"), e.getMessage)
    }
  }

  test("cohensD: hand-checked effect size, zero at identical samples, degenerate pool NULLs") {
    import spark.implicits._
    import graft.operators.Aggregations
    def ev(t: String, v: Double) =
      (java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), t, v)
    // a = [2,4], b = [1,3]: means 3, 2; s2 both 2 → pooled 2 → d = 1/√2
    val r = Aggregations.cohensD(Seq(
      ev("view", 2.0), ev("view", 4.0),
      ev("purchase", 1.0), ev("purchase", 3.0))
      .toDF("ts", "event_type", "value"), "view", "purchase").collect().head
    assert((r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
      r.getDouble(4)) == ((2L, 2L, 3.0, 2.0, 0.707107)), s"got $r")
    // identical samples → d = 0
    val z = Aggregations.cohensD(Seq(
      ev("view", 5.0), ev("view", 7.0),
      ev("purchase", 5.0), ev("purchase", 7.0))
      .toDF("ts", "event_type", "value"), "view", "purchase").collect().head
    assert(z.getDouble(4) == 0.0, s"got $z")
    // both sides constant → degenerate pool → NULL
    val c = Aggregations.cohensD(Seq(
      ev("view", 5.0), ev("view", 5.0),
      ev("purchase", 3.0), ev("purchase", 3.0))
      .toDF("ts", "event_type", "value"), "view", "purchase").collect().head
    assert(c.isNullAt(4), s"got $c")
  }

  test("audienceOverlap: exact intersections, zero-overlap pairs kept, containment reads 1.0") {
    import spark.implicits._
    import graft.operators.Aggregations
    // A = {1,2,3,4}, B = {3,4} (⊂ A), C = {9} (disjoint); duplicate
    // events must not inflate audiences
    val ev = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("a", 4L), ("a", 4L),
      ("b", 3L), ("b", 4L), ("b", 3L), ("c", 9L))
      .toDF("event_type", "user_id")
    val r = Aggregations.audienceOverlap(ev).collect()
      .map(x => ((x.getString(0), x.getString(1)),
        (x.getLong(2), x.getLong(3), x.getLong(4), x.getDouble(5),
          x.getDouble(6)))).toMap
    assert(r(("a", "b")) == ((4L, 2L, 2L, 0.5, 1.0)), s"got $r")
    assert(r(("a", "c")) == ((4L, 1L, 0L, 0.0, 0.0)), s"got $r")
    assert(r(("b", "c")) == ((2L, 1L, 0L, 0.0, 0.0)), s"got $r")
    assert(r.size == 3)
  }

  test("ljungBox: an alternating series has every r = ±1, Q matches the closed form") {
    import spark.implicits._
    import graft.operators.Climate
    val ev = (0 until 10).map { i =>
      (java.sql.Timestamp.valueOf(f"2024-01-${i + 1}%02d 12:00:00"),
        "a", if (i % 2 == 0) 10.0 else 20.0)
    }.toDF("ts", "event_type", "value")
    val r = Climate.ljungBox(ev).collect().head
    // every lag 1..7 is ±1 (rendered), so r² = 1 and
    // Q = n(n+2)·Σ 1/(n−k) with the operator's 1e-12 term grid
    val sumT = (1 to 7).map(k =>
      math.floor(1.0 / (10.0 - k) * 1e12 + 0.5).toLong).sum.toDouble / 1e12
    val qExp = math.floor(10.0 * 12.0 * sumT * 1e4 + 0.5) / 1e4
    assert((r.getLong(1), r.getLong(2), r.getDouble(3)) == ((10L, 7L, qExp)),
      s"got $r, expected Q $qExp")
  }

  test("groupQuantilesRank: type-1 rank picks, ceil cuts on a non-divisible group") {
    import spark.implicits._
    import graft.operators.Aggregations
    val df = ((1 to 100).map(i => ("a", i.toDouble, i.toLong)) ++
      (1 to 7).map(i => ("b", i * 10.0, i.toLong)))
      .toDF("g", "v", "k")
    val r = Aggregations.groupQuantilesRank(df, col("g"), col("v"),
      Seq(col("k"))).collect()
      .map(x => x.getString(0) ->
        ((x.getDouble(1), x.getDouble(2), x.getDouble(3), x.getDouble(4))))
      .toMap
    // n=100: cut ranks are exactly 25/50/75/90
    assert(r("a") == ((25.0, 50.0, 75.0, 90.0)), s"got $r")
    // n=7: ⌈1.75⌉=2, ⌈3.5⌉=4, ⌈5.25⌉=6, ⌈6.3⌉=7 → values 20/40/60/70
    assert(r("b") == ((20.0, 40.0, 60.0, 70.0)), s"got $r")
  }

  test("m4Downsample: first/last by total order (same-µs tie on event_id), min/max exact") {
    import spark.implicits._
    import graft.operators.Climate
    val t0 = "2024-01-01 00:00:00"
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      // same-µs pair at the bucket start: event_id 1 wins first
      (2L, ts(t0), "a", 50.0),
      (1L, ts(t0), "a", 40.0),
      (3L, ts("2024-01-01 06:00:00"), "a", 5.0),
      (4L, ts("2024-01-01 23:00:00"), "a", 99.0),
      // second day, single point
      (5L, ts("2024-01-02 12:00:00"), "a", 7.0)
    ).toDF("event_id", "ts", "event_type", "value")
    val r = Climate.m4Downsample(ev).collect()
      .map(x => x.getDate(1).toString ->
        ((x.getDouble(3), x.getDouble(5), x.getDouble(6), x.getDouble(7),
          x.getLong(8)))).toMap
    // (v_first, v_last, v_min, v_max, n)
    assert(r("2024-01-01") == ((40.0, 99.0, 5.0, 99.0, 4L)), s"got $r")
    assert(r("2024-01-02") == ((7.0, 7.0, 7.0, 7.0, 1L)), s"got $r")
  }

  test("kCorePeel: a chain hanging off a triangle peels away, the core keeps its degrees") {
    import spark.implicits._
    import graft.operators.Graph
    // triangle {1,2,3} + tail 3-4-5-6: at k=2 the whole tail peels
    // (endpoint-first, one node per round) and the triangle survives
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("src", "dst")
    val r = Graph.kCorePeel(e, k = 2, rounds = 5).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == Map(1L -> 2L, 2L -> 2L, 3L -> 2L), s"got $r")
    // at k=3 even the triangle dies
    val r3 = Graph.kCorePeel(e, k = 3, rounds = 5).count()
    assert(r3 == 0L, s"got $r3")
  }

  test("monthlyGrowth: gap months yield NULL MoM, exact-12-month lag gates YoY") {
    import spark.implicits._
    import graft.operators.Windows
    def d(s: String) = java.sql.Date.valueOf(s)
    // one priority: Jan 1995 (100), Feb 1995 (150), Apr 1995 (gap!),
    // Jan 1996 (200 — YoY vs Jan 1995)
    // plus priority Q: 13 consecutive months → a REAL YoY hit
    val qRows = (0 to 12).map { i =>
      val ym = f"${1995 + i / 12}-${i % 12 + 1}%02d-05"
      ("Q", d(ym), if (i == 12) 110.0 else 100.0)
    }
    val orders = (Seq(
      ("P", d("1995-01-10"), 100.0),
      ("P", d("1995-02-10"), 150.0),
      ("P", d("1995-04-10"), 120.0),
      ("P", d("1996-01-10"), 200.0)
    ) ++ qRows).toDF("o_orderpriority", "o_orderdate", "o_totalprice")
    val r = Windows.monthlyGrowth(orders).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2)) ->
        ((x.getLong(3), Option(x.get(4)), Option(x.get(5))))).toMap
    assert(r(("P", 1995L, 1L)) == ((10000L, None, None)), s"got $r")
    assert(r(("P", 1995L, 2L)) == ((15000L, Some(50.0), None)), s"got $r")
    // April: March missing → NULL MoM
    assert(r(("P", 1995L, 4L)) == ((12000L, None, None)), s"got $r")
    // P's Jan 1996: lag-12 row is NOT 12 months back (only 4 rows) →
    // the index guard refuses YoY; MoM refused too (Dec 1995 absent)
    assert(r(("P", 1996L, 1L)) == ((20000L, None, None)), s"got $r")
    // Q's Jan 1996: 12 consecutive months back → YoY = +10%, MoM too
    assert(r(("Q", 1996L, 1L)) == ((11000L, Some(10.0), Some(10.0))),
      s"got $r")
  }

  test("maxDrawdown: peak-to-trough argmax with deterministic tie, frac NULL on non-positive peak") {
    import spark.implicits._
    import graft.operators.Windows
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      // series a: 10, 20, 15, 5, 25, 12 → max dd = 15 (peak 20 → trough 5)
      (1L, ts("2024-01-01 00:00:01"), "a", 10.0),
      (2L, ts("2024-01-01 00:00:02"), "a", 20.0),
      (3L, ts("2024-01-01 00:00:03"), "a", 15.0),
      (4L, ts("2024-01-01 00:00:04"), "a", 5.0),
      (5L, ts("2024-01-01 00:00:05"), "a", 25.0),
      (6L, ts("2024-01-01 00:00:06"), "a", 12.0),
      // series b: all negative → dd realized but frac NULL (peak ≤ 0)
      (7L, ts("2024-01-01 00:00:01"), "b", -1.0),
      (8L, ts("2024-01-01 00:00:02"), "b", -4.0)
    ).toDF("event_id", "ts", "event_type", "value")
    val r = Windows.maxDrawdown(ev).collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getDouble(2),
        x.getDouble(3), x.getDouble(4), Option(x.get(5))))).toMap
    assert(r("a") == ((6L, 15.0, 20.0, 5.0, Some(0.75))), s"got $r")
    assert(r("b") == ((2L, 3.0, -1.0, -4.0, None)), s"got $r")
  }

  test("changePoint: a clean level shift locates its boundary day exactly") {
    import spark.implicits._
    import graft.operators.Climate
    // 20 days: 0 for days 0..9, 10 for days 10..19 → mean 5, cusum
    // bottoms at exactly day 9 (−50), |cusum| max there, frac 0.5
    val ev = (0 until 20).map { d =>
      (d.toLong, java.sql.Timestamp.valueOf(f"2024-01-${d + 1}%02d 12:00:00"),
        "a", if (d < 10) 0.0 else 10.0)
    }.toDF("event_id", "ts", "event_type", "value")
    val r = Climate.changePoint(ev).collect().map(x =>
      (x.getString(0), x.getLong(1), x.getLong(2), x.getDouble(3),
        x.getDouble(4)))
    assert(r.toSeq == Seq(("a", 20L, 9L, -50.0, 0.5)), s"got ${r.toSeq}")
  }

  test("skyline2d: dominance filtered, duplicate points both survive") {
    import spark.implicits._
    import graft.operators.Relational
    val part = Seq(
      (1L, "B", 1.0, 5), (2L, "B", 1.0, 5),  // duplicates: both survive
      (3L, "B", 2.0, 4),                     // smaller size: survives
      (4L, "B", 2.0, 6),                     // dominated by (1.0, 5)
      (5L, "B", 0.5, 7),                     // cheapest: survives
      (6L, "B", 3.0, 4),                     // dominated by (2.0, 4)
      (7L, "C", 9.0, 9)                      // alone in its brand
    ).toDF("p_partkey", "p_brand", "p_retailprice", "p_size")
    val r = Relational.skyline2d(part).collect().map(_.getLong(1)).toSet
    assert(r == Set(1L, 2L, 3L, 5L, 7L), s"got $r")
  }

  test("cohortLtv: cumulative cents and per-member LTV by cohort age") {
    import spark.implicits._
    import graft.operators.Windows
    def d(s: String) = java.sql.Date.valueOf(s)
    val orders = Seq(
      (100L, d("1995-01-10"), 10.0), (100L, d("1995-02-03"), 20.0),
      (200L, d("1995-01-20"), 5.0),
      (300L, d("1995-02-15"), 7.0)
    ).toDF("o_custkey", "o_orderdate", "o_totalprice")
    val r = Windows.cohortLtv(orders).collect()
      .map(x => ((x.getLong(0), x.getLong(1), x.getLong(2))) ->
        ((x.getLong(3), x.getLong(4), x.getLong(5), x.getLong(6),
          x.getDouble(7)))).toMap
    // Jan-1995 cohort: 2 members; age 0 = $15, age 1 = $20 cumulative $35
    assert(r((1995L, 1L, 0L)) == ((2L, 2L, 1500L, 1500L, 7.5)), s"got $r")
    assert(r((1995L, 1L, 1L)) == ((2L, 1L, 2000L, 3500L, 17.5)), s"got $r")
    // Feb-1995 cohort: the Feb-first customer only
    assert(r((1995L, 2L, 0L)) == ((1L, 1L, 700L, 700L, 7.0)), s"got $r")
  }

  test("poissonDays: a planted spike day flags, ordinary days don't") {
    import spark.implicits._
    import graft.operators.Climate
    // series a: 10 events on days 0..9 except day 5 carries 40
    // → tot 130 over span 10, λ = 13
    val ev = (0 until 10).flatMap { d =>
      val n = if (d == 5) 40 else 10
      (0 until n).map(i => ((d * 100 + i).toLong,
        java.sql.Timestamp.valueOf(f"2024-01-${d + 1}%02d 0${i % 10}:00:00"),
        "a", 1.0))
    }.toDF("event_id", "ts", "event_type", "value")
    val r = Climate.poissonDays(ev).collect()
      .map(x => x.getLong(1) -> ((x.getLong(2), x.getDouble(3),
        x.getLong(4)))).toMap
    def z(n: Long) =
      math.floor((n - 13.0) / math.sqrt(13.0) * 1e4 + 0.5) / 1e4
    assert(r(5L) == ((40L, z(40), 1L)), s"got $r")
    assert(r(0L) == ((10L, z(10), 0L)), s"got $r")
    assert(r.size == 10 && r.values.count(_._3 == 1L) == 1, s"got $r")
  }

  test("businessDaySla: weekends excluded by the Monday-anchor integer chain") {
    import spark.implicits._
    import graft.operators.Climate
    def d(s: String) = java.sql.Date.valueOf(s)
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    // 2024-01-01 is a Monday
    val orders = Seq(
      (1L, d("2024-01-05")),  // Friday
      (2L, d("2024-01-01")),  // Monday
      (3L, d("2024-01-01"))
    ).toDF("o_orderkey", "o_orderdate")
    val li = Seq(
      (1L, ts("2024-01-08")),  // Fri → next Mon: 1 business day
      (2L, ts("2024-01-07")),  // Mon → Sun: the full work week, 5
      (3L, ts("2024-01-01"))   // same day: 0
    ).toDF("l_orderkey", "l_shipdate")
    val r = Climate.businessDaySla(orders, li).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2), x.getLong(3),
        x.getLong(4)))
    assert(r.toSeq == Seq((202401L, 3L, 2.0, 0L, 5L)), s"got ${r.toSeq}")
  }

  test("rollingVolatility: trailing population std on the integer grid") {
    import spark.implicits._
    import graft.operators.Windows
    def ts(i: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$i%02d")
    val ev = Seq((1L, ts(1), "a", 10.0), (2L, ts(2), "a", 20.0),
      (3L, ts(3), "a", 30.0)).toDF("event_id", "ts", "event_type", "value")
    val r = Windows.rollingVolatility(ev).collect()
      .map(x => x.getLong(1) -> ((x.getLong(2), x.getDouble(3)))).toMap
    assert(r(1L) == ((1L, 0.0)), s"got $r")
    assert(r(2L) == ((2L, 5.0)), s"got $r")  // var of {10,20} = 25
    // var of {10,20,30} = 200/3 → std 8.16496…
    assert(r(3L) == ((3L, 8.165)), s"got $r")
  }

  test("paretoCut: minimal revenue-sorted head covering the threshold, exact boundary") {
    import spark.implicits._
    import graft.operators.Aggregations
    def d(s: String) = java.sql.Date.valueOf(s)
    val orders = Seq(
      (10L, d("1995-01-01"), 50.0), (20L, d("1995-01-02"), 30.0),
      (30L, d("1995-01-03"), 10.0), (40L, d("1995-01-04"), 10.0)
    ).toDF("o_custkey", "o_orderdate", "o_totalprice")
    val cust = Seq((10L, "S"), (20L, "S"), (30L, "S"), (40L, "S"))
      .toDF("c_custkey", "c_mktsegment")
    val r = Aggregations.paretoCut(orders, cust).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getDouble(3),
        x.getDouble(4)))
    // top-2 (50+30) hit exactly the 80% threshold of 100
    assert(r.toSeq == Seq(("S", 4L, 2L, 0.5, 0.8)), s"got ${r.toSeq}")
  }

  test("twoHopRecs: common-neighbor scores, direct edges excluded, top-k rank") {
    import spark.implicits._
    import graft.operators.Graph
    // square 1-2-3-4-1 plus chord 1-3: node 2's two-hop candidates
    // through {1,3} are {4} (score 2; 1 and 3 are direct neighbors);
    // 4's candidate is 2 (score 2 via 1 and 3)
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (1L, 3L))
      .toDF("src", "dst")
    val r = Graph.twoHopRecs(e, k = 3).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(r.toSet == Set((2L, 4L, 2L, 1L), (4L, 2L, 2L, 1L)),
      s"got ${r.toSeq}")
  }

  test("gumbelExtremes: constant blocks yield NULL fit; a known two-block series fits exactly") {
    import spark.implicits._
    import graft.operators.Climate
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      // series a: monthly maxima 10 (Jan), 20 (Feb)
      (1L, ts("2024-01-05 00:00:00"), "a", 10.0),
      (2L, ts("2024-01-20 00:00:00"), "a", 7.0),
      (3L, ts("2024-02-10 00:00:00"), "a", 20.0),
      // series b: both blocks max 5 → zero variance → NULL fit
      (4L, ts("2024-01-01 00:00:00"), "b", 5.0),
      (5L, ts("2024-02-01 00:00:00"), "b", 5.0)
    ).toDF("event_id", "ts", "event_type", "value")
    val r = Climate.gumbelExtremes(ev).collect()
      .map(x => x.getString(0) -> ((x.getLong(1), Option(x.get(2)),
        Option(x.get(3)), Option(x.get(4))))).toMap
    // maxima {10, 20}: mean 15, sample std = sqrt(50) → replay chain
    val vq = (5.0e10 - 3.0e5 * 3.0e5 / 2.0) / 1.0
    val scale = math.sqrt(vq) / 1e4 * Climate.GumbelC
    val loc = 15.0 - Climate.GumbelGamma * scale
    val rl = loc + scale * Climate.GumbelZ10
    def h(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    assert(r("a") == ((2L, Some(h(loc)), Some(h(scale)), Some(h(rl)))),
      s"got $r")
    assert(r("b") == ((2L, None, None, None)), s"got $r")
  }

  test("herfindahl: equal duopoly scores 0.5, monopoly 1.0, effective count inverts") {
    import spark.implicits._
    import graft.operators.Aggregations
    def d(s: String) = java.sql.Date.valueOf(s)
    val orders = Seq(
      (10L, d("1995-01-01"), 40.0), (20L, d("1995-01-02"), 40.0),
      (30L, d("1995-01-03"), 9.0)
    ).toDF("o_custkey", "o_orderdate", "o_totalprice")
    val cust = Seq((10L, "A"), (20L, "A"), (30L, "B"))
      .toDF("c_custkey", "c_mktsegment")
    val r = Aggregations.herfindahl(orders, cust).collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getDouble(2),
        x.getDouble(3)))).toMap
    assert(r("A") == ((2L, 0.5, 2.0)), s"got $r")
    assert(r("B") == ((1L, 1.0, 1.0)), s"got $r")
  }

  test("dedupContainment: full doc-inside-doc scores 1.0; disjoint docs never pair") {
    import spark.implicits._
    import graft.operators.Dedup
    val small = "alpha beta gamma delta epsilon zeta"
    val host = small + " eta theta iota kappa lambda mu nu xi"
    val other = "one two three four five six seven eight nine ten"
    val docs = Seq((1L, small), (2L, host), (3L, other))
      .toDF("doc_id", "text")
    val r = Dedup.dedupContainment(docs).collect()
      .map(x => ((x.getLong(0), x.getLong(1)), x.getDouble(5))).toMap
    // every 3-shingle of doc 1 appears in doc 2 → containment 1.0
    assert(r.keySet == Set((1L, 2L)), s"got $r")
    assert(math.abs(r((1L, 2L)) - 1.0) < 1e-9, s"got $r")
  }
}
