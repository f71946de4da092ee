package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Join surface (SURVEY §2.3).
  *
  * Reference semantics: the population pipeline's hand-rolled
  * broadcast hash join — build a country→value dict, probe per
  * feature, drop misses (pipelines/population_pipeline.py:38-45 build,
  * :57-65 probe; inner semantics via `continue` on miss) — and the
  * land mask, which is a left-semi join in disguise
  * (pipelines/precipitation_pipeline.py:159-167). The previous-month
  * targeting in utils/spot_manager.py:52-58 is the as-of analog.
  *
  * Scale posture:
  *  - dims (nation/region/supplier) are broadcast — no shuffle of the
  *    fact side; Catalyst picks BroadcastHashJoin under the threshold
  *    and AQE can switch strategy at runtime.
  *  - fact-fact joins (lineitem⋈orders) shuffle both sides on the key
  *    → sort-merge join; with AQE skew-join splitting oversized
  *    partitions.
  *  - the as-of join is the union+window formulation: ONE shuffle on
  *    (user_id) + a linear scan, instead of an O(n·m) range join —
  *    this is the shape that survives 100 TB.
  */
object Joins {

  /** Salt fan-out for the skew-mitigated join. */
  val SaltCount = 8

  /** Skew-mitigated large-large equi join (manual salting — the
    * mitigation that works even where AQE's skew-join splitting can't,
    * e.g. under a required distribution or on a build side):
    * the probe side appends a deterministic salt in [0, S) derived from
    * NON-key columns, the other side is exploded S× with every salt, and
    * the join key becomes (key, salt) — a single hot key now spreads
    * over S shuffle partitions instead of one straggler task. Identical
    * join semantics: each probe row meets each matching build row
    * exactly once (at its own salt).
    *
    * Cost model: S× replication of the SMALLER side's shuffle vs. an
    * S-way split of the hottest key's partition — worth it exactly when
    * the skew term dominates, which is when this operator is reached
    * for. */
  def saltedJoin(big: DataFrame, bigKey: String, saltSrc: Seq[String],
      small: DataFrame, smallKey: String): DataFrame = {
    val salted = big.withColumn("salt",
      pmod(xxhash64(saltSrc.map(col): _*), lit(SaltCount)).cast("int"))
    val fanned = small.withColumn("salt",
      explode(array((0 until SaltCount).map(i => lit(i)): _*)))
    // merge hint: salting only matters when the join SHUFFLES — in the
    // broadcast regime there is no per-key partition to skew. At
    // harness scale Catalyst would broadcast the fanned side and the
    // mechanism under test would never execute; at the scale this
    // operator exists for, neither side is broadcastable and SMJ is
    // what Catalyst picks anyway. (PlanSpec pins hashpartitioning on
    // the salt.)
    salted.hint("merge").join(fanned,
      salted(bigKey) === fanned(smallKey) && salted("salt") === fanned("salt"),
      "inner")
  }

  /** Co-located (bucketed) large-large join: both sides are written as
    * 8-bucket tables hash-bucketed AND sorted on the join key, so the
    * sort-merge join reads bucket i of each side in the same task —
    * ZERO exchanges at query time (asserted in PlanSpec; a LOCAL
    * per-bucket sort remains because Spark ≥3.0 ignores sortBy
    * metadata on read, SPARK-28632 — linear and in-memory, no network).
    * This is the 100 TB pattern for a fact-fact join that runs
    * repeatedly: pay the distribution once at ingest, never per query.
    * Join-only frame exposed for the plan assertion; the registered
    * query aggregates it for the oracle row.
    *
    * The bucketed tables are an ingest artifact built once through
    * [[graft.ProcessCache]], keyed by the SparkContext that holds them
    * in its catalog and fingerprinted by the orders and lineitem files:
    * repeated invocations (bench warmup + timed pass, verify) measure
    * the join, not a re-ingest, and a fresh SparkContext rebuilds. */
  def bucketedJoin(s: SparkSession, d: String): DataFrame = {
    // table names carry the sfDir so two scale factors in ONE session
    // each get their own bucketed tables — a shared name would let the
    // second build overwrite the first while its cache entry survives
    val tag = d.replaceAll("[^A-Za-z0-9]", "_")
    graft.ProcessCache.get(s, "bucketed:" + d,
        Tables.path(d, "orders"), Tables.path(d, "lineitem")) {
      val warehouse = graft.sources.IO.tmp("graft_bucketed_")
      // repartition(8, key) before bucketBy(8, key): repartition and the
      // bucket spec use the same murmur3 hash, so each task holds exactly
      // one bucket's rows — a parallel write that still yields ONE file
      // per bucket (vs. the single-split source writing all 8 buckets
      // from one task, or N tasks writing N files per bucket)
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"))
        .repartition(8, col("o_orderkey"))
        .write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$warehouse/orders").saveAsTable(s"graft_bkt_orders_$tag")
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_extendedprice"))
        .repartition(8, col("l_orderkey"))
        .write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$warehouse/lineitem").saveAsTable(s"graft_bkt_lineitem_$tag")
    }
    // merge hint: at harness scale Catalyst would otherwise broadcast
    // the small side and never exercise the bucket co-location; at
    // 100 TB neither side is broadcastable and SMJ is the natural pick
    s.table(s"graft_bkt_lineitem_$tag").hint("merge")
      .join(s.table(s"graft_bkt_orders_$tag"),
        col("l_orderkey") === col("o_orderkey"), "inner")
  }

  /** Pure RANGE join — |t_probe − t_build| ≤ window with NO equi key.
    * Catalyst plans a bare range predicate as BroadcastNestedLoopJoin:
    * O(n·m) compares, and impossible when neither side fits a
    * broadcast. Bucketing the time axis into window-wide cells and
    * exploding the probe side over {b−1, b, b+1} turns it into an EQUI
    * join on the bucket: any pair within the window shares one of the
    * probe's three buckets with the build row's single bucket — and
    * meets exactly ONCE there (the build row has one bucket), so no
    * dedup pass is needed. The exact |Δt| predicate then filters
    * bucket-locally. Cost model: 3× replication of the probe side's
    * shuffle buys a keyed, partitionable join instead of a quadratic
    * loop — the standard temporal-correlation shape at 100 TB.
    * Arithmetic is exact integer microseconds (unix_micros), so bucket
    * assignment and the predicate agree bit-for-bit with the oracle's
    * epoch_us. */
  def rangeBucketedJoin(probe: DataFrame, probeTs: String,
      build: DataFrame, buildTs: String, windowSec: Int): DataFrame = {
    val w = windowSec * 1000000L
    // integral floor division (x - pmod(x, w) is exactly divisible, so
    // `div` truncation IS the floor): exact at ANY timestamp magnitude,
    // where floor(long / long) goes through double division and is only
    // exact while the quotient's half-ulp stays below 1/w
    def bucket(tsCol: String): Column =
      expr(s"(unix_micros($tsCol) - pmod(unix_micros($tsCol), ${w}L)) div ${w}L")
    val builds = build.withColumn("_b", bucket(buildTs))
    val probes = probe
      .withColumn("_pb", bucket(probeTs))
      .withColumn("_b", explode(array(col("_pb") - 1, col("_pb"), col("_pb") + 1)))
      .drop("_pb")
    probes.join(builds, "_b")
      .filter(abs(unix_micros(col(probeTs)) - unix_micros(col(buildTs))) <= w)
      .drop("_b")
  }

  /** Bloom-prefiltered semi join — explicit runtime row-level
    * filtering: build a Bloom sketch of the dim keys (distributed
    * aggregate; the driver receives merged BITS, never key rows), probe
    * it inside the fact scan's codegen loop via
    * [[graft.plans.BloomMightContainLong]], then remove the fpp-bounded
    * false positives with an exact semi join over the (already tiny)
    * survivor set. Result is row-identical to the plain semi join.
    *
    * Scale posture: the sketch is ~1.2 MB per million dim keys at 1%
    * fpp — broadcastable far past the point where a hash relation of
    * key rows is not — and fact rows that cannot join are dropped
    * BEFORE the exchange, so the shuffle (or broadcast probe) sees
    * only `|match| + fpp·|fact|` rows. This is the manual form of
    * Spark's `runtimeFilter.bloomFilter` rewrite, usable where the
    * automatic one doesn't fire (pre-filtered dims, non-equi layering,
    * cross-job reuse of a built sketch). */
  def bloomSemiJoin(fact: DataFrame, factKey: String,
      dim: DataFrame, dimKey: String, fpp: Double = 0.01): DataFrame = {
    val keys = dim.select(col(dimKey).cast("long").as(dimKey))
    // expected-items bound = dim row count (>= distinct keys); the
    // count is a driver scalar, the sketch build a treeAggregate —
    // both one pass over the (small) dim side
    val n = math.max(keys.count(), 1L)
    val bloom = keys.stat.bloomFilter(dimKey, n, fpp)
    val pre = fact.filter(org.apache.spark.sql.GraftBridge.column(
      graft.plans.BloomMightContainLong(
        org.apache.spark.sql.GraftBridge.expression(col(factKey).cast("long")),
        bloom)))
    pre.join(broadcast(keys), pre(factKey) === keys(dimKey), "left_semi")
  }

  /** Star-schema rollup: the fact stream joined through its full
    * dimension chain (customer → nation → region) with every dim
    * BROADCAST, then aggregated on low-cardinality names — revenue by
    * region/nation. The canonical warehouse plan shape: at 100 TB the
    * fact side flows scan → 3 pipelined broadcast probes → partial
    * agg without EVER shuffling fact rows; the only exchange carries
    * (region, nation, partials). Pinned in PlanSpec (3 broadcast
    * joins, 0 sort-merge). */
  def starRollup(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
      .orderBy(col("r_name"), col("n_name"))

  /** NEAREST-neighbor as-of: each purchase matched to the CLOSEST
    * view by the same user in EITHER direction (|Δt|, ties to the
    * earlier side) — the bidirectional sibling of `q_join_asof`'s
    * backward-only match (pandas `merge_asof(direction='nearest')`).
    *
    * Same union+window formulation run twice over ONE shuffle on the
    * user key: the backward pass is the ascending running last-view,
    * the forward pass the same frame on the DESCENDING sort ("first
    * view after me" ≡ "last view before me, time-reversed" — the
    * interpolateGaps trick, so both frames stay incremental O(n),
    * never an unbounded-following rescan). Views sort before
    * purchases at equal ts in BOTH directions (is_probe ASC
    * tie-break), so an equal-ts view matches with Δt = 0. The side
    * pick compares exact integer microseconds. Purchases by users
    * with no views keep a NULL match (left semantics). */
  /** TOLERANCE as-of: the backward match (latest view ≤ t by the same
    * user), NULLed when it is staler than `tolUs` microseconds —
    * pandas `merge_asof(tolerance=...)`. Identical one-shuffle
    * union+window shape as the plain backward as-of; the tolerance is
    * a per-row codegen'd branch on the already-computed match, so left
    * semantics are preserved (too-stale probes keep their row with a
    * NULL match + NULL dt — "unattributed" is itself a metric). */
  def asofTolerance(events: DataFrame, tolUs: Long): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), lit(null).cast("long").as("event_id"))
    val purch = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val tagged = views.withColumn("is_probe", lit(0))
      .unionByName(purch.withColumn("is_probe", lit(1)))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("is_probe"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("bts", last(when(col("is_probe") === 0, col("ts")),
        ignoreNulls = true).over(w))
      .filter(col("is_probe") === 1)
      .withColumn("matched_ts",
        when(unix_micros(col("ts")) - unix_micros(col("bts")) <= tolUs,
          col("bts")))
      .select(col("event_id"), col("user_id"), col("matched_ts"),
        (unix_micros(col("ts")) - unix_micros(col("matched_ts"))).as("dt_us"))
      .orderBy(col("event_id"))
  }

  /** INTERVAL-OVERLAP self-join across keys: every pair of intervals
    * from DIFFERENT keys that strictly overlap ([s,e) semantics —
    * zero-length and point-touching intervals never match), with the
    * exact overlap duration — concurrency analysis ("which sessions
    * were live together"), the two-sided generalization of the
    * point-in-interval join.
    *
    * Scale shape: the [[rangeBucketedJoin]] trick extended to
    * interval×interval — each interval explodes over the fixed-width
    * time buckets it spans (fan-out bounded by span/bucketUs), the
    * join is EQUI on the bucket, and each qualifying pair is emitted
    * exactly once WITHOUT a distinct: only the bucket containing the
    * overlap's start (`greatest(sa, sb) div W`) reports it. No
    * nested-loop, no cartesian, no dedup shuffle.
    *
    * Fan-out guard: each interval explodes over `span/bucketUs`
    * buckets, so one adversarial interval (a year-long "session" at an
    * hourly bucket) would quietly 8,760× its rows. An interval wider
    * than `maxBucketsPerInterval` fails LOUDLY in-plan with the
    * interval named (the [[graft.operators.Climate.resampleDaily]]
    * posture: zero extra jobs) — widen `bucketUs` or raise the bound
    * explicitly for legitimately long-lived intervals.
    *
    * Skew handling: a flash-crowd bucket (thousands of intervals live
    * in the same window) makes the bucket-equi join locally quadratic
    * on that bucket's ONE task — the pairs genuinely exist (the cost
    * is the output's), but a single straggler task serializes what 32
    * cores could share. Hot buckets are therefore SALTED, chosen by a
    * bounded driver-side census over the (already-materialized) fan —
    * the AQE posture of reading a tiny stage statistic to pick the
    * plan; when no bucket holds > `hotBucketOcc` intervals (the
    * common case) the plan is EXACTLY the unsalted one, zero overhead.
    * When hot buckets exist (capped at the 4096 hottest — the hot set
    * is a performance refinement, any subset is output-identical):
    * on hot buckets side a appends `sal = pmod(xxhash64(id), salt)`
    * to the join key while side b explodes all `salt` values (each
    * qualifying pair still meets EXACTLY once — b covers every salt,
    * a holds one), so a hot bucket's occ² probe work spreads across
    * `salt` tasks instead of one; quiet buckets carry sal = 0 on both
    * sides with zero fan-out, and the hot test is a literal InSet
    * predicate inside whole-stage codegen. `salt <= 1` or
    * `hotBucketOcc <= 0` disables the census entirely (the pre-r13
    * plan). The SOAK.md flash-crowd row pins both paths on a 2k-deep
    * hot bucket; the sf1 sweep's dense-bucket shape is where it pays
    * (23.6 → 7.2 s at local[32]). */
  def intervalOverlapJoin(iv: DataFrame, key: Column, id: Column,
      startUs: Column, endUs: Column, bucketUs: Long,
      maxBucketsPerInterval: Int = 1024,
      hotBucketOcc: Int = 1024, salt: Int = 32): DataFrame = {
    // materialize the FANNED bucket table ONCE: sides a and b are
    // differently-aliased reads of the same fan (Spark reuses no
    // exchange across them — pre-r13 the whole upstream, often a
    // window-heavy sessionize, plus the explode ran TWICE), and the
    // salting census would be a third recompute. One localCheckpoint
    // of the 5-column fan feeds all three; its size is the same
    // Σ-spans row count the join shuffles anyway, guard-bounded.
    val fanned = {
      val base = iv.select(key.as("k"), id.as("i"),
        startUs.as("s"), endUs.as("e"))
      val bkLo = expr(s"s div ${bucketUs}L")
      val bkHi = expr(s"e div ${bucketUs}L")
      val nb = bkHi - bkLo + lit(1L)
      val guardedLo = when(nb > maxBucketsPerInterval.toLong, raise_error(concat(
          lit("intervalOverlapJoin: interval "), col("i").cast("string"),
          lit(" spans "), nb.cast("string"),
          lit(s" buckets > maxBucketsPerInterval=$maxBucketsPerInterval at " +
            s"bucketUs=$bucketUs — almost certainly bad timestamps or a " +
            "too-narrow bucket; widen bucketUs or raise the bound explicitly"))))
        .otherwise(bkLo)
      base.withColumn("bk", explode(sequence(guardedLo, bkHi)))
        .localCheckpoint()
    }
    def fan(k: String, i: String, s: String, e: String) =
      fanned.select(col("k").as(k), col("i").as(i),
        col("s").as(s), col("e").as(e), col("bk"))
    val a0 = fan("ka", "ia", "sa", "ea")
    val b0 = fan("kb", "ib", "sb", "eb")
    val (a, b, joinKeys) =
      if (salt <= 1 || hotBucketOcc <= 0) (a0, b0, Seq("bk"))
      else {
        // Bounded DRIVER-SIDE census read — the AQE posture (inspect a
        // tiny statistic of an already-materialized stage, then pick
        // the plan): `fanned` is localCheckpoint'ed above, so this is
        // one cheap counts-only job, and the result is bounded by
        // construction at min(nRows/hotBucketOcc, 4096) ids — never a
        // relation-sized driver read. The hot set is a performance
        // refinement only (any subset yields identical output), so
        // capping at the 4096 hottest is always safe.
        val hotIds = fanned.groupBy(col("bk")).agg(count(lit(1)).as("occ"))
          .filter(col("occ") > hotBucketOcc.toLong)
          .orderBy(col("occ").desc, col("bk"))
          .limit(4096)
          .select("bk").collect().map(_.getLong(0)).toSeq
        if (hotIds.isEmpty) (a0, b0, Seq("bk")) // common case: plain plan
        else {
          // hot test via a broadcast hash probe on the tiny collected
          // id set (a driver-local relation — the census never
          // recomputes in-plan). NOT a literal isin(): a 720-element
          // In inside the explode generator evaluates interpreted,
          // per row — measured 19x slower than the broadcast probe
          // on the sf1 dense-bucket shape.
          val spark = iv.sparkSession
          import spark.implicits._
          val hot = broadcast(hotIds.toDF("bk")
            .select(col("bk"), lit(true).as("hot")))
          val aS = a0.join(hot, Seq("bk"), "left")
            .withColumn("sal", when(col("hot").isNotNull,
              pmod(xxhash64(col("ia")), lit(salt.toLong)))
              .otherwise(lit(0L)))
            .drop("hot")
          val bS = b0.join(hot, Seq("bk"), "left")
            .withColumn("sal", explode(when(col("hot").isNotNull,
              sequence(lit(0L), lit(salt.toLong - 1)))
              .otherwise(array(lit(0L)))))
            .drop("hot")
          (aS, bS, Seq("bk", "sal"))
        }
      }
    a.join(b, joinKeys)
      .filter(col("ka") < col("kb") &&
        col("sa") < col("eb") && col("sb") < col("ea") &&
        col("bk") === expr(s"greatest(sa, sb) div ${bucketUs}L"))
      .select(col("ka").as("key_a"), col("ia").as("id_a"),
        col("kb").as("key_b"), col("ib").as("id_b"),
        (least(col("ea"), col("eb")) - greatest(col("sa"), col("sb")))
          .as("overlap_us"))
      .orderBy(col("key_a"), col("id_a"), col("key_b"), col("id_b"))
  }

  def asofNearest(events: DataFrame): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), lit(null).cast("long").as("event_id"))
    val purch = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val tagged = views.withColumn("is_probe", lit(0))
      .unionByName(purch.withColumn("is_probe", lit(1)))
    val run = last(when(col("is_probe") === 0, col("ts")), ignoreNulls = true)
    val back = run.over(Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("is_probe"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val fwd = run.over(Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("is_probe"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val nearest = when(col("bts").isNull, col("fts"))
      .when(col("fts").isNull, col("bts"))
      .when(unix_micros(col("ts")) - unix_micros(col("bts")) <=
        unix_micros(col("fts")) - unix_micros(col("ts")), col("bts"))
      .otherwise(col("fts"))
    tagged
      .withColumn("bts", back)
      .withColumn("fts", fwd)
      .filter(col("is_probe") === 1)
      .withColumn("nearest_ts", nearest)
      .select(col("event_id"), col("user_id"), col("nearest_ts"),
        (unix_micros(col("nearest_ts")) - unix_micros(col("ts"))).as("dt_us"))
      .orderBy(col("event_id"))
  }

  /** Null-safe equi join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    * match each other instead of silently dropping — the semantics an
    * entity-resolution join needs when "key unknown" is itself a
    * matchable state. The harness tables have no NULL keys, so NULLs
    * are PLANTED from a row column inside the registered query
    * (every 10th customer and the matching dim rows) and the oracle
    * replays the construction — the q_text_pii_mask pattern.
    *
    * Scale note: `<=>` keys hash like any equi key (all NULLs land in
    * one partition — acceptable when NULL is a bounded sentinel, a
    * skew hazard if most keys are unknown; salt then). */
  def nullSafeJoin(left: DataFrame, lKey: Column, right: DataFrame,
      rKey: Column): DataFrame =
    left.join(right, lKey <=> rKey, "inner")

  /** BLOCKED fuzzy self-join (record linkage): pairs of rows whose
    * string key is within `maxDist` Levenshtein edits, found WITHOUT
    * an all-pairs comparison — candidates are generated only inside
    * blocks that share the exact blocking key AND a length band.
    *
    * The `|len(a)−len(b)| ≤ maxDist` necessary condition is not just
    * a post-join filter (the r13 form — every in-block pair was still
    * GENERATED before it ran): with band = len div (maxDist+1), two
    * names within maxDist edits have bands differing by at most 1, so
    * the probe side emits each row at {band, band+1} and the band
    * joins INTO the equi key. An oversized block whose member lengths
    * vary now expands only within-band + adjacent-band candidates —
    * the quadratic is cut by the length distribution instead of
    * surviving to the filter (a block of same-length members is
    * irreducible either way: its pairs are genuine candidates).
    *
    * Pair uniqueness: a same-band pair appears in both probe orders
    * (de-mirrored by `a_key < b_key`); an adjacent-band pair appears
    * exactly once (only the lower band probes upward), whichever key
    * order — kept unconditionally and key-sorted in the output, so
    * the emitted pair set is bit-identical to the r13 form.
    *
    * Scale contract: correctness of the blocking step is the USER'S
    * schema knowledge (a true match must share the block key — the
    * standard record-linkage deal); cost is Σ_(b,band) |cell|² which
    * stays linear-ish when cells are bounded. The shuffle carries
    * (block key, band, name) — narrow rows (probe side ×2 for the
    * band explode), and the self-join is an equi join on
    * (block key, band): hash-partitioned both sides, no
    * broadcast-of-everything, no cartesian. */
  def fuzzySelfJoin(df: DataFrame, key: Column, block: Seq[Column],
      name: Column, maxDist: Int): DataFrame = {
    val w = maxDist + 1
    val a = df.select(key.as("a_key") +: name.as("a_name") +:
      block.zipWithIndex.map { case (c, i) => c.as(s"b$i") }: _*)
      .withColumn("a_band",
        floor(length(col("a_name")).cast("long") / lit(w)).cast("long"))
      .withColumn("p_band",
        explode(array(col("a_band"), col("a_band") + lit(1L))))
    val b = df.select(key.as("b_key") +: name.as("b_name") +:
      block.zipWithIndex.map { case (c, i) => c.as(s"bb$i") }: _*)
      .withColumn("b_band",
        floor(length(col("b_name")).cast("long") / lit(w)).cast("long"))
    val blockEq = block.indices.map(i => col(s"b$i") === col(s"bb$i"))
      .reduce(_ && _)
    val cond = blockEq && col("p_band") === col("b_band") &&
      (col("a_band") =!= col("b_band") || col("a_key") < col("b_key")) &&
      abs(length(col("a_name")) - length(col("b_name"))) <= maxDist &&
      levenshtein(col("a_name"), col("b_name")) <= maxDist
    a.join(b, cond, "inner")
      .select(least(col("a_key"), col("b_key")).as("a_key"),
        greatest(col("a_key"), col("b_key")).as("b_key"),
        levenshtein(col("a_name"), col("b_name")).cast("long").as("dist"))
      .orderBy(col("a_key"), col("b_key"))
  }

  val queries: Map[String, Q] = Map(
    // Near-identical part names within a (brand, size) block — the
    // catalog-dedup shape of record linkage.
    "q_join_fuzzy" -> ((s, d) =>
      fuzzySelfJoin(Tables.part(s, d), col("p_partkey"),
        Seq(col("p_brand"), col("p_size")), col("p_name"), maxDist = 3)),
    "q_join_star" -> (starRollup _),
    "q_join_null_safe" -> ((s, d) => {
      val c = Tables.customer(s, d).select(col("c_custkey"),
        when(col("c_custkey") % 10 === 0, lit(null))
          .otherwise(col("c_nationkey")).as("nk"))
      val n = Tables.nation(s, d).select(
        when(col("n_nationkey") === 0, lit(null))
          .otherwise(col("n_nationkey")).as("nnk"), col("n_name"))
      nullSafeJoin(c, col("nk"), broadcast(n), col("nnk"))
        .select(col("c_custkey"), col("n_name"))
        .orderBy(col("c_custkey"), col("n_name"))
    }),
    // Broadcast hash join, inner, small dim side.
    "q_join_broadcast" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "inner")
        .select(col("c_custkey"), col("c_name"), col("n_name"))
        .orderBy(col("c_custkey"))
    }),

    // Large-large equi join → shuffle (sort-merge); aggregated so the
    // compare stays small while the join itself is full-size.
    "q_join_shuffle" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      li.join(o, li("l_orderkey") === o("o_orderkey"), "inner")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice")), 2).as("revenue"))
        .orderBy(col("o_orderpriority"))
    }),

    // Left outer: unmatched left rows survive with NULLs (the
    // complement of the reference's drop-on-miss probe).
    "q_join_left_outer" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy(col("c_custkey"))
    }),

    // FULL OUTER: both sides carry rows the other lacks — BUILDING
    // customers (some without 1995 orders) ⟗ 1995 order rollups (some
    // from non-BUILDING customers). Unmatched sides surface as NULL
    // name / NULL totals, which is the reconciliation report shape
    // ("who's missing from whom") the inner/left forms cannot express.
    // Plans as a SortMergeJoin FullOuter on the key — both sides
    // shuffle once; no broadcast variant exists for full outer (both
    // sides must see every key), which is exactly why the key-hash
    // shuffle IS the scale posture.
    "q_join_full_outer" -> ((s, d) => {
      val c = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"), col("c_name"))
      val o = Tables.orders(s, d)
        .filter(year(col("o_orderdate")) === 1995)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total"))
      c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
        .select(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          col("c_name"), col("n_orders"), col("total"))
        .orderBy(col("custkey"))
    }),

    // Existence filter (the land-mask shape).
    // Bloom-prefiltered semi join: high-balance customers as the
    // selective dim, orders as the fact — the sketch drops almost the
    // whole fact side inside the scan.
    "q_join_bloom" -> ((s, d) => {
      val orders = Tables.orders(s, d)
      val rich = Tables.customer(s, d)
        .filter(col("c_acctbal") > lit(9900.0)).select("c_custkey")
      bloomSemiJoin(orders, "o_custkey", rich, "c_custkey")
        .select(col("o_orderkey"), col("o_custkey"))
        .orderBy(col("o_orderkey"))
    }),

    "q_join_semi" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val li = Tables.lineitem(s, d).filter(col("l_quantity") >= 49)
      o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // Non-existence filter (the ocean complement).
    "q_join_anti" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // Cartesian (small × small only; anything larger is a design bug).
    "q_join_cross" -> ((s, d) => {
      val r = Tables.region(s, d).select(col("r_regionkey"))
      val n = Tables.nation(s, d).select(col("n_nationkey"))
      r.crossJoin(n).orderBy(col("r_regionkey"), col("n_nationkey"))
    }),

    // Theta (non-equi) join on a small dim self-pair → broadcast
    // nested loop; bounded side must be broadcastable.
    "q_join_theta" -> ((s, d) => {
      val n1 = Tables.nation(s, d).select(col("n_nationkey").as("a"))
      val n2 = Tables.nation(s, d).select(col("n_nationkey").as("b"))
      n1.join(n2, col("a") < col("b"), "inner").orderBy(col("a"), col("b"))
    }),

    // Skew-mitigated salted join (same rows as a plain join — the
    // oracle proves salting changes distribution, never semantics).
    "q_join_salted" -> ((s, d) => {
      saltedJoin(Tables.lineitem(s, d), "l_orderkey",
          Seq("l_linenumber", "l_partkey"),
          Tables.orders(s, d), "o_orderkey")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_quantity")), 2).as("total_qty"))
        .orderBy(col("o_orderpriority"))
    }),

    // Bucket-co-located join (plan shape pinned in PlanSpec: zero
    // exchanges below the join).
    "q_join_bucketed" -> ((s, d) =>
      bucketedJoin(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          round(avg(col("l_extendedprice")), 2).as("avg_price"),
          round(max(col("l_extendedprice")), 2).as("max_price"))
        .orderBy(col("o_orderpriority"))),

    // As-of join: for each 'purchase' event, the latest 'view' ts by
    // the same user at or before it. Union+window formulation: tag
    // both sides, sort within user by ts, carry the last view ts
    // forward — one shuffle, linear state, no range-join blowup.
    "q_join_asof" -> ((s, d) => {
      val e = Tables.events(s, d)
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), lit(null).cast("long").as("event_id"))
      val purch = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      // views sort before purchases at equal ts (is_probe ASC puts the
      // build row first) so an equal-ts view IS matched (ts >= ts).
      val tagged = views.withColumn("is_probe", lit(0))
        .unionByName(purch.withColumn("is_probe", lit(1)))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("is_probe"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tagged
        .withColumn("matched_ts",
          last(when(col("is_probe") === 0, col("ts")), ignoreNulls = true).over(w))
        .filter(col("is_probe") === 1)
        .select(col("event_id"), col("user_id"), col("matched_ts"))
        .orderBy(col("event_id"))
    }),

    // Session-concurrency: which sessions of DIFFERENT users were live
    // at the same time, and for how long — intervals from the same
    // 30-min-gap sessionization the analytics tier uses, 1 h buckets.
    "q_join_interval_overlap" -> ((s, d) =>
      intervalOverlapJoin(
        Windows.sessionize(Tables.events(s, d), 1800L),
        col("user_id"), col("session_id"),
        col("start_us"), col("end_us"), 3600000000L)),

    // TOLERANCE as-of: the backward match, NULLed when it is staler
    // than the tolerance window (pandas merge_asof(tolerance=...)) —
    // "credit the last view, but only if it happened within the last
    // 10 minutes".
    "q_join_asof_tolerance" -> ((s, d) =>
      asofTolerance(Tables.events(s, d), 600000000L)),

    // NEAREST-neighbor as-of: each purchase matched to the CLOSEST
    // view by the same user in EITHER direction (|Δt|, ties to the
    // earlier side) — the bidirectional sibling of q_join_asof's
    // backward-only match (pandas merge_asof direction='nearest').
    // Same union+window formulation run twice over ONE shuffle on the
    // user key: the backward pass is the ascending running last-view,
    // the forward pass the same frame on the DESCENDING sort ("first
    // view after me" ≡ "last view before me, time-reversed" — the
    // interpolateGaps trick, so both frames stay incremental O(n),
    // never an unbounded-following rescan). Exact integer-micros
    // comparison picks the side.
    "q_join_asof_nearest" -> ((s, d) => asofNearest(Tables.events(s, d))),

    // Pure range join (NO equi key): every (purchase, view) pair across
    // ALL users within ±120 s — the cross-entity temporal correlation
    // a bare range predicate would plan as a nested loop; here an equi
    // join on time buckets (see rangeBucketedJoin).
    "q_join_range_bucketed" -> ((s, d) => {
      val e = Tables.events(s, d)
      val purch = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("ts").as("p_ts"))
      val views = e.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("ts").as("v_ts"))
      // signed delta in EXACT integer micros — a seconds division here
      // would hit the engines' differing negative-integer-division
      // conventions (Spark div truncates, DuckDB // floors)
      rangeBucketedJoin(purch, "p_ts", views, "v_ts", 120)
        .select(col("purchase_id"), col("view_id"),
          (unix_micros(col("v_ts")) - unix_micros(col("p_ts"))).as("dt_us"))
        .orderBy(col("purchase_id"), col("view_id"))
    }),

    // Point-in-interval join: equi key + range predicate; planned as a
    // shuffled equi join with the range as a post-join filter.
    "q_join_interval" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      li.join(o, li("l_orderkey") === o("o_orderkey") &&
          li("l_shipdate") >= o("o_orderdate") &&
          // timestamp interval arithmetic (not date_add, which truncates
          // to DATE and yields midnight of day+30) so time-of-day is
          // preserved, matching the oracle's + INTERVAL 30 DAY.
          li("l_shipdate") <= o("o_orderdate") + expr("INTERVAL 30 DAYS"), "inner")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_in_window"))
        .orderBy(col("o_orderpriority"))
    }),
  )

  val oracle: Map[String, String] = Map(
    // same blocking, but the oracle may brute-force inside blocks —
    // DuckDB's levenshtein is the same unit-cost edit distance
    "q_join_fuzzy" ->
      """SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
        |       levenshtein(a.p_name, b.p_name) AS dist
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
        | AND a.p_partkey < b.p_partkey
        | AND abs(length(a.p_name) - length(b.p_name)) <= 3
        | AND levenshtein(a.p_name, b.p_name) <= 3
        |ORDER BY a_key, b_key""".stripMargin,
    // independent formulation: brute-force per-direction extremes
    // (max view ≤ t, min view ≥ t) then the same |Δt| tie-to-earlier
    // pick — quadratic-per-user is fine at oracle scale and cross-
    // checks the engine's window formulation from a different shape
    "q_join_asof_nearest" ->
      """WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
        |      FROM events WHERE event_type = 'view'),
        |b AS (SELECT p.event_id, max(v.ts) AS bts
        |      FROM p JOIN v ON v.user_id = p.user_id AND v.ts <= p.ts
        |      GROUP BY 1),
        |f AS (SELECT p.event_id, min(v.ts) AS fts
        |      FROM p JOIN v ON v.user_id = p.user_id AND v.ts >= p.ts
        |      GROUP BY 1),
        |j AS (SELECT p.event_id, p.user_id, p.ts, b.bts, f.fts
        |      FROM p LEFT JOIN b ON p.event_id = b.event_id
        |             LEFT JOIN f ON p.event_id = f.event_id),
        |n AS (SELECT event_id, user_id, ts,
        |        CASE WHEN bts IS NULL THEN fts
        |             WHEN fts IS NULL THEN bts
        |             WHEN epoch_us(ts) - epoch_us(bts) <=
        |                  epoch_us(fts) - epoch_us(ts) THEN bts
        |             ELSE fts END AS nearest_ts
        |      FROM j)
        |SELECT event_id, user_id, nearest_ts,
        |       epoch_us(nearest_ts) - epoch_us(ts) AS dt_us
        |FROM n ORDER BY event_id""".stripMargin,
    "q_join_null_safe" ->
      """WITH c AS (SELECT c_custkey,
        |             CASE WHEN c_custkey % 10 = 0 THEN NULL
        |                  ELSE c_nationkey END AS nk
        |           FROM customer),
        |n AS (SELECT CASE WHEN n_nationkey = 0 THEN NULL
        |             ELSE n_nationkey END AS nnk, n_name
        |      FROM nation)
        |SELECT c_custkey, n_name
        |FROM c JOIN n ON nk IS NOT DISTINCT FROM nnk
        |ORDER BY c_custkey, n_name""".stripMargin,
    "q_join_star" ->
      """SELECT r_name, n_name, count(*) AS n_orders,
        |       round(sum(o_totalprice), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |            JOIN nation ON c_nationkey = n_nationkey
        |            JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "q_join_broadcast" ->
      """SELECT c_custkey, c_name, n_name
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY c_custkey""".stripMargin,
    "q_join_shuffle" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |       round(sum(l_extendedprice), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_join_left_outer" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_join_full_outer" ->
      """WITH c AS (SELECT c_custkey, c_name FROM customer
        |           WHERE c_mktsegment = 'BUILDING'),
        |o AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
        |             round(sum(o_totalprice), 2) AS total
        |      FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1)
        |SELECT coalesce(c_custkey, o_custkey) AS custkey, c_name,
        |       n_orders, total
        |FROM c FULL OUTER JOIN o ON c_custkey = o_custkey
        |ORDER BY custkey""".stripMargin,
    "q_join_bloom" ->
      """SELECT o_orderkey, o_custkey FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer
        |                    WHERE c_acctbal > 9900.0)
        |ORDER BY o_orderkey""".stripMargin,
    "q_join_semi" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
        |ORDER BY o_orderkey""".stripMargin,
    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_join_cross" ->
      """SELECT r_regionkey, n_nationkey FROM region CROSS JOIN nation
        |ORDER BY 1, 2""".stripMargin,
    "q_join_theta" ->
      """SELECT n1.n_nationkey AS a, n2.n_nationkey AS b
        |FROM nation n1 JOIN nation n2 ON n1.n_nationkey < n2.n_nationkey
        |ORDER BY 1, 2""".stripMargin,
    "q_join_salted" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |       round(sum(l_quantity), 2) AS total_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_join_bucketed" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |       round(avg(l_extendedprice), 2) AS avg_price,
        |       round(max(l_extendedprice), 2) AS max_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_join_asof" ->
      """SELECT p.event_id, p.user_id, v.ts AS matched_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id AND p.ts >= v.ts
        |ORDER BY p.event_id""".stripMargin,
    // brute-force overlap join over the replayed sessionization — the
    // oracle needs no bucketing at its scale, which makes it an
    // independent check of the first-overlap-bucket dedup trick
    "q_join_interval_overlap" ->
      """WITH o AS (SELECT user_id, event_id,
        |             epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |b AS (SELECT user_id, event_id, us,
        |        CASE WHEN lag(us) OVER w IS NULL
        |               OR us - lag(us) OVER w > 1800 * 1000000
        |             THEN 1 ELSE 0 END AS brk
        |      FROM o WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |s AS (SELECT user_id, us,
        |        CAST(sum(brk) OVER (PARTITION BY user_id
        |          ORDER BY us, event_id) AS BIGINT) AS session_id
        |      FROM b),
        |iv AS (SELECT user_id, session_id, min(us) AS s, max(us) AS e
        |       FROM s GROUP BY 1, 2)
        |SELECT a.user_id AS key_a, a.session_id AS id_a,
        |       b.user_id AS key_b, b.session_id AS id_b,
        |       least(a.e, b.e) - greatest(a.s, b.s) AS overlap_us
        |FROM iv a JOIN iv b
        |  ON a.user_id < b.user_id AND a.s < b.e AND b.s < a.e
        |ORDER BY key_a, id_a, key_b, id_b""".stripMargin,
    // DuckDB's native ASOF JOIN + a tolerance CASE on the match —
    // independent of the engine's union+window formulation
    "q_join_asof_tolerance" ->
      """WITH b AS (
        |  SELECT p.event_id, p.user_id, p.ts AS pts, v.ts AS bts
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |    ON p.user_id = v.user_id AND p.ts >= v.ts)
        |SELECT event_id, user_id,
        |       CASE WHEN epoch_us(CAST(pts AS TIMESTAMP))
        |                 - epoch_us(CAST(bts AS TIMESTAMP))
        |                 <= 600000000 THEN bts END AS matched_ts,
        |       CASE WHEN epoch_us(CAST(pts AS TIMESTAMP))
        |                 - epoch_us(CAST(bts AS TIMESTAMP))
        |                 <= 600000000
        |            THEN epoch_us(CAST(pts AS TIMESTAMP))
        |                 - epoch_us(CAST(bts AS TIMESTAMP)) END AS dt_us
        |FROM b ORDER BY event_id""".stripMargin,
    "q_join_range_bucketed" ->
      """SELECT p.event_id AS purchase_id, v.event_id AS view_id,
        |       epoch_us(v.ts) - epoch_us(p.ts) AS dt_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON abs(epoch_us(p.ts) - epoch_us(v.ts)) <= 120 * 1000000
        |ORDER BY purchase_id, view_id""".stripMargin,
    "q_join_interval" ->
      """SELECT o_orderpriority, count(*) AS n_in_window
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | AND l_shipdate >= o_orderdate
        | AND l_shipdate <= o_orderdate + INTERVAL 30 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
