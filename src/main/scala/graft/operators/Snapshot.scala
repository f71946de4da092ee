package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Snapshot (CDC-style) diff — the incremental-ingest primitive a
  * training-data pipeline needs between crawl snapshots: classify every
  * key as insert / update / delete / unchanged across two versions of a
  * table. The reference's analog is its skip-existing-outputs check
  * (each month re-run only produces missing files,
  * utils/pipeline_manager.py continue semantics); the engine
  * generalizes it to row-level change detection.
  *
  * Scale posture: each side reduces to (key, 32-byte digest) BEFORE the
  * join, so the full-outer shuffle carries digests — never document
  * bytes — and the classification is one codegen'd projection over the
  * joined pair. At 100 TB this is the difference between shuffling
  * 64 B/row and shuffling the corpus.
  */
object Snapshot {

  /** Row digest over `cols`, null-safe (NUL-separated concat keeps
    * adjacent values from colliding across the boundary). */
  def rowDigest(cols: Seq[String]): Column =
    sha2(concat_ws("\u0000", cols.map(c => coalesce(col(c).cast("string"), lit("\u0001"))): _*), 256)

  /** Classify every key across two snapshots. Output: (key, change)
    * with change ∈ insert | update | delete | unchanged. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, key: String,
      digestCols: Seq[String]): DataFrame = {
    val o = oldDf.select(col(key), rowDigest(digestCols).as("old_digest"))
    val n = newDf.select(col(key), rowDigest(digestCols).as("new_digest"))
    o.join(n, Seq(key), "full_outer")
      .select(col(key),
        when(col("old_digest").isNull, "insert")
          .when(col("new_digest").isNull, "delete")
          .when(not(col("old_digest") <=> col("new_digest")), "update")
          .otherwise("unchanged").as("change"))
  }

  /** Apply a classified change set to a snapshot — the MERGE half of
    * the CDC pair: rows whose key carries a delete or update leave the
    * old snapshot, and the change set's insert/update payloads come in.
    * `changes` must carry (key, change, payload-cols…) with change ∈
    * insert | update | delete (unchanged rows may be present and are
    * ignored — they carry no payload obligation).
    *
    * Scale posture: one anti-join of the snapshot against the
    * (typically tiny) touched-key set plus a union with the payload
    * rows — the snapshot mass streams through untouched, AQE
    * broadcasts the key set when it is small, and
    * apply(diff(old, new), old) ≡ new by construction (the registered
    * query's oracle IS the new snapshot, proving the round trip). */
  def snapshotApply(oldDf: DataFrame, changes: DataFrame, key: String): DataFrame = {
    val payloadCols = oldDf.columns.filterNot(_ == key).toSeq
    val outCols = (key +: payloadCols).map(col)
    val touched = changes
      .filter(col("change").isin("delete", "update"))
      .select(col(key))
    val incoming = changes
      .filter(col("change").isin("insert", "update"))
      .select(outCols: _*)
    oldDf.join(touched, Seq(key), "left_anti")
      .select(outCols: _*)
      .unionByName(incoming)
  }

  /** Slowly-changing-dimension (type 2) build from an observation log:
    * collapse consecutive runs of the same attribute value per key (CDC
    * compaction — re-observing an unchanged value is not a new
    * version), then cut version intervals [valid_from, valid_to) with
    * `lead`, an ordinal version number, and an is_current flag on the
    * open interval. Ties at identical timestamps break on `ord` (the
    * unique, non-null observation id — its lag also marks each key's
    * first row, so NULL attribute values compact like any other
    * repeated value), so versioning is deterministic.
    *
    * Scale posture: ONE hash exchange on the dimension key — the
    * compaction lag, the interval lead, and the version row_number all
    * ride the same (key)-partitioned sort, and the post-compaction
    * windows reuse the partitioning (Filter preserves distribution and
    * order, so no second exchange or sort appears). Exact integer
    * microseconds end to end. */
  def scd2Build(log: DataFrame, key: String, attr: String, ts: String,
      ord: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(key)).orderBy(col("us"), col(ord))
    log
      .select(col(key), col(attr), unix_micros(col(ts)).as("us"), col(ord))
      .withColumn("prev", lag(col(attr), 1).over(w))
      // first-row detection via lag of the (non-null) tie-break column,
      // NOT prev.isNull — a NULL attribute observation must compact
      // against a following NULL like any other repeated value
      .withColumn("first", lag(col(ord), 1).over(w).isNull)
      .filter(col("first") || not(col(attr) <=> col("prev")))
      .select(col(key), col(attr),
        col("us").as("valid_from"),
        lead(col("us"), 1).over(w).as("valid_to"),
        row_number().over(w).cast("long").as("version"))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Point-in-time lookup against a type-2 dimension (the output shape
    * of [[scd2Build]]): attach to each fact row the dimension version
    * whose [valid_from, valid_to) interval contains the fact
    * timestamp — the temporal-correctness join a training-data
    * pipeline needs so features never leak from the future. Zero-length
    * intervals (same-timestamp ties) match nothing, so every fact hits
    * at most one version.
    *
    * Scale posture: an EQUI join on the dimension key with the
    * interval containment as a residual filter — one hash exchange per
    * side (or a broadcast when the dimension fits), never an
    * inequality-only join: per-key version counts are small, so the
    * residual scans a handful of rows per probe. */
  def scd2Lookup(facts: DataFrame, dim: DataFrame, key: String,
      factUs: String): DataFrame =
    facts.join(dim, Seq(key))
      .where(col(factUs) >= col("valid_from") &&
        (col("valid_to").isNull || col(factUs) < col("valid_to")))

  /** Distribution-drift monitor between two snapshot versions:
    * Population Stability Index over fixed-width document-length
    * buckets (last bucket open-ended). Each side collapses to a tiny
    * (bucket → count) table; proportions are Laplace-smoothed with
    * half a count over the observed-bucket set B, so a bucket present
    * on only one side contributes a finite term instead of ±∞.
    * Emits per-bucket terms (their sum is the PSI; > 0.25 is the
    * conventional "significant drift" alarm).
    *
    * Scale posture: one counts-only exchange — rows reduce to
    * (bucket, side) pre-shuffle with map-side partial aggregation, and
    * the totals/B scalars come back via the broadcast 1-row
    * crossJoin pattern. Document bytes never shuffle. */
  def driftPsi(oldSnap: DataFrame, newSnap: DataFrame,
      width: Int = 256, maxBucket: Int = 15): DataFrame = {
    def bucketed(df: DataFrame, side: String) = df.select(
      least(floor(length(col("text")) / width), lit(maxBucket.toLong))
        .cast("long").as("bucket"),
      lit(side).as("side"))
    val counts = bucketed(oldSnap, "old").unionByName(bucketed(newSnap, "new"))
      .groupBy(col("bucket"))
      .agg(sum(when(col("side") === "old", 1L).otherwise(0L)).as("n_old"),
        sum(when(col("side") === "new", 1L).otherwise(0L)).as("n_new"))
    val totals = counts.agg(
      sum(col("n_old")).cast("double").as("t_old"),
      sum(col("n_new")).cast("double").as("t_new"),
      count(lit(1)).cast("double").as("b"))
    val po = (col("n_old") + lit(0.5)) / (col("t_old") + lit(0.5) * col("b"))
    val pn = (col("n_new") + lit(0.5)) / (col("t_new") + lit(0.5) * col("b"))
    counts.crossJoin(broadcast(totals))
      .select(col("bucket"), col("n_old"), col("n_new"),
        round((pn - po) * log(pn / po), 6).as("psi_term"))
      .orderBy(col("bucket"))
  }

  /** Two-sample KOLMOGOROV–SMIRNOV drift statistic between two numeric
    * samples: max over the union of observed values of
    * |F_old(v) − F_new(v)| plus the value where the gap peaks (min
    * such value on ties — deterministic) — the distribution-free drift
    * test next to [[driftPsi]]'s bucketed divergence (KS catches shape
    * shifts PSI's fixed buckets can smear).
    *
    * Scale shape: the samples reduce to (value, n_old, n_new) counts
    * first (one hash aggregate — the only pass over raw rows); both
    * CDFs and both sample totals come from one [[Windows.prefixSums]]
    * layout over the counts table (range partition + broadcast offsets
    * — never a single-task global window; totals from the same
    * partials); totals and the argmax ride broadcast 1-row frames.
    * All arithmetic is counts and exact-rounded divisions — no
    * transcendentals, hash-stable. */
  def driftKs(oldSample: DataFrame, oldValue: Column,
      newSample: DataFrame, newValue: Column): DataFrame = {
    val s = oldSample.select(oldValue.as("v"), lit(1L).as("o"), lit(0L).as("n"))
      .unionByName(newSample.select(newValue.as("v"), lit(0L).as("o"), lit(1L).as("n")))
    val c = s.groupBy(col("v"))
      .agg(sum(col("o")).as("n_old"), sum(col("n")).as("n_new"))
    val (cum, totals) = Windows.prefixSums(c, Nil,
      Seq(col("n_old") -> "c_old", col("n_new") -> "c_new"), Seq(col("v")))
    val tot = totals.select(col("c_old").as("t_old"), col("c_new").as("t_new"))
    val d = cum.crossJoin(broadcast(tot))
      .select(col("v"), col("t_old"), col("t_new"),
        abs(col("c_old").cast("double") / col("t_old").cast("double") -
          col("c_new").cast("double") / col("t_new").cast("double")).as("diff"))
    val md = d.agg(max(col("diff")).as("md"))
    d.crossJoin(broadcast(md))
      .filter(col("diff") === col("md"))
      .groupBy(col("t_old"), col("t_new"), col("md"))
      .agg(min(col("v")).as("ks_at"))
      .select(col("t_old").as("n_old"), col("t_new").as("n_new"),
        round(col("md"), 6).as("ks"), col("ks_at"))
  }

  /** Data-contract VALIDATION (the Deequ/dbt-test shape): per-rule
    * violation counts over a fact table — not-null, domain, range, and
    * referential-integrity checks, reported as (rule, n_violations)
    * rows so a pipeline can gate an ingest batch on its contract. The
    * registered query PLANTS violations deterministically from row
    * columns (the harness data is clean by construction — the same
    * planting pattern as piiMask); the validation logic is what the
    * oracle checks.
    *
    * Scale posture: all row-local rules ride ONE aggregate pass over
    * the fact scan (map-side partials, a few counters per partition);
    * the FK check is a left-anti join against the (broadcastable) dim
    * key set — the fact table never shuffles. */
  def validateContract(orders: DataFrame, customer: DataFrame): DataFrame = {
    val dirty = orders.select(col("o_orderkey"),
      when(col("o_orderkey") % 97 === 0, lit(null))
        .when(col("o_orderkey") % 79 === 0, col("o_custkey") + 1000000L)
        .otherwise(col("o_custkey")).as("o_custkey"),
      when(col("o_orderkey") % 89 === 0, -col("o_totalprice"))
        .otherwise(col("o_totalprice")).as("o_totalprice"),
      when(col("o_orderkey") % 83 === 0, lit("X"))
        .otherwise(col("o_orderstatus")).as("o_orderstatus"))
    val rowRules = dirty.agg(
      sum(when(col("o_custkey").isNull, 1).otherwise(0)).cast("long").as("null_ck"),
      sum(when(col("o_totalprice") < 0, 1).otherwise(0)).cast("long").as("neg_tp"),
      sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0))
        .cast("long").as("bad_st"))
    val fk = dirty.filter(col("o_custkey").isNotNull)
      .join(customer.select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).cast("long").as("fk_orphans"))
    rowRules.crossJoin(broadcast(fk))
      .select(expr(
        """stack(4,
          |  'fk_orphan_custkey', fk_orphans,
          |  'nonnegative_totalprice', neg_tp,
          |  'not_null_custkey', null_ck,
          |  'status_in_domain', bad_st) AS (rule, n_violations)""".stripMargin))
      .orderBy(col("rule"))
  }

  // two deterministic "crawl snapshots" derived from documents: the new
  // crawl drops every 11th doc, rewrites every remaining 7th, and
  // discovers a shifted-id batch — all four diff outcomes occur
  private def oldCrawl(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"))

  private def newCrawl(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 11 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" [v2]")))
          .otherwise(col("text")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text")))

  /** Per-column PROFILE of a table — the data-quality audit a lake
    * runs before trusting a new drop: row count, null count, exact
    * distinct cardinality, numeric min/max per column, one row per
    * column. The table MELTS to (column, value) structs and profiles
    * in ONE grouped pass per type class (never N count-distinct
    * columns in one aggregate — that plans an N-way expand, N× the
    * scan rows through the exchange; the melt ships the same cells
    * once, and a single-distinct-per-group aggregate plans the
    * ordinary two-phase distinct). String columns profile counts
    * only (min/max NULL: cross-engine collation is not a parity
    * surface this query wants to stand on). n_distinct excludes
    * NULLs on both engines (COUNT(DISTINCT) semantics). */
  def qualityProfile(df: DataFrame, numCols: Seq[String],
      strCols: Seq[String]): DataFrame = {
    // narrow projection, then spread ONLY if the scan arrives under
    // the session parallelism (r17, guide §2.3/§2.5): the harness
    // tables are one parquet row group, so the N-way melt explode +
    // partial distinct — the whole CPU of this query — ran on ONE
    // core (a 2.3 s single-task stage); hash-spreading
    // the 10 projected columns costs one ~14 MB exchange locally and
    // is a NO-OP on a real many-split archive. Both melts share the
    // spread subtree (reused exchange), and every aggregate here is
    // order-free, so results are partition-invariant.
    val cols = numCols ++ strCols
    val base = graft.spreadIfNarrow(
      df.select(cols.map(col): _*), cols.map(col): _*)
    def melt(colNames: Seq[String], cast: String): DataFrame =
      base.select(explode(array(colNames.map(c =>
          struct(lit(c).as("c"), col(c).cast(cast).as("v"))): _*)).as("x"))
        .select(col("x.c").as("col_name"), col("x.v").as("v"))
    val num = melt(numCols, "double")
      .groupBy(col("col_name"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_null"),
        countDistinct(col("v")).as("n_distinct"),
        graft.halfUp(min(col("v")), 4).as("min_v"),
        graft.halfUp(max(col("v")), 4).as("max_v"))
    val str = melt(strCols, "string")
      .groupBy(col("col_name"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_null"),
        countDistinct(col("v")).as("n_distinct"),
        lit(null).cast("double").as("min_v"),
        lit(null).cast("double").as("max_v"))
    num.unionByName(str).orderBy(col("col_name"))
  }

  /** REFERENTIAL-INTEGRITY census across a star schema's FK edges:
    * per relation, how many child rows point at a missing parent —
    * the orphan audit run on every ingest before joins silently drop
    * rows (an inner join "loses" orphans without a trace; this query
    * is the trace). NULL FKs are not orphans (they fail the
    * not-null contract instead — q_validate_contract's rule).
    *
    * Scale: each relation is one LEFT ANTI join counting into a
    * 1-row aggregate — dimension parents broadcast, the fact-fact
    * edge (lineitem→orders) shuffles on the key like any join. */
  def referentialOrphans(rels: Seq[(String, DataFrame, String, DataFrame,
      String)]): DataFrame = {
    rels.map { case (name, child, fk, parent, pk) =>
      val kids = child.select(col(fk).as("k")).filter(col("k").isNotNull)
      kids.join(parent.select(col(pk).as("k")), Seq("k"), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
        .crossJoin(broadcast(kids.agg(count(lit(1)).as("n_child"))))
        .select(lit(name).as("relation"), col("n_child"), col("n_orphans"),
          graft.halfUp(col("n_orphans").cast("double") /
            col("n_child").cast("double"), 6).as("orphan_ratio"))
    }.reduce(_ unionByName _).orderBy(col("relation"))
  }

  private val profileNumCols = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax")
  private val profileStrCols = Seq("l_returnflag", "l_linestatus")

  private[operators] val qualityProfileOracleSql: String = {
    val num = profileNumCols.map { c =>
      s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  floor(CAST(min($c) AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS min_v,
         |  floor(CAST(max($c) AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS max_v
         |FROM lineitem""".stripMargin
    }
    val str = profileStrCols.map { c =>
      s"""SELECT '$c', CAST(count(*) AS BIGINT),
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         |  CAST(count(DISTINCT $c) AS BIGINT),
         |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
         |FROM lineitem""".stripMargin
    }
    (num ++ str).mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  private val orphanRels = Seq(
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"))

  private[operators] val orphansOracleSql: String =
    orphanRels.map { case (name, child, fk, parent, pk) =>
      s"""SELECT '$name' AS relation,
         |  CAST(count(*) AS BIGINT) AS n_child,
         |  CAST(sum(CASE WHEN NOT EXISTS (
         |    SELECT 1 FROM $parent p WHERE p.$pk = c.$fk)
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
         |  floor(CAST(sum(CASE WHEN NOT EXISTS (
         |    SELECT 1 FROM $parent p WHERE p.$pk = c.$fk)
         |    THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |    * 1000000.0 + 0.5) / 1000000.0 AS orphan_ratio
         |FROM $child c WHERE c.$fk IS NOT NULL""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY relation")

  val queries: Map[String, Q] = Map(
    // one-pass per-column audit of the fact table (melt, never an
    // N-way count-distinct expand)
    "q_quality_profile" -> ((s, d) =>
      qualityProfile(Tables.lineitem(s, d), profileNumCols, profileStrCols)),
    // FK orphan census across every star edge of the schema
    "q_quality_orphans" -> ((s, d) => referentialOrphans(Seq(
      ("customer.c_nationkey->nation", Tables.customer(s, d), "c_nationkey",
        Tables.nation(s, d), "n_nationkey"),
      ("lineitem.l_orderkey->orders", Tables.lineitem(s, d), "l_orderkey",
        Tables.orders(s, d), "o_orderkey"),
      ("lineitem.l_partkey->part", Tables.lineitem(s, d), "l_partkey",
        Tables.part(s, d), "p_partkey"),
      ("lineitem.l_suppkey->supplier", Tables.lineitem(s, d), "l_suppkey",
        Tables.supplier(s, d), "s_suppkey"),
      ("orders.o_custkey->customer", Tables.orders(s, d), "o_custkey",
        Tables.customer(s, d), "c_custkey"),
      ("supplier.s_nationkey->nation", Tables.supplier(s, d), "s_nationkey",
        Tables.nation(s, d), "n_nationkey")))),
    // only changed keys are emitted (the unchanged mass stays in the
    // cluster)
    "q_snapshot_diff" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      snapshotDiff(oldCrawl(docs), newCrawl(docs), "doc_id", Seq("text"))
        .filter(col("change") =!= "unchanged")
        .orderBy(col("doc_id"))
    }),
    // diff the two crawls, attach the new-crawl payload to the change
    // set, apply it to the OLD snapshot — the result must BE the new
    // snapshot (the oracle recomputes it directly, closing the
    // diff→apply round trip end-to-end)
    "q_snapshot_apply" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val oldSnap = oldCrawl(docs)
      val newSnap = newCrawl(docs)
      val changes = snapshotDiff(oldSnap, newSnap, "doc_id", Seq("text"))
        .filter(col("change") =!= "unchanged")
        .join(newSnap, Seq("doc_id"), "left")
      snapshotApply(oldSnap, changes, "doc_id")
        .orderBy(col("doc_id"))
    }),
    // SCD2 dimension from the event stream: per-user event_type
    // observation log → compacted version history with intervals
    "q_scd2_build" -> ((s, d) =>
      scd2Build(Tables.events(s, d), "user_id", "event_type", "ts", "event_id")
        .orderBy(col("user_id"), col("version"))),
    // point-in-time enrichment: every event tagged with the dimension
    // version that was valid at its timestamp (dim built from the same
    // log, so each event lands in exactly one interval)
    "q_scd2_lookup" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"))
      val dim = scd2Build(Tables.events(s, d),
        "user_id", "event_type", "ts", "event_id")
      scd2Lookup(ev, dim, "user_id", "us")
        .select(col("event_id"), col("user_id"), col("us"),
          col("version"), col("event_type").as("dim_state"))
        .orderBy(col("event_id"))
    }),
    // contract gate over the order log (violations planted — see
    // validateContract scaladoc)
    "q_validate_contract" -> ((s, d) =>
      validateContract(Tables.orders(s, d), Tables.customer(s, d))),
    // drift between the two crawls: the rewrite (+5 chars) and the
    // drop/discover batches shift the length distribution measurably
    "q_drift_psi" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      driftPsi(oldCrawl(docs), newCrawl(docs))
    }),
    // KS between the view and purchase value distributions
    "q_drift_ks" -> ((s, d) => {
      val e = Tables.events(s, d)
      driftKs(e.filter(col("event_type") === "view"), col("value"),
        e.filter(col("event_type") === "purchase"), col("value"))
    }),
  )

  val oracle: Map[String, String] = Map(
    // per-column UNION ALL twin generated from the same column lists
    "q_quality_profile" -> qualityProfileOracleSql,
    // NOT EXISTS twin generated from the same relation list
    "q_quality_orphans" -> orphansOracleSql,
    // same planting chain (same WHEN precedence — a key divisible by
    // both 97 and 79 nulls, it does not orphan), same four rules
    "q_validate_contract" ->
      """WITH dirty AS (SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 97 = 0 THEN NULL
        |         WHEN o_orderkey % 79 = 0 THEN o_custkey + 1000000
        |         ELSE o_custkey END AS o_custkey,
        |    CASE WHEN o_orderkey % 89 = 0 THEN -o_totalprice
        |         ELSE o_totalprice END AS o_totalprice,
        |    CASE WHEN o_orderkey % 83 = 0 THEN 'X'
        |         ELSE o_orderstatus END AS o_orderstatus
        |  FROM orders),
        |rr AS (SELECT
        |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_ck,
        |    CAST(sum(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT) AS neg_tp,
        |    CAST(sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END) AS BIGINT) AS bad_st
        |  FROM dirty),
        |fk AS (SELECT CAST(count(*) AS BIGINT) AS fk_orphans FROM dirty d
        |       WHERE o_custkey IS NOT NULL
        |         AND NOT EXISTS (SELECT 1 FROM customer c
        |                         WHERE c.c_custkey = d.o_custkey))
        |SELECT 'fk_orphan_custkey' AS rule, fk_orphans AS n_violations FROM fk
        |UNION ALL SELECT 'nonnegative_totalprice', neg_tp FROM rr
        |UNION ALL SELECT 'not_null_custkey', null_ck FROM rr
        |UNION ALL SELECT 'status_in_domain', bad_st FROM rr
        |ORDER BY rule""".stripMargin,
    // same SCD2 chain as q_scd2_build, then the interval-containment
    // join back to the raw events
    "q_scd2_lookup" ->
      """WITH o AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id
        |           FROM events),
        |r AS (SELECT *, lag(event_type) OVER w AS prev, lag(event_id) OVER w AS pe
        |      FROM o WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |k AS (SELECT user_id, event_type, us, event_id FROM r
        |      WHERE pe IS NULL OR event_type IS DISTINCT FROM prev),
        |dim AS (SELECT user_id, event_type, us AS valid_from,
        |               lead(us) OVER w AS valid_to,
        |               CAST(row_number() OVER w AS BIGINT) AS version
        |        FROM k WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
        |SELECT e.event_id, e.user_id, epoch_us(e.ts) AS us, dim.version,
        |       dim.event_type AS dim_state
        |FROM events e JOIN dim ON e.user_id = dim.user_id
        |  AND epoch_us(e.ts) >= dim.valid_from
        |  AND (dim.valid_to IS NULL OR epoch_us(e.ts) < dim.valid_to)
        |ORDER BY e.event_id""".stripMargin,
    // same counts-then-CDF chain; exact double comparisons pick the
    // same argmax value on both engines
    "q_drift_ks" ->
      """WITH s AS (
        |  SELECT value AS v, 1 AS o, 0 AS n FROM events
        |  WHERE event_type = 'view'
        |  UNION ALL
        |  SELECT value, 0, 1 FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT v, sum(o) AS n_old, sum(n) AS n_new FROM s GROUP BY 1),
        |cum AS (SELECT v, sum(n_old) OVER w AS c_old,
        |               sum(n_new) OVER w AS c_new
        |        FROM c WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)),
        |t AS (SELECT CAST(sum(n_old) AS BIGINT) AS t_old,
        |             CAST(sum(n_new) AS BIGINT) AS t_new FROM c),
        |d AS (SELECT v, t_old, t_new,
        |        abs(CAST(c_old AS DOUBLE) / CAST(t_old AS DOUBLE)
        |          - CAST(c_new AS DOUBLE) / CAST(t_new AS DOUBLE)) AS diff
        |      FROM cum CROSS JOIN t),
        |m AS (SELECT max(diff) AS md FROM d)
        |SELECT t_old AS n_old, t_new AS n_new, round(md, 6) AS ks,
        |       min(v) AS ks_at
        |FROM d CROSS JOIN m WHERE diff = md
        |GROUP BY 1, 2, 3""".stripMargin,
    // same crawl twins, same open-ended length bucketing, same
    // Laplace-smoothed PSI operand order
    "q_drift_psi" ->
      """WITH oldc AS (SELECT text FROM documents),
        |newc AS (SELECT CASE WHEN doc_id % 7 = 0 THEN text || ' [v2]' ELSE text END AS text
        |         FROM documents WHERE doc_id % 11 <> 0
        |         UNION ALL
        |         SELECT text FROM documents WHERE doc_id % 13 = 0),
        |s AS (SELECT least(CAST(floor(length(text) / 256) AS BIGINT), 15) AS bucket, 'old' AS side FROM oldc
        |      UNION ALL
        |      SELECT least(CAST(floor(length(text) / 256) AS BIGINT), 15), 'new' FROM newc),
        |c AS (SELECT bucket,
        |             sum(CASE WHEN side = 'old' THEN 1 ELSE 0 END) AS n_old,
        |             sum(CASE WHEN side = 'new' THEN 1 ELSE 0 END) AS n_new
        |      FROM s GROUP BY 1),
        |t AS (SELECT CAST(sum(n_old) AS DOUBLE) AS t_old,
        |             CAST(sum(n_new) AS DOUBLE) AS t_new,
        |             CAST(count(*) AS DOUBLE) AS b FROM c)
        |SELECT bucket, CAST(n_old AS BIGINT) AS n_old, CAST(n_new AS BIGINT) AS n_new,
        |       round(((n_new + 0.5) / (t_new + 0.5 * b) - (n_old + 0.5) / (t_old + 0.5 * b))
        |             * ln(((n_new + 0.5) / (t_new + 0.5 * b)) / ((n_old + 0.5) / (t_old + 0.5 * b))), 6) AS psi_term
        |FROM c CROSS JOIN t ORDER BY bucket""".stripMargin,
    // identical two-window chain: compaction lag, then interval lead +
    // version ordinal over the compacted rows, same (us, event_id) order
    "q_scd2_build" ->
      """WITH o AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id
        |           FROM events),
        |r AS (SELECT *, lag(event_type) OVER w AS prev, lag(event_id) OVER w AS pe
        |      FROM o WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |k AS (SELECT user_id, event_type, us, event_id FROM r
        |      WHERE pe IS NULL OR event_type IS DISTINCT FROM prev)
        |SELECT user_id, event_type, us AS valid_from,
        |       lead(us) OVER w AS valid_to,
        |       CAST(row_number() OVER w AS BIGINT) AS version,
        |       (lead(us) OVER w IS NULL) AS is_current
        |FROM k WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        |ORDER BY user_id, version""".stripMargin,
    // the oracle classifies by comparing the text itself — digest-free,
    // so it cross-checks the digest-based engine path end-to-end
    "q_snapshot_diff" ->
      """WITH old_snap AS (SELECT doc_id, text FROM documents),
        |new_snap AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 7 = 0 THEN text || ' [v2]' ELSE text END AS text
        |  FROM documents WHERE doc_id % 11 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 13 = 0)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |       CASE WHEN o.doc_id IS NULL THEN 'insert'
        |            WHEN n.doc_id IS NULL THEN 'delete'
        |            WHEN o.text IS DISTINCT FROM n.text THEN 'update'
        |            ELSE 'unchanged' END AS change
        |FROM old_snap o FULL OUTER JOIN new_snap n USING (doc_id)
        |WHERE (CASE WHEN o.doc_id IS NULL THEN 'insert'
        |            WHEN n.doc_id IS NULL THEN 'delete'
        |            WHEN o.text IS DISTINCT FROM n.text THEN 'update'
        |            ELSE 'unchanged' END) <> 'unchanged'
        |ORDER BY doc_id""".stripMargin,
    // the oracle IS the new snapshot — apply(diff(old, new), old) must
    // reproduce it row for row
    "q_snapshot_apply" ->
      """SELECT doc_id,
        |       CASE WHEN doc_id % 7 = 0 THEN text || ' [v2]' ELSE text END AS text
        |FROM documents WHERE doc_id % 11 <> 0
        |UNION ALL
        |SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 13 = 0
        |ORDER BY doc_id""".stripMargin,
  )
}
