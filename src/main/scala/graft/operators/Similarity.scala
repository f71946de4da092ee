package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (SURVEY §2.10
  * `q_similarity_topk` + the ANN scale path): brute-force cosine top-k
  * as the exact baseline, random-hyperplane LSH bucketing as the
  * approximate scale path, and a blocked exact near-dup pair scan.
  *
  * Vectors are `array<float>` cast to double once (numeric parity
  * with the oracle); the dot-product inner loop is the native
  * codegen'd [[graft.plans.VectorDot]] expression — no UDFs, and no
  * driver-side CORPUS data: the query vector flows through a
  * broadcast 1-row crossJoin, and the only thing ever collected is
  * [[kmeansExact]]'s k×d centroid model — an O(model) bounded
  * statistic (the public MLlib Lloyd posture), never rows of the
  * relation being queried.
  *
  * Scale posture:
  *  - brute-force top-k for a SINGLE query vector is the right plan at
  *    any scale: one projection pass + TakeOrderedAndProject (per-
  *    partition heap of k, driver merges k·partitions rows — no global
  *    sort, no shuffle of the table).
  *  - the ANN variant prunes that scan: vectors are bucketed by
  *    hyperplane-sign bands; only vectors sharing a band with the
  *    query are scored. At 100 TB the banded table ([[srpBanded]]) is
  *    stored bucketBy(band_addr) so a probe reads only the ≤`bands`
  *    buckets its query signature addresses instead of every row —
  *    bucket pruning pinned in PlanSpec, mirroring the IVF layout.
  *  - all-pairs near-dup uses a BLOCKING key (label) so the quadratic
  *    term is bounded per block — the metadata-blocking pattern; the
  *    unblocked variant is the LSH dedup in [[Dedup]].
  */
object Similarity {

  /** Element-wise float→double, so fold order + arithmetic match the
    * DuckDB oracle's CAST(embedding AS DOUBLE[]). */
  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Dot product via the native codegen'd [[graft.plans.VectorDot]]
    * expression — one tight Java loop per row instead of the
    * per-element interpreted HOF fold (same sequential sum order,
    * bit-identical results; parity asserted in VectorDotSpec). */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.plans.VectorDot(
        org.apache.spark.sql.GraftBridge.expression(a),
        org.apache.spark.sql.GraftBridge.expression(b)))

  private def dotSelf(a: Column): Column = dot(a, a)

  /** graft.spread: per-vector signature/assignment work is CPU-heavy
    * and a single-split source would pin it to one core. */
  private def spread(df: DataFrame): DataFrame =
    graft.spread(df, col("vec_id"))

  /** Cosine similarity, sequential-fold order (matches DuckDB's
    * list_cosine_similarity evaluation of the same doubles). */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Deterministic ±1 hyperplane weight matrix (numBits × dim), fixed
    * at plan-build time from a seeded generator and baked into the
    * plan as LITERAL arrays — zero per-row hashing at execution
    * (SRP-LSH with a compile-time random basis). */
  private def hyperplanes(numBits: Int, dim: Int): IndexedSeq[Array[Double]] = {
    val rnd = new scala.util.Random(42)
    IndexedSeq.fill(numBits)(Array.fill(dim)(if (rnd.nextBoolean()) 1.0 else -1.0))
  }

  /** numBits hyperplane-sign bits for vector column v: bit p is the
    * sign of ⟨v, w_p⟩ against the literal hyperplane basis. */
  def hyperplaneBits(v: Column, numBits: Int, dim: Int = 64): Column = {
    val w = hyperplanes(numBits, dim)
    array(w.map { plane =>
      when(dot(v, array(plane.map(lit(_)): _*)) >= 0, 1).otherwise(0)
    }: _*)
  }

  /** Pack sign bits into per-band integer keys (fold s·2 + bit). */
  def packBands(bits: Column, bands: Int, bitsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      aggregate(slice(bits, b * lit(bitsPerBand) + lit(1), lit(bitsPerBand)),
        lit(0L), (s, bit) => s * 2 + bit))

  /** Banded SRP signature via the native [[graft.plans.SrpBands]]
    * expression — one codegen'd bands × bits × dim loop. Replaces
    * `packBands(hyperplaneBits(...))` in the query path: the composed
    * form materializes the basis as ~4096 literals whose Catalyst
    * analysis costs SECONDS per plan at the 64-bit default budget
    * (pure driver overhead). Bit-identical buckets (SrpBandsSpec). */
  def srpBands(v: Column, bands: Int, bitsPerBand: Int, dim: Int = 64): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.plans.SrpBands(
        org.apache.spark.sql.GraftBridge.expression(v), bands, bitsPerBand, dim))

  /** Exact cosine top-k of `emb` (vec_id, v: array<double>) against the
    * row with vec_id = queryId. */
  def bruteForceTopK(emb: DataFrame, queryId: Long, k: Int): DataFrame = {
    val q = emb.filter(col("vec_id") === queryId).select(col("v").as("qv"))
    emb.crossJoin(broadcast(q))
      .select(col("vec_id"), round(cosine(col("v"), col("qv")), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id")).limit(k)
  }

  /** The ANN candidate stage alone: every vector sharing ≥1 hyperplane
    * band with the query, scored — the set [[annTopK]] ranks. Exposed
    * because its SIZE is the cost knob the (bands, bitsPerBand) budget
    * trades against recall: more/narrower bands → more candidates →
    * higher recall at higher scan cost (the curve is recorded in
    * ANN_TUNING.md, regenerated by AnnTuningSpec).
    *
    * Default 8 bands × 8 bits — the standard 64-bit SRP signature:
    * each extra band multiplies noise admission by only 2⁻⁸ (~0.4% of
    * the corpus per band) while multiplying the chance a true
    * near-neighbor (cos ≳ 0.92) shares ≥1 band — measured ≥0.95
    * planted recall at the default (AnnTuningSpec), vs 0.5-ish for the
    * same 64 bits cut into fewer, wider bands. */
  /** Ingest-time banded SRP signature rows: one row per (vector, band)
    * keyed by a SINGLE combined band address
    * (band_id · 2^bitsPerBand + band_key — bijective with the
    * (band_id, band_key) pair since band_key < 2^bitsPerBand). One
    * column on purpose: Spark's bucket pruning applies to
    * single-column bucket specs, so at 100 TB this output is stored
    * `bucketBy(band_addr)` and a probe reads only the ≤`bands` buckets
    * its query signature addresses (pinned in PlanSpec, mirroring the
    * IVF bucketBy(cell) layout). */
  def srpBanded(emb: DataFrame, bands: Int = 8, bitsPerBand: Int = 8): DataFrame = {
    // spread first: a single-split source would otherwise compute every
    // signature on one core (explicit numPartitions — AQE-coalesce-proof)
    spread(emb).withColumn("bands", srpBands(col("v"), bands, bitsPerBand))
      .select(col("vec_id"), col("v"), posexplode(col("bands")))
      .toDF("vec_id", "v", "band_id", "band_key")
      .withColumn("band_addr",
        col("band_id").cast("long") * (1L << bitsPerBand) + col("band_key"))
  }

  def annScoredCandidates(emb: DataFrame, queryId: Long,
      bands: Int = 8, bitsPerBand: Int = 8): DataFrame = {
    val banded = srpBanded(emb, bands, bitsPerBand)
    val qBands = banded.filter(col("vec_id") === queryId)
      .select(col("band_addr"), col("v").as("qv"))
    banded.join(broadcast(qBands), Seq("band_addr"))
      .select(col("vec_id"), round(cosine(col("v"), col("qv")), 4).as("sim"))
      .groupBy(col("vec_id")).agg(max(col("sim")).as("sim")) // dedup multi-band hits
  }

  /** ANN top-k: score only vectors sharing ≥1 hyperplane band with the
    * query. Same output shape as [[bruteForceTopK]]; recall depends on
    * the bit budget (asserted on planted near-dups in LlmOpsSpec and
    * measured against the exact oracle in AnnTuningSpec). */
  def annTopK(emb: DataFrame, queryId: Long, k: Int,
      bands: Int = 8, bitsPerBand: Int = 8): DataFrame =
    annScoredCandidates(emb, queryId, bands, bitsPerBand)
      .orderBy(col("sim").desc, col("vec_id")).limit(k)

  // ------------------------------------------------------------- k-means

  /** Per-row best centroid id over a PACKED centroid array column
    * (array<struct<cid, cv>>, sorted by cid): a strict `>` fold keeps
    * the LOWEST cid on score ties, deterministically. Runs inside a
    * higher-order `aggregate`, so each point row picks its cell in a
    * narrow map — no shuffle, no groupBy — against the broadcast
    * centroid table. `cosineMetric` scores by ⟨v,c⟩/‖c‖ (argmax cosine;
    * ‖v‖ is constant per row and cannot change the argmax), else by
    * 2⟨v,c⟩ − ‖c‖² (argmin L2; ‖v‖² constant per row — the same
    * identity [[pqEncode]] uses). */
  private def bestCid(v: Column, cs: Column, cosineMetric: Boolean): Column =
    aggregate(cs,
      struct(lit(Double.NegativeInfinity).as("s"), lit(-1L).as("cid")),
      (acc, c) => {
        val s =
          if (cosineMetric) dot(v, c("cv")) / sqrt(dot(c("cv"), c("cv")))
          else lit(2.0) * dot(v, c("cv")) - dot(c("cv"), c("cv"))
        when(s > acc("s"), struct(s.as("s"), c("cid").as("cid"))).otherwise(acc)
      })("cid")

  /** Fixed-iteration distributed Lloyd refinement — the standard
    * quantizer-training loop (k-means for IVF coarse centroids and PQ
    * codebooks; Jégou et al. TPAMI 2011 train both this way), run as
    * `iters` deterministic Spark passes:
    *
    *   - assignment is a NARROW map: the (tiny) centroid set packs into
    *     one broadcast array-of-structs row per group and every point
    *     picks its argbest cell row-locally ([[bestCid]]) — the corpus
    *     never shuffles;
    *   - the update shuffles SCALARS only: posexplode to
    *     (gid, cid, pos, x), one hash aggregate per (gid, cid, pos)
    *     with map-side partials, then per-cell reassembly ordered by
    *     pos — the same vector-free shape as q_embed_centroids;
    *   - empty cells keep their previous centroid (deterministic, and
    *     a cell that captured nothing cannot corrupt its neighbors);
    *   - each iteration `localCheckpoint`s the k-row result, so the
    *     trained model materializes ONCE and every downstream probe
    *     reuses the tiny table instead of re-deriving the lineage
    *     (plan depth stays O(1) in `iters`, and the double reference
    *     to the previous centroids — assignment + empty-cell fill —
    *     cannot compound into an O(2^iters) tree).
    *
    * `points`: (gid long, pid long, v array<double>); `seeds`/result:
    * (gid long, cid long, cv array<double>). `gid` trains independent
    * groups in the SAME passes (PQ trains all m subspace codebooks at
    * once; IVF uses a single group). Refinement moves recall-vs-cost
    * (measured in ANN_TUNING.md), never the correctness of reported
    * similarities — those are always exact cosines over the candidate
    * set.
    *
    * Determinism scope: assignment and tie-breaks are exactly
    * reproducible anywhere; the mean update's floating-point sum order
    * is fixed only for a fixed partition layout (true in local mode
    * and on a stable cluster layout — what the AnnTuningSpec
    * determinism pin and ANN_TUNING.md byte-stability run on). Across
    * DIFFERENT reduce-merge orders the means can differ in the last
    * bits, which can flip a borderline point's cell; that perturbs
    * recall-vs-cost microscopically, never the exactness of reported
    * similarities. */
  def kmeansRefine(points: DataFrame, seeds: DataFrame, iters: Int,
      cosineMetric: Boolean): DataFrame = {
    var cents = seeds
    for (_ <- 0 until iters) {
      val packed = cents.groupBy(col("gid"))
        .agg(array_sort(collect_list(struct(col("cid"), col("cv")))).as("cs"))
      val means = points.join(broadcast(packed), "gid")
        .withColumn("cid", bestCid(col("v"), col("cs"), cosineMetric))
        .select(col("gid"), col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("gid"), col("cid"), col("pos"))
        .agg(avg(col("x")).as("m"))
        .groupBy(col("gid"), col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          p => p("m")).as("cv_new"))
      cents = cents.join(means, Seq("gid", "cid"), "left")
        .select(col("gid"), col("cid"),
          coalesce(col("cv_new"), col("cv")).as("cv"))
        .localCheckpoint()
    }
    cents
  }

  /** IVF (inverted-file) ANN top-k — the coarse-quantizer scale path
    * that complements the SRP-LSH variant:
    *   1. centroids: a deterministic seed set (the `nCentroids` lowest
    *     vec_ids) refined by [[kmeansRefine]] — distributed Lloyd
    *     iterations with cosine assignment and mean update (centroid
    *     quality moves recall, never correctness of the returned
    *     similarities);
    *   2. assignment: every vector goes to its argmax-cosine centroid
    *     via a broadcast of the (tiny) centroid table — one narrow
    *     pass, no shuffle of the vectors. At scale this is done once at
    *     ingest and the table is stored bucketBy(cell), making a query
    *     a few-bucket read instead of a full scan;
    *   3. probe: the query vector scores only vectors in its `nProbe`
    *     nearest cells — exact cosine on that slice, then top-k.
    * Recall is tunable by nProbe (asserted on the harness corpus in
    * LlmOpsSpec against the brute-force oracle). */
  /** The deterministic centroid seed set: the `nCentroids` lowest
    * vec_ids as (cent_id, cv). */
  def centroidSeeds(emb: DataFrame, nCentroids: Int): DataFrame =
    emb.filter(col("vec_id") < nCentroids)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))

  /** Trained IVF centroids: the seed set refined by `refineIters`
    * distributed Lloyd iterations (cosine assignment, mean update;
    * refineIters = 0 returns the raw seeds — the pre-training
    * behavior). Eagerly materialized and tiny, so a query pipeline
    * trains once and every downstream stage reuses the table. */
  def centroids(emb: DataFrame, nCentroids: Int, refineIters: Int = 2): DataFrame = {
    val seeds = centroidSeeds(emb, nCentroids)
    if (refineIters <= 0) seeds
    else kmeansRefine(
      spread(emb).select(lit(0L).as("gid"), col("vec_id").as("pid"), col("v")),
      seeds.select(lit(0L).as("gid"), col("cent_id").as("cid"), col("cv")),
      refineIters, cosineMetric = true)
      .select(col("cid").as("cent_id"), col("cv"))
  }

  /** Ingest-time IVF assignment: every vector's argmax-cosine cell via
    * a broadcast of the centroid table; (csim, cent_id) struct ordering
    * makes centroid ties deterministic (higher cent_id wins — any fixed
    * rule works, it only has to be one rule). At scale this output is
    * what gets stored bucketBy(cell) — bucket pruning then makes a
    * probe query read only its cells (proved in PlanSpec). */
  def ivfAssign(emb: DataFrame, nCentroids: Int = 16): DataFrame =
    ivfAssignTo(emb, centroids(emb, nCentroids))

  /** Assignment against an ALREADY-trained centroid table — pipelines
    * train once and pass the same table here and to the probe side. */
  def ivfAssignTo(emb: DataFrame, cents: DataFrame): DataFrame =
    spread(emb).crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cent_id"),
        cosine(col("v"), col("cv")).as("csim"))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cent_id"), struct(col("csim"), col("cent_id"))).as("cell"))

  /** The vec_ids in the query's `nProbe` nearest cells — the IVF scan
    * set, shared by the exact-scoring and PQ paths. `cents` lets a
    * caller supply an already-trained centroid table (the tuning sweep
    * trains once per config, not once per probe). */
  private def ivfCandidateIds(emb: DataFrame, queryId: Long,
      nCentroids: Int, nProbe: Int,
      cents: Option[DataFrame] = None): DataFrame = {
    val cs = cents.getOrElse(centroids(emb, nCentroids))
    val qv = emb.filter(col("vec_id") === queryId).select(col("v").as("qv"))
    val probed = cs.crossJoin(broadcast(qv))
      .select(col("cent_id").as("cell"), cosine(col("cv"), col("qv")).as("csim"))
      .orderBy(col("csim").desc, col("cell")).limit(nProbe)
      .select(col("cell"))
    ivfAssignTo(emb, cs).join(broadcast(probed), "cell")
      .select(col("vec_id"))
  }

  /** The IVF candidate stage alone: every vector in the query's
    * `nProbe` nearest cells, scored — [[ivfTopK]]'s scan set. Its size
    * is what nProbe buys recall with (curve in ANN_TUNING.md). */
  def ivfScoredCandidates(emb: DataFrame, queryId: Long,
      nCentroids: Int = 16, nProbe: Int = 4,
      cents: Option[DataFrame] = None): DataFrame = {
    val qv = emb.filter(col("vec_id") === queryId).select(col("v").as("qv"))
    emb.join(ivfCandidateIds(emb, queryId, nCentroids, nProbe, cents), "vec_id")
      .crossJoin(broadcast(qv))
      .select(col("vec_id"), round(cosine(col("v"), col("qv")), 4).as("sim"))
  }

  def ivfTopK(emb: DataFrame, queryId: Long, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4,
      cents: Option[DataFrame] = None): DataFrame =
    ivfScoredCandidates(emb, queryId, nCentroids, nProbe, cents)
      .orderBy(col("sim").desc, col("vec_id")).limit(k)

  // ------------------------------------------------------------------ PQ

  /** Product quantization — the memory half of the industry-standard
    * IVF-PQ billion-scale ANN design (Jégou/Douze/Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): each
    * vector splits into `m` subvectors and each subspace quantizes
    * against its own `k`-codeword codebook, so a 64-dim float vector
    * (256 B at rest) stores as `m` small integer codes (8 B at the
    * 8×16 default) — a ~32× compression of the scan set, which is what
    * lets the candidate scan live in memory at 100 TB corpus scale.
    *
    * Query-side scoring is ADC (asymmetric distance computation): the
    * query precomputes one dot-product lookup table per subspace
    * against the codebooks (m·k dots — independent of corpus size);
    * a candidate's approximate dot is then m table lookups summed and
    * its norm reconstructs from the same tables. The approximate
    * ranking only selects the RERANK set; the reported top-k is exact
    * cosine over that set — approximation moves which vectors get
    * exact-scored, never the correctness of a reported similarity
    * (the same contract as the IVF and SRP paths; curve in
    * ANN_TUNING.md).
    *
    * Everything is joins against the (tiny, broadcast) codebook table —
    * no literals baked into plans, no UDFs; the inner loops are the
    * native [[graft.plans.VectorDot]]. Codebooks use the same
    * deterministic training posture as [[centroids]]: the `k` lowest
    * vec_ids' subvectors seed [[kmeansRefine]], which Lloyd-refines all
    * `m` subspace codebooks in the same passes (codebook quality moves
    * recall, never reported values). */
  /** The deterministic codebook seed set: the `k` lowest vec_ids'
    * subvectors as (code, sub_id, cw). */
  def pqCodebookSeeds(emb: DataFrame, m: Int = 8, k: Int = 16, dim: Int = 64): DataFrame = {
    val sub = dim / m
    require(m * sub == dim, s"dim $dim not divisible into $m subspaces")
    emb.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("code"),
        posexplode(transform(sequence(lit(0), lit(m - 1)),
          i => slice(col("v"), i * sub + 1, lit(sub)))))
      .toDF("code", "sub_id", "cw")
  }

  /** Trained PQ codebooks: the seed set refined by `refineIters`
    * distributed Lloyd iterations, all `m` subspaces training in the
    * same passes (gid = sub_id; L2 assignment, mean update — the
    * k-means PQ codebooks are defined by). refineIters = 0 returns the
    * raw seeds. Eagerly materialized and tiny (m·k rows), so one
    * training serves the encode pass, the LUT and every probe. */
  def pqCodebooks(emb: DataFrame, m: Int = 8, k: Int = 16, dim: Int = 64,
      refineIters: Int = 2): DataFrame = {
    val seeds = pqCodebookSeeds(emb, m, k, dim)
    if (refineIters <= 0) seeds
    else {
      val sub = dim / m
      val points = spread(emb)
        .select(col("vec_id"),
          posexplode(transform(sequence(lit(0), lit(m - 1)),
            i => slice(col("v"), i * sub + 1, lit(sub)))))
        .toDF("pid", "gid", "v")
        .select(col("gid").cast("long").as("gid"), col("pid"), col("v"))
      kmeansRefine(points,
        seeds.select(col("sub_id").cast("long").as("gid"),
          col("code").cast("long").as("cid"), col("cw").as("cv")),
        refineIters, cosineMetric = false)
        .select(col("cid").cast("int").as("code"),
          col("gid").cast("int").as("sub_id"), col("cv").as("cw"))
    }
  }

  /** Ingest-time PQ encoding: (vec_id, sub_id, code) — each subvector's
    * argmin-L2 codeword, found via a broadcast join against the
    * codebook and a min_by aggregate (||sv||² is constant per
    * (vector, subspace), so argmin L2 ≡ argmin(||cw||² − 2⟨sv,cw⟩);
    * ties break to the lowest code, deterministically). At scale THIS
    * is the stored artifact — m bytes per vector plus the IVF cell. */
  def pqEncode(emb: DataFrame, m: Int = 8, k: Int = 16, dim: Int = 64,
      books: Option[DataFrame] = None): DataFrame = {
    val sub = dim / m
    spread(emb)
      .select(col("vec_id"),
        posexplode(transform(sequence(lit(0), lit(m - 1)),
          i => slice(col("v"), i * sub + 1, lit(sub)))))
      .toDF("vec_id", "sub_id", "sv")
      .join(broadcast(books.getOrElse(pqCodebooks(emb, m, k, dim))), "sub_id")
      .select(col("vec_id"), col("sub_id"), col("code"),
        (dot(col("cw"), col("cw")) - lit(2.0) * dot(col("sv"), col("cw"))).as("d2"))
      .groupBy(col("vec_id"), col("sub_id"))
      .agg(min_by(col("code"), struct(col("d2"), col("code"))).as("code"))
  }

  /** ADC ranking scores: approx dot = Σ_m lut[sub][code], approx norm
    * = √Σ_m ‖cw[sub][code]‖² — both from the broadcast per-query
    * lookup table. `within` restricts the scored set BEFORE the lut
    * join and aggregate (the IVF path passes its cell candidates here,
    * so the per-query ADC pass touches only the probed cells' code
    * rows, never the whole corpus — at rest the codes are stored
    * alongside the IVF cell, bucketBy(cell), and this is the pruned
    * read). `within` is treated as a SET: the restriction is a
    * left-semi join, so a caller passing duplicate vec_ids cannot
    * multiply a vector's code rows (an inner join would scale both
    * Σqdot and Σcw2 by the multiplicity and inflate `asim` by
    * √multiplicity, silently distorting the shortlist). `asim` orders
    * candidates for the rerank cut; it is NOT a reported similarity
    * (the constant ‖q‖ is dropped — it cannot change the ranking).
    *
    * EARLY ABANDON (considered, rejected): sequential PQ scanners skip
    * a candidate's remaining subspace lookups once its partial sum
    * cannot reach the running k-th-best bound. That bound is global
    * mutable state — on Spark it would mean cross-partition
    * coordination (or per-partition bounds that abandon almost
    * nothing) to save at most a factor of m = 8 additions per
    * candidate in a pass that is already memory-bandwidth-bound over
    * 8-byte codes and restricted to the probed cells' rows by the
    * semi join above. The levers that actually move the cost curve at
    * scale are nProbe and rerankFactor (both measured in
    * ANN_TUNING.md) and the bucketBy(cell) at-rest layout (pinned in
    * PlanSpec); a bound-propagating scan would buy a constant at the
    * price of the plan's determinism and shuffle-freedom. */
  def pqAdcScores(emb: DataFrame, queryId: Long,
      m: Int = 8, k: Int = 16, dim: Int = 64,
      within: Option[DataFrame] = None,
      books: Option[DataFrame] = None): DataFrame = {
    val sub = dim / m
    val bks = books.getOrElse(pqCodebooks(emb, m, k, dim))
    val qsub = emb.filter(col("vec_id") === queryId)
      .select(posexplode(transform(sequence(lit(0), lit(m - 1)),
        i => slice(col("v"), i * sub + 1, lit(sub)))))
      .toDF("sub_id", "qsv")
    val lut = bks.join(broadcast(qsub), "sub_id")
      .select(col("sub_id"), col("code"),
        dot(col("qsv"), col("cw")).as("qdot"),
        dot(col("cw"), col("cw")).as("cw2"))
    val codes = pqEncode(emb, m, k, dim, Some(bks))
    within.fold(codes)(ids =>
      codes.join(ids.select(col("vec_id")), Seq("vec_id"), "left_semi"))
      .join(broadcast(lut), Seq("sub_id", "code"))
      .groupBy(col("vec_id"))
      .agg((sum(col("qdot")) / sqrt(sum(col("cw2")))).as("asim"))
  }

  /** The exact-scored RERANK set of the IVF-PQ probe: IVF prunes to the
    * query's cells, ADC over the candidates' codes picks the
    * `k·rerankFactor` most promising, and THOSE get true cosines —
    * the scan set [[ivfPqTopK]] ranks, sized for the tuning sweep. */
  def ivfPqRerankSet(emb: DataFrame, queryId: Long, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4, m: Int = 8, codebook: Int = 16,
      rerankFactor: Int = 4, cents: Option[DataFrame] = None,
      books: Option[DataFrame] = None): DataFrame = {
    val cand = ivfCandidateIds(emb, queryId, nCentroids, nProbe, cents)
    val shortlist = pqAdcScores(emb, queryId, m, codebook,
        within = Some(cand), books = books)
      .orderBy(col("asim").desc, col("vec_id")).limit(k * rerankFactor)
      .select(col("vec_id"))
    val qv = emb.filter(col("vec_id") === queryId).select(col("v").as("qv"))
    emb.join(broadcast(shortlist), "vec_id")
      .crossJoin(broadcast(qv))
      .select(col("vec_id"), round(cosine(col("v"), col("qv")), 4).as("sim"))
  }

  /** IVF-PQ ANN top-k: cell pruning (IVF) × compressed-scan ranking
    * (PQ/ADC) × exact rerank — the standard composition for
    * billion-vector search. Output shape identical to
    * [[bruteForceTopK]]; recall measured against it in AnnTuningSpec. */
  def ivfPqTopK(emb: DataFrame, queryId: Long, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4, m: Int = 8, codebook: Int = 16,
      rerankFactor: Int = 4, cents: Option[DataFrame] = None,
      books: Option[DataFrame] = None): DataFrame =
    ivfPqRerankSet(emb, queryId, k, nCentroids, nProbe, m, codebook,
        rerankFactor, cents, books)
      .orderBy(col("sim").desc, col("vec_id")).limit(k)

  // ------------------------------------------------------------ kNN join

  /** Batched k-NN JOIN: top-k corpus neighbors for EVERY row of a
    * query set — the shape a training pipeline actually runs
    * (retrieval eval sets, embedding-dedup probes, hard-negative
    * mining); [[bruteForceTopK]] is the 1-query special case.
    *
    * Exact variant: broadcast the query batch (bounded by contract —
    * an eval set, not a second corpus), score all pairs in one narrow
    * pass, then per-query top-k via `row_number` over a window
    * PARTITIONED by q_id with a rank filter. Catalyst rewrites that
    * rank filter into a WindowGroupLimit that pre-reduces each map
    * task to its local top-k per query BEFORE the shuffle (pinned in
    * PlanSpec), so the exchange carries ≤ k·|queries| rows per task —
    * never the full pair set. Ranking is on the RAW cosine (unique
    * vec_id tiebreak), output similarity rounded — so rank and
    * reported value can never disagree with the oracle over rounding
    * boundaries. */
  def knnJoin(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim_raw").desc, col("vec_id"))
    emb.crossJoin(broadcast(
        queries.select(col("vec_id").as("q_id"), col("v").as("qv"))))
      .select(col("q_id"), col("vec_id"),
        cosine(col("v"), col("qv")).as("sim_raw"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("vec_id"),
        round(col("sim_raw"), 4).as("sim"), col("rnk"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** IVF-pruned k-NN join — the corpus-scale path: queries rank cells
    * against the broadcast (trained) centroid table and keep their
    * `nProbe` nearest; corpus rows join their cell's queries, exact
    * cosine on that slice, per-query top-k (same WindowGroupLimit
    * pre-reduction as [[knnJoin]]). At 100 TB the corpus side is the
    * stored bucketBy(cell) table, so each query batch reads only its
    * probed cells. At nProbe = nCentroids this EQUALS the exact join
    * (every cell probed — pinned in AnnTuningSpec); below that, recall
    * follows the ANN_TUNING.md curve. */
  def knnJoinIvf(emb: DataFrame, queries: DataFrame, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4,
      cents: Option[DataFrame] = None): DataFrame = {
    val cs = cents.getOrElse(centroids(emb, nCentroids))
    val qcells = queries.select(col("vec_id").as("q_id"), col("v").as("qv"))
      .crossJoin(broadcast(cs))
      .select(col("q_id"), col("qv"), col("cent_id").as("cell"),
        cosine(col("qv"), col("cv")).as("csim"))
      .withColumn("crnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("csim").desc, col("cell"))))
      .filter(col("crnk") <= nProbe)
      .select(col("q_id"), col("qv"), col("cell"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim_raw").desc, col("vec_id"))
    spread(emb).join(ivfAssignTo(emb, cs), "vec_id")
      .join(broadcast(qcells), Seq("cell"))
      .select(col("q_id"), col("vec_id"),
        cosine(col("v"), col("qv")).as("sim_raw"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("vec_id"),
        round(col("sim_raw"), 4).as("sim"), col("rnk"))
      .orderBy(col("q_id"), col("rnk"))
  }

  private[graft] def embTable(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))

  /** HYBRID retrieval fusion — reciprocal-rank fusion (Cormack &
    * Clarke 2009) of a lexical ranking and a vector ranking:
    * rrf(d) = Σ_systems 1/(kRrf + rank_d), over the union of the two
    * top-N candidate sets (a doc missing from one list contributes 0
    * for that system). The modern BM25 + dense-retrieval serving
    * pattern, fused rank-side so the two scorers' scales never mix.
    *
    * Ranks are computed WITHOUT a global window: each candidate set is
    * already top-N (constant, driver-bounded — TakeOrderedAndProject
    * upstream), and rank = 1 + |better| via a tiny self-join count, so
    * nothing relation-sized ever lands on one task and the engine's
    * no-partition-less-window contract holds. Ranks derive from the
    * ROUNDED scores (the public contract of both scorers), id
    * tiebreak. */
  def rrfFuse(lex: DataFrame, vec: DataFrame, kRrf: Int = 60,
      k: Int = 20): DataFrame = {
    require(kRrf >= 1 && k >= 1, s"need kRrf >= 1 and k >= 1: $kRrf, $k")
    def ranked(df: DataFrame, out: String): DataFrame = {
      val Array(id, score) = df.columns
      val a = df.select(col(id).as("doc_id"), col(score).as("__s"))
      val b = df.select(col(id).as("__d2"), col(score).as("__s2"))
      a.join(b, col("__s2") > col("__s") ||
          (col("__s2") === col("__s") && col("__d2") < col("doc_id")), "left")
        .groupBy(col("doc_id"))
        .agg((count(col("__d2")) + 1L).as(out))
    }
    ranked(lex, "rank_lex").join(ranked(vec, "rank_vec"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("rank_lex"), col("rank_vec"),
        round(coalesce(lit(1.0) / (col("rank_lex") + lit(kRrf)), lit(0.0)) +
          coalesce(lit(1.0) / (col("rank_vec") + lit(kRrf)), lit(0.0)), 6).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(k)
  }

  // quantizer training is an INGEST-time artifact (train once, probe
  // many — the stored cents/books are the deployment artifact)
  private def trainedCents(s: SparkSession, d: String, n: Int): DataFrame =
    graft.ProcessCache.get(s, s"cents:$d:$n", Tables.path(d, "embeddings"))(
      centroids(embTable(s, d), n))
  private def trainedBooks(s: SparkSession, d: String): DataFrame =
    graft.ProcessCache.get(s, s"books:$d", Tables.path(d, "embeddings"))(
      pqCodebooks(embTable(s, d)))

  /** Scalar (int8) quantization AUDIT of the embedding column: per
    * dimension, the min/max range, and the mean/max absolute
    * reconstruction error of 8-bit min-max quantization — the
    * storage-sizing decision every billion-vector store makes (4×
    * smaller vectors vs measured recall-relevant error) rendered as a
    * 1-row-per-dimension report.
    *
    * q = floor((v − lo)/((hi − lo)/255) + 0.5), dequant = lo + q·step
    * — identical operand order on every engine, so errors are exact.
    * One shuffle on the dimension key: range via window min/max, the
    * error aggregate groups on the same key (no second exchange);
    * elements shuffle as (dim, double) pairs, never whole vectors. */
  def embedQuantizeAudit(emb: DataFrame): DataFrame = {
    val x = emb.select(posexplode(col("embedding")).as(Seq("pos", "vf")))
      .select((col("pos") + 1).cast("int").as("dim"),
        col("vf").cast("double").as("v"))
    val w = Window.partitionBy(col("dim"))
    val lo = min(col("v")).over(w)
    val hi = max(col("v")).over(w)
    val step = (hi - lo) / 255.0
    val deq = when(hi === lo, lo)
      .otherwise(lo + floor((col("v") - lo) / step + 0.5) * step)
    x.select(col("dim"), col("v"), lo.as("lo"), hi.as("hi"), deq.as("deq"))
      .groupBy(col("dim"), col("lo"), col("hi"))
      .agg(round(avg(abs(col("v") - col("deq"))), 8).as("mean_abs_err"),
        round(max(abs(col("v") - col("deq"))), 8).as("max_abs_err"))
      .select(col("dim"), round(col("lo"), 6).as("lo"),
        round(col("hi"), 6).as("hi"), col("mean_abs_err"), col("max_abs_err"))
      .orderBy(col("dim"))
  }

  /** Embedding NORM health per label — the vector-QA gate run before
    * any indexing: L2-norm distribution (mean/sd/min/max) + zero-vector
    * count. Zero or wildly-scaled vectors poison cosine retrieval and
    * k-means alike; this is the profile that catches them corpus-wide.
    *
    * Per-row norm = sqrt(VectorDot(v, v)) — the native codegen'd dot
    * (sequential fold, bit-identical to the oracle's list_sum over
    * CAST(... AS DOUBLE[]); sqrt is correctly-rounded IEEE) — feeding
    * ONE label-key hash aggregate: partials are six doubles, vectors
    * never shuffle. */
  def embedNormStats(emb: DataFrame): DataFrame = {
    val v = toDouble(col("embedding"))
    emb.select(col("label"), sqrt(dot(v, v)).as("norm"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("norm")), 4).as("mean_norm"),
        round(stddev_samp(col("norm")), 4).as("sd_norm"),
        round(min(col("norm")), 4).as("min_norm"),
        round(max(col("norm")), 4).as("max_norm"),
        sum(when(col("norm") === 0.0, 1L).otherwise(0L)).as("n_zero"))
      .orderBy(col("label"))
  }

  /** Deterministic NEGATIVE SAMPLING for contrastive / retrieval
    * training: each anchor probes a fixed modular sequence of
    * candidate ids (`(anchor·7919 + j·104729) mod N`, j = 1..probes)
    * and keeps the first `k` whose label differs — the in-batch-
    * negatives replacement that is RNG-free, stable under retries and
    * partition moves (the [[TextOps.splitHoldout]] posture), and
    * replayable in plain SQL on any engine. The probe constants are
    * coprime steps, so candidates repeat only on corpora smaller than
    * the probe span (documented, not deduped — duplicates keep their
    * distinct probe index and parity stays exact).
    *
    * Scale: a ×probes explode of the (id, label) projection — never
    * the vectors — one equi join back for candidate labels, and a
    * per-anchor bounded (≤probes-row) window for the keep-k rank. */
  def negativeSample(emb: DataFrame, k: Int = 4, probes: Int = 8): DataFrame = {
    val n = emb.agg(max(col("vec_id")).as("mx"))
    val cand = emb.select(col("vec_id"), col("label"))
      .crossJoin(broadcast(n))
      .select(col("vec_id"), col("label"), col("mx"),
        explode(sequence(lit(1L), lit(probes.toLong))).as("j"))
      .withColumn("neg_id",
        (col("vec_id") * 7919L + col("j") * 104729L) % (col("mx") + 1L))
      .drop("mx")
    val other = emb.select(col("vec_id").as("neg_id"),
      col("label").as("neg_label"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("j"))
    cand.join(other, "neg_id")
      .filter(col("neg_label") =!= col("label") &&
        col("neg_id") =!= col("vec_id"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("vec_id"), col("j"), col("neg_id"), col("neg_label"))
      .orderBy(col("vec_id"), col("j"))
  }

  /** Top PRINCIPAL COMPONENT of the embedding cloud by power
    * iteration — the variance-structure probe run before indexing or
    * whitening (a dominant axis means anisotropic embeddings: cosine
    * scores compress, IVF cells elongate; ABD/whitening papers start
    * exactly here). Emits the principal axis loadings, its
    * eigenvalue, and the explained-variance share.
    *
    * Engine-independent BY CONSTRUCTION, the strongest verification
    * available to an iterative numeric op (the q_text_bpe_train
    * posture, taken further):
    *  - the distributed reduction quantizes each moment TERM to the
    *    1e-9 grid as an INTEGER (`floor(x·1e9 + ½) AS LONG`) and sums
    *    integers — integer addition is order-independent, so the
    *    covariance matrix assembled from (ΣxᵢxⱼQ, ΣxᵢQ, n) is
    *    BIT-IDENTICAL on any engine and any partitioning, with zero
    *    .5-boundary risk (no float sum ever crosses an engine);
    *  - the 12 power-iteration steps then run on that one-row matrix
    *    with sequential-fold array HOFs (`aggregate`/`zip_with` =
    *    DuckDB `list_sum`/`list_transform`, the established
    *    bit-parity pair), every op exact-rounded IEEE — so the
    *    iterate, eigenvalue, and share are bit-identical too, and the
    *    6-dp rendering cannot flip.
    *
    * Scale posture: ONE corpus pass explodes each row to its d²
    * (i,j)-term integers feeding a map-side-partial hash aggregate on
    * 4,096 keys — counts-only shuffle, vectors never move; the d×d
    * iteration is a 1-row DataFrame stepped with localCheckpoint (12
    * tiny jobs, the bpeTrain shape), never a driver-side collect of
    * data rows. Start vector 1/√d (dyadic at d=64), fixed iteration
    * count: convergence quality is the spec's concern
    * (planted-structure recovery), parity holds regardless. */
  def pcaTopComponent(emb: DataFrame, iters: Int = 12): DataFrame = {
    val meta = emb.agg(count(lit(1)).as("n"),
      min(size(col("embedding"))).as("lo"),
      max(size(col("embedding"))).as("hi")).head
    val n = meta.getLong(0)
    require(n >= 2, s"pca needs >= 2 vectors, got $n")
    require(meta.getInt(1) == meta.getInt(2),
      s"ragged embedding dims ${meta.getInt(1)}..${meta.getInt(2)}")
    val dim = meta.getInt(1)
    val v = toDouble(col("embedding"))
    val q = lit(1e9)

    // UPPER TRIANGLE only: xᵢxⱼ = xⱼxᵢ term-for-term, so the mirrored
    // entry reconstructs bit-identically at assembly. r17 (guide
    // §2.3/§2.4): the former posexplode + nested-transform/struct
    // explode shipped every (i,j) term as a ROW through a d(d+1)/2-key
    // hash aggregate (4.2M rows at d=64 over 2k vectors — 2.2 s, 73%
    // of the query); the fused [[graft.plans.QuantMomentTerms]] +
    // [[graft.plans.LongVecSum]] pair computes all d + d(d+1)/2
    // quantized-long terms per row in one codegen loop and reduces
    // them as ONE elementwise array sum (map-side partial, one array
    // per partition on the wire). Each term is the identical IEEE
    // chain and integer sums are order-free, so every assembled moment
    // — and every hash-checked digit — is bit-identical to the explode
    // form (QuantMomentsSpec pins term-for-term and null parity).
    val terms = org.apache.spark.sql.GraftBridge.column(
      graft.plans.QuantMomentTerms(
        org.apache.spark.sql.GraftBridge.expression(v), 1e9))
    val momentsRow = emb.select(terms.as("t"))
      .agg(org.apache.spark.sql.GraftBridge.column(
        graft.plans.LongVecSum(
          org.apache.spark.sql.GraftBridge.expression(col("t")))
          .toAggregateExpression()).as("m"))
      .select(slice(col("m"), 1, dim).as("sArr"),
        slice(col("m"), dim + 1, dim * (dim + 1) / 2).as("pArr"))

    val nD = lit(n.toDouble)
    val cRow = momentsRow
      .select(transform(sequence(lit(0), lit(dim - 1)), i =>
        transform(sequence(lit(0), lit(dim - 1)), j => {
          // triangular index of (min,max) in the (i,j)-sorted i<=j list
          val lo = least(i, j)
          val hi = greatest(i, j)
          val idx = (lo * dim - lo * (lo - 1) / 2 + (hi - lo) + 1).cast("int")
          val p = element_at(col("pArr"), idx).cast("double") / q
          val si = element_at(col("sArr"), (i + 1).cast("int")).cast("double") / q
          val sj = element_at(col("sArr"), (j + 1).cast("int")).cast("double") / q
          (p - si * sj / nD) / lit((n - 1).toDouble)
        })).as("C"))

    val seqSum = (arr: Column) => aggregate(arr, lit(0.0), (acc, x) => acc + x)
    val matvec = (m: Column, vec: Column) =>
      transform(m, row => seqSum(zip_with(row, vec, (a, b) => a * b)))
    var cur = cRow.withColumn("v",
      array_repeat(lit(1.0) / sqrt(lit(dim.toDouble)), dim))
    for (_ <- 1 to iters) {
      // localCheckpoint per step: v_new references u twice, so an
      // un-materialized chain doubles the expression tree per
      // iteration (the bpeTrain lesson); each step is a 1-row job
      cur = cur
        .withColumn("u", matvec(col("C"), col("v")))
        .withColumn("v", transform(col("u"),
          x => x / sqrt(seqSum(transform(col("u"), y => y * y)))))
        .select(col("C"), col("v"))
        .localCheckpoint()
    }
    val u = matvec(col("C"), col("v"))
    val lam = seqSum(zip_with(col("v"), u, (a, b) => a * b))
    val trace = seqSum(transform(sequence(lit(0), lit(dim - 1)),
      i => element_at(element_at(col("C"), (i + 1).cast("int")), (i + 1).cast("int"))))
    cur.select(lam.as("lam"), trace.as("tr"),
        posexplode(col("v")).as(Seq("dim", "loading")))
      .select(col("dim").cast("long").as("dim"),
        graft.halfUp(col("loading"), 6).as("loading"),
        graft.halfUp(col("lam"), 6).as("eigenvalue"),
        graft.halfUp(col("lam") / col("tr"), 6).as("var_share"))
      .orderBy(col("dim"))
  }

  /** EXACT-parity k-means (Lloyd) over the embedding corpus — the
    * hash-verifiable sibling of [[kmeansRefine]] (whose float mean
    * update is deterministic only for a fixed partition layout, fine
    * for quantizer training but not for a cross-engine contract).
    * Seeds = the k lowest vec_ids' vectors, `iters` fixed rounds,
    * then every vector's final cell assignment and squared distance.
    *
    * Parity is by construction at every step: distances fold
    * left-to-right over the dims from a 0.0 init (x₁ first — both
    * engines' list folds agree bit-for-bit, the q_embed_pca
    * precedent); the argmin keeps the FIRST strict improvement over
    * the cid-sorted centroid list, so ties resolve to the lowest
    * cid; centroid updates divide an integer-quantized (1e-9 grid)
    * order-free component sum; empty cells keep their previous
    * centroid. The DuckDB twin replays all of it in one recursive
    * CTE.
    *
    * Scale posture: the corpus never shuffles for assignment — the
    * k-row model packs into ONE broadcast row and every point picks
    * its cell row-locally inside codegen; the update is ONE
    * fixed-width hash aggregate (d quantized-long sum columns + a
    * count per cid) whose exchange carries k·(d+1) longs per map
    * task — never vectors, never the r13 n·d (cid, pos, x) explode;
    * each iteration localCheckpoints k rows so plan depth stays O(1)
    * in iters.
    *
    * Construction is execution: building the frame runs every Lloyd
    * round as Spark jobs (the per-round centroid collect), so only the
    * final assignment is left for the caller's action. A dry run that
    * must launch no job cannot build it; `graft.Profile` reports these
    * jobs as its `construct_jobs`. */
  def kmeansExact(emb: DataFrame, k: Int = 4, iters: Int = 6): DataFrame = {
    require(k >= 2 && iters >= 1, s"need k >= 2, iters >= 1: $k, $iters")
    val pts = emb.select(col("vec_id"), toDouble(col("embedding")).as("v"))
    // squared distance via the native [[graft.plans.VectorSqDist]]
    // loop — the same left-to-right sequential fold as the HOF
    // aggregate(zip_with(...)) it replaced, so every distance (and
    // therefore every assignment, mean, and rendered digit) is
    // bit-identical to the r11 plan and to the DuckDB twin
    def d2(v: Column, cv: Column): Column =
      org.apache.spark.sql.GraftBridge.column(
        graft.plans.VectorSqDist(
          org.apache.spark.sql.GraftBridge.expression(v),
          org.apache.spark.sql.GraftBridge.expression(cv)))
    // distances computed ONCE per (point, centroid) into a cid-sorted
    // struct array — the r11 fold re-evaluated d2(v, acc) at every
    // step (2(k−1) distance evals per point where k suffice; 17.5% of
    // the whole bench). The argmin below folds over the PRECOMPUTED
    // scalars with the same first-strict-improvement rule, so ties
    // still keep the earlier (lower-cid) centroid, same as the twin's
    // list_reduce.
    // CreateNamedStruct directly: `.as("d")` inside a HOF lambda is
    // stripped by CleanupAliases (the field would analyze as `col2`),
    // literal field names are not
    def namedStruct(fields: (String, Column)*): Column =
      org.apache.spark.sql.GraftBridge.column(
        org.apache.spark.sql.catalyst.expressions.CreateNamedStruct(
          fields.toSeq.flatMap { case (n, c) => Seq(
            org.apache.spark.sql.catalyst.expressions.Literal.create(n),
            org.apache.spark.sql.GraftBridge.expression(c)) }))
    def distArr(v: Column, cs: Column): Column =
      transform(cs, c => namedStruct(
        "cid" -> c.getField("cid"),
        "d" -> d2(v, c.getField("cv"))))
    // argmin as ONE null-seeded fold over the distance array (r17
    // round 2): the slice/element_at/size form embedded the distArr
    // transform THREE times in the expression tree, and higher-order
    // functions are interpreted (CodegenFallback) with no common-
    // subexpression elimination — every row paid the k-distance
    // transform three times. The null seed takes the first element
    // unconditionally (acc IS NULL), then the same first-strict-
    // improvement rule — identical winner on every input, including
    // NULL distances (a NULL comparison keeps acc, as before).
    def best(v: Column, cs: Column): Column =
      aggregate(distArr(v, cs),
        lit(null).cast("struct<cid:bigint,d:double>"),
        (acc, c) => when(acc.isNull || c.getField("d") < acc.getField("d"), c)
          .otherwise(acc))
    // model dimensionality, read once from the first vector (a
    // LIMIT-1 scan, not a relation read) — the means update below
    // generates one fixed-width sum column per component, so d must
    // be static at plan-build; ragged rows fail loudly in-plan
    val dims = pts.select(size(col("v")).as("d")).head.getInt(0)
    require(dims >= 1, s"kmeansExact: empty embedding vectors")
    requireModelLiterals("kmeansExact", k, dims)
    // DRIVER-HELD model state (r17 round 2, guide §1.2): the model is
    // a k×d array of doubles — O(model), never O(data) — collected to
    // the driver each Lloyd round and re-injected as a LITERAL
    // centroid array, the public MLlib KMeans posture. The r17-mid
    // packed-broadcast form paid, per iteration, a localCheckpoint
    // job + block write + a broadcast build just to move ~2 KB of
    // centroids; with the model driver-held each iteration is exactly
    // ONE Spark job (the means aggregate, k rows back), and the final
    // registered plan is scan → project → sort with NO join at all —
    // the corpus still never moves. Measured: 31 → 18 jobs; min-of-5
    // stash A/B 2.80 → 2.21 s at matching calibration
    // (OPTIMIZATION_r17.md, continuation session). The means themselves
    // are unchanged numbers: the same quantized-long sums divide in
    // the same order inside the aggregate's projection, and the model
    // array keeps cid-ascending order, so assignments, means, and the
    // oracle hash are bit-identical to the broadcast form (kmeans
    // spec + oracle pins at sf0.001/sf0.01).
    // Seeds = the k lowest vec_ids' vectors, cid = position (the same
    // cid-ascending order sort_array(collect_list) produced).
    var model: IndexedSeq[Seq[Double]] = pts.orderBy(col("vec_id")).limit(k)
      .select(col("v")).collect().toIndexedSeq.map { r =>
        val cv = r.getSeq[Double](0)
        require(cv != null, "kmeansExact: NULL embedding in seed rows")
        cv
      }
    // the literal cid-sorted centroid array the executors consume —
    // rebuilt from the driver model each round, same shape the
    // broadcast row carried
    def csLit: Column = array(model.zipWithIndex.map { case (cv, i) =>
      namedStruct("cid" -> lit(i.toLong),
        "cv" -> array(cv.map(lit(_)): _*)) }: _*)
    for (_ <- 1 to iters) {
      // means update as ONE fixed-width hash aggregate: quantize each
      // component to the 1e-9 integer grid (exact, order-free longs —
      // the same grid the r13 posexplode form summed), then sum all d
      // components as d separate codegen'd long aggregates per cid.
      // The exchange carries k·(d+1) longs per map task instead of
      // n·d (cid, pos, x) rows per iteration — the r13 plan's whole
      // shuffle volume. Each mean divides the identical long sum by
      // the identical count in the identical order, so every digit
      // (and the oracle hash) is unchanged.
      val qv = pts
        .select(best(col("v"), csLit).getField("cid").as("cid"),
          when(size(col("v")) === lit(dims),
            transform(col("v"),
              x => floor(x * lit(1e9) + lit(0.5)).cast("long")))
            .otherwise(raise_error(concat(
              lit("kmeansExact: ragged embedding — expected dim "),
              lit(dims).cast("string"), lit(", got "),
              size(col("v")).cast("string")))).as("qv"))
      val sums = (1 to dims).map(i =>
        sum(element_at(col("qv"), i)).as(s"s$i"))
      val means = qv.groupBy(col("cid"))
        .agg(count(lit(1)).as("cnt"), sums: _*)
        .select(col("cid"), array((1 to dims).map(i =>
          col(s"s$i").cast("double") / lit(1e9) /
            col("cnt").cast("double")): _*).as("cvn"))
      // k rows back to the driver; the empty-cell rule (keep the
      // previous centroid) is the same coalesce, applied driver-side
      val got = means.collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      model = model.zipWithIndex.map { case (cv, i) =>
        got.getOrElse(i.toLong, cv) }
    }
    pts.withColumn("b", best(col("v"), csLit))
      // the winner struct already carries its distance — same value
      // the r11 plan recomputed as d2(v, best.cv)
      .select(col("vec_id"), col("b").getField("cid").as("cid"),
        graft.halfUp(col("b").getField("d"), 6).as("dist2"))
      .orderBy(col("vec_id"))
  }

  /** GREEDY k-CENTER (farthest-point) selection over the embedding
    * corpus — the classical 2-approximation coreset/diversity sampler
    * (Gonzalez): seed with the lowest vec_id, then k−1 times pick the
    * point FARTHEST from everything selected so far. The
    * training-data "maximize coverage of embedding space" selection
    * step, dual to [[kmeansExact]]'s "summarize by centroids" (and
    * the seeding k-means++ approximates). Output: selection rank,
    * vec_id, and the squared distance to the nearest
    * previously-selected center (the saturation curve — how fast the
    * corpus stops yielding novel regions).
    *
    * Parity: distances are the [[graft.plans.VectorSqDist]]
    * sequential fold; the per-point min over selected centers is
    * order-independent exactly (min of exact doubles); the argmax
    * resolves ties to the LOWEST vec_id via a struct max on
    * (d, −vec_id). The DuckDB twin unrolls the k−1 steps into
    * chained CTEs (the kcore/LPA posture) with the same fold, min,
    * and tie rule.
    *
    * Scale posture: the kmeans shape — the selected set packs into
    * ONE broadcast row per round, every candidate scores row-locally,
    * the round reduces to a 1-row argmax (max of a struct, with
    * map-side partials); k bounded; corpus never shuffles.
    *
    * Construction is execution: building the frame runs all k−1
    * greedy picks as Spark jobs (a 1-row argmax per pick), so the
    * returned frame is the selected set, not a plan for it;
    * `graft.Profile` reports these jobs as its `construct_jobs`. */
  def kCenterSelect(emb: DataFrame, k: Int = 8): DataFrame = {
    require(k >= 2, s"need k >= 2: $k")
    val pts = emb.select(col("vec_id").cast("long").as("vec_id"),
      toDouble(col("embedding")).as("v"))
    def d2(v: Column, cv: Column): Column =
      org.apache.spark.sql.GraftBridge.column(
        graft.plans.VectorSqDist(
          org.apache.spark.sql.GraftBridge.expression(v),
          org.apache.spark.sql.GraftBridge.expression(cv)))
    // DRIVER-HELD selected set (r17 round 2, the kmeansExact posture):
    // each greedy pick is a 1-row argmax — an O(d) bounded statistic —
    // and the selected set is O(k·d), so holding it on the driver and
    // re-injecting it as literals replaces, per round, a
    // localCheckpoint job + a packed-set broadcast + an anti-join
    // broadcast with ONE aggregate job whose single row comes back via
    // head(). The corpus still never shuffles; every candidate scores
    // row-locally against the literal centers. Values are
    // bit-identical: same VectorSqDist folds, same exact min, same
    // (d, −vec_id) struct-max tie rule (semantics spec + oracle pins).
    val seed = pts.orderBy(col("vec_id")).limit(1)
      .select(col("vec_id"), col("v")).head
    // (vec_id, vector, dist2-to-nearest-prior; None for the seed)
    var sel = Vector((pickedId(seed, "kCenterSelect", 1, k), seed.getSeq[Double](1),
      Option.empty[Double]))
    requireModelLiterals("kCenterSelect", k, sel.head._2.size)
    for (t <- 2 to k) {
      val csLit = array(sel.map { case (_, cv, _) =>
        array(cv.map(lit(_)): _*) }: _*)
      val selIds = sel.map(_._1)
      // NOT-IN over the literal (non-null) picked ids + an explicit
      // null-keep mirrors the anti join exactly (anti keeps null-key
      // rows, as does the oracle twin's NOT EXISTS)
      val b = pts
        .filter(col("vec_id").isNull ||
          !col("vec_id").isin(selIds: _*))
        .select(col("vec_id"), col("v"),
          array_min(transform(csLit, c => d2(col("v"), c))).as("md"))
        .agg(max(struct(col("md").as("d"), (-col("vec_id")).as("ni"),
          col("v").as("bv"))).as("b"))
        .select((-col("b.ni")).as("vec_id"), col("b.bv").as("v"),
          col("b.d").as("d"))
        .head
      sel = sel :+ ((pickedId(b, "kCenterSelect", t, k), b.getSeq[Double](1),
        Some(b.getDouble(2))))
    }
    // k driver rows back out as a local relation; same columns, same
    // rounding, same rank order as the checkpointed-union form
    localPicks(emb.sparkSession,
        sel.zipWithIndex.map { case ((id, _, d), i) =>
          ((i + 1).toLong, id, d) },
        "dist2")
      .select(col("rank"), col("vec_id"),
        graft.halfUp(col("dist2"), 6).as("dist2"))
      .orderBy(col("rank"))
  }

  /** Most model doubles (k vectors of d) that a driver-held selector
    * re-injects into its plan as literals each round; the largest
    * registered model is 8·64 = 512. */
  private[graft] val MaxModelLiterals = 4096

  /** Fails, naming `op` and the bound, when k·d exceeds
    * [[MaxModelLiterals]]: a literal array that wide would bloat every
    * round's plan and its analysis. */
  private def requireModelLiterals(op: String, k: Int, d: Int): Unit =
    require(k.toLong * d <= MaxModelLiterals,
      s"$op: k·d = ${k}·${d} = ${k.toLong * d} model literals exceed the bound of " +
        s"$MaxModelLiterals")

  /** The vec_id of a greedy argmax row (id, vector, …), or a failure
    * naming why there is none: an all-NULL row is the max over an
    * empty candidate set; a NULL id beside a vector is a corpus row
    * whose vec_id is NULL, which no pick can be reported under. */
  private def pickedId(b: org.apache.spark.sql.Row, op: String, t: Int,
      k: Int): Long =
    if (!b.isNullAt(0)) b.getLong(0)
    else if (b.isNullAt(1)) throw new IllegalStateException(
      s"$op: candidate set exhausted at rank $t (k=$k > corpus)")
    else throw new IllegalStateException(
      s"$op: the rank-$t pick has a NULL vec_id; every vec_id must be non-NULL")

  /** (rank, vec_id, one nullable double measure) driver rows as a
    * local relation — the result shell of the driver-held greedy
    * selectors. */
  private def localPicks(spark: SparkSession,
      rows: Seq[(Long, Long, Option[Double])], measure: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("rank", LongType, false),
      StructField("vec_id", LongType, false),
      StructField(measure, DoubleType, true)))
    val jrows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    rows.foreach { case (r, id, d) =>
      jrows.add(org.apache.spark.sql.Row(r, id, d.orNull)) }
    spark.createDataFrame(jrows, schema)
  }

  /** Generated DuckDB twin of [[kCenterSelect]]: the k−1 greedy steps
    * unroll into chained CTEs (the kcore/LPA unrolled-loop posture),
    * each with the same sequential-fold distance, the same exact min
    * over the selected set, and the same (md DESC, vec_id) tie rule. */
  private[operators] def kCenterOracleSql(k: Int): String = {
    val d2 = (e: String, c: String) =>
      s"list_sum(list_transform(range(1, len($e.v) + 1), " +
        s"m -> ($e.v[m] - $c.v[m]) * ($e.v[m] - $c.v[m])))"
    val steps = (2 to k).map { t =>
      s"""s$t AS (
         |  SELECT vec_id, v, CAST($t AS BIGINT) AS rank, md AS dist2 FROM (
         |    SELECT e.vec_id, e.v,
         |           (SELECT min(${d2("e", "c")}) FROM sel${t - 1} c) AS md
         |    FROM pts e
         |    WHERE NOT EXISTS (SELECT 1 FROM sel${t - 1} x WHERE x.vec_id = e.vec_id))
         |  ORDER BY md DESC, vec_id LIMIT 1),
         |sel$t AS MATERIALIZED (
         |  SELECT * FROM sel${t - 1} UNION ALL SELECT * FROM s$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH pts AS (
       |  SELECT CAST(vec_id AS BIGINT) AS vec_id,
       |         CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |sel1 AS (
       |  SELECT vec_id, v, CAST(1 AS BIGINT) AS rank,
       |         CAST(NULL AS DOUBLE) AS dist2
       |  FROM pts ORDER BY vec_id LIMIT 1),
       |$steps
       |SELECT rank, vec_id,
       |       floor(dist2 * 1000000.0 + 0.5) / 1000000.0 AS dist2
       |FROM sel$k ORDER BY rank""".stripMargin
  }

  /** MAXIMAL MARGINAL RELEVANCE selection (Carbonell & Goldstein
    * 1998): greedily pick k items maximizing λ·rel(x) −
    * (1−λ)·max_{s∈S} cos(x, s) — the relevance-AND-diversity
    * selector behind search-result diversification and training-
    * example curation ("most relevant to the query, least redundant
    * with what's already picked"); [[kCenterSelect]]'s pure-coverage
    * sibling with a relevance pull. Relevance = cosine to the query
    * vector; rank 1 is the plain relevance argmax (empty selected
    * set → redundancy 0). Ties break to the smaller vec_id.
    *
    * Parity: relevance and redundancy are the same sequential-fold
    * [[cosine]] both engines evaluate; λ and 1−λ are SCALA-side
    * doubles emitted verbatim into the generated oracle (single
    * source for 1−0.7's last-ulp repr). Scale: the k−1 greedy rounds
    * are each one broadcast of ≤ k selected vectors + a row-local
    * codegen'd score + a 1-row argmax reduction (the kCenter
    * posture); relevance computes ONCE into a checkpoint.
    *
    * Construction is execution: building the frame runs the relevance
    * checkpoint and all k−1 greedy picks as Spark jobs, so the
    * returned frame is the selected set, not a plan for it;
    * `graft.Profile` reports these jobs as its `construct_jobs`. */
  def mmrSelect(emb: DataFrame, queryId: Long = 0L, k: Int = 8,
      lam: Double = 0.7): DataFrame = {
    require(k >= 2, s"need k >= 2: $k")
    val pts = emb.select(col("vec_id").cast("long").as("vec_id"),
      toDouble(col("embedding")).as("v"))
    val qv = pts.filter(col("vec_id") === queryId).select(col("v").as("qv"))
    val cand = pts.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(qv))
      .select(col("vec_id"), col("v"), cosine(col("v"), col("qv")).as("rel"))
      .localCheckpoint()
    // DRIVER-HELD selected set (r17 round 2 — see [[kCenterSelect]]):
    // per round, ONE argmax aggregate job over the pinned relevance
    // table, its single row collected; the picked O(k·d) vectors
    // re-enter as literals. Same cosine folds, same struct-max tie
    // rule, same λ arithmetic — values bit-identical (spec + oracle).
    val first = cand
      .agg(max(struct(col("rel"), (-col("vec_id")).as("ni"), col("v").as("bv")))
        .as("b"))
      .select((-col("b.ni")).as("vec_id"), col("b.bv").as("v"),
        col("b.rel").as("rel"),
        (lit(lam) * col("b.rel")).as("score"))
      .head
    if (first.isNullAt(0)) throw new IllegalStateException(
      "mmrSelect: no candidates (corpus is empty or only the query row)")
    // (vec_id, v, rel, max_sim, score)
    var sel = Vector((first.getLong(0), first.getSeq[Double](1),
      first.getDouble(2), Option.empty[Double], first.getDouble(3)))
    requireModelLiterals("mmrSelect", k, sel.head._2.size)
    for (t <- 2 to k) {
      val csLit = array(sel.map { case (_, cv, _, _, _) =>
        array(cv.map(lit(_)): _*) }: _*)
      val selIds = sel.map(_._1)
      val b = cand
        .filter(col("vec_id").isNull ||
          !col("vec_id").isin(selIds: _*))
        .select(col("vec_id"), col("v"), col("rel"),
          array_max(transform(csLit, c => cosine(col("v"), c))).as("ms"))
        .select(col("vec_id"), col("v"), col("rel"), col("ms"),
          (lit(lam) * col("rel") - lit(1.0 - lam) * col("ms")).as("score"))
        .agg(max(struct(col("score"), (-col("vec_id")).as("ni"),
          col("v").as("bv"), col("rel").as("br"), col("ms").as("bm"))).as("b"))
        .select((-col("b.ni")).as("vec_id"), col("b.bv").as("v"),
          col("b.br").as("rel"), col("b.bm").as("max_sim"),
          col("b.score").as("score"))
        .head
      sel = sel :+ ((pickedId(b, "mmrSelect", t, k), b.getSeq[Double](1),
        b.getDouble(2), Some(b.getDouble(3)), b.getDouble(4)))
    }
    // k driver rows back out as a local relation; same columns, same
    // rounding, same rank order as the checkpointed-union form
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.LongType, false),
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType, false),
      org.apache.spark.sql.types.StructField("rel",
        org.apache.spark.sql.types.DoubleType, false),
      org.apache.spark.sql.types.StructField("max_sim",
        org.apache.spark.sql.types.DoubleType, true),
      org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.DoubleType, false)))
    val jrows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    sel.zipWithIndex.foreach { case ((id, _, rel, ms, score), i) =>
      jrows.add(org.apache.spark.sql.Row((i + 1).toLong, id, rel,
        ms.orNull, score)) }
    emb.sparkSession.createDataFrame(jrows, schema)
      .select(col("rank"), col("vec_id"),
        graft.halfUp(col("rel"), 6).as("rel"),
        graft.halfUp(col("max_sim"), 6).as("max_sim"),
        graft.halfUp(col("score"), 6).as("score"))
      .orderBy(col("rank"))
  }

  /** Generated DuckDB twin of [[mmrSelect]]: k−1 chained greedy CTEs
    * (the kCenter posture) with the same sequential-fold cosine, the
    * same λ/(1−λ) double literals, and the same (score DESC, vec_id)
    * tie rule. The chained CTEs are AS MATERIALIZED: each selN is
    * referenced by BOTH the next step's argmax subquery and its
    * NOT EXISTS, and DuckDB's inliner otherwise re-expands the whole
    * chain per reference — exponential in k (measured: >10 min
    * inlined vs 0.2 s materialized at sf0.01). */
  private[operators] def mmrOracleSql(queryId: Long, k: Int,
      lam: Double): String = {
    val cos = (e: String, c: String) =>
      s"(list_sum(list_transform(range(1, len($e.v) + 1), " +
        s"m -> $e.v[m] * $c.v[m])) / " +
        s"(sqrt(list_sum(list_transform(range(1, len($e.v) + 1), " +
        s"m -> $e.v[m] * $e.v[m]))) * " +
        s"sqrt(list_sum(list_transform(range(1, len($c.v) + 1), " +
        s"m -> $c.v[m] * $c.v[m])))))"
    val (l, l1) = (lam.toString, (1.0 - lam).toString)
    val steps = (2 to k).map { t =>
      s"""s$t AS MATERIALIZED (
         |  SELECT vec_id, v, rel, CAST($t AS BIGINT) AS rank, ms AS max_sim,
         |         $l * rel - $l1 * ms AS score FROM (
         |    SELECT e.vec_id, e.v, e.rel,
         |           (SELECT max(${cos("e", "c")}) FROM sel${t - 1} c) AS ms
         |    FROM cand e
         |    WHERE NOT EXISTS (SELECT 1 FROM sel${t - 1} x
         |                      WHERE x.vec_id = e.vec_id))
         |  ORDER BY $l * rel - $l1 * ms DESC, vec_id LIMIT 1),
         |sel$t AS MATERIALIZED (
         |  SELECT * FROM sel${t - 1} UNION ALL SELECT * FROM s$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH pts AS (
       |  SELECT CAST(vec_id AS BIGINT) AS vec_id,
       |         CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |qv AS (SELECT v FROM pts WHERE vec_id = $queryId),
       |cand AS MATERIALIZED (
       |  SELECT e.vec_id, e.v, ${cos("e", "q")} AS rel
       |  FROM pts e, (SELECT v FROM qv) q(v)
       |  WHERE e.vec_id <> $queryId),
       |sel1 AS MATERIALIZED (
       |  SELECT vec_id, v, rel, CAST(1 AS BIGINT) AS rank,
       |         CAST(NULL AS DOUBLE) AS max_sim, $l * rel AS score
       |  FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
       |$steps
       |SELECT rank, vec_id,
       |       floor(rel * 1000000.0 + 0.5) / 1000000.0 AS rel,
       |       floor(max_sim * 1000000.0 + 0.5) / 1000000.0 AS max_sim,
       |       floor(score * 1000000.0 + 0.5) / 1000000.0 AS score
       |FROM sel$k ORDER BY rank""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q_embed_kmeans" -> ((s, d) => kmeansExact(Tables.embeddings(s, d))),
    "q_select_kcenter" -> ((s, d) => kCenterSelect(Tables.embeddings(s, d))),
    // relevance+diversity greedy pick against vec 0 (the bruteForce
    // query), λ = 0.7 — the curation selector next to kcenter's
    // pure-coverage pick
    "q_select_mmr" -> ((s, d) => mmrSelect(Tables.embeddings(s, d))),
    "q_embed_pca" -> ((s, d) => pcaTopComponent(Tables.embeddings(s, d))),
    "q_sample_negatives" -> ((s, d) =>
      negativeSample(Tables.embeddings(s, d))),
    "q_embed_norms" -> ((s, d) =>
      embedNormStats(Tables.embeddings(s, d))),
    "q_embed_quantize" -> ((s, d) =>
      embedQuantizeAudit(Tables.embeddings(s, d))),
    "q_similarity_topk" -> ((s, d) => bruteForceTopK(embTable(s, d), 0L, 20)),
    // BM25 (3-term query) + cosine-vs-vec-0, top-50 each, RRF-fused
    "q_search_hybrid" -> ((s, d) => rrfFuse(
      TextOps.bm25(Tables.documents(s, d), Seq("spark", "vector", "hash"), 50),
      bruteForceTopK(embTable(s, d), 0L, 50))),
    "q_similarity_ann" -> ((s, d) => annTopK(embTable(s, d), 0L, 20)),
    "q_similarity_ivf" -> ((s, d) =>
      ivfTopK(embTable(s, d), 0L, 20, cents = Some(trainedCents(s, d, 16)))),
    "q_similarity_ivfpq" -> ((s, d) =>
      ivfPqTopK(embTable(s, d), 0L, 20,
        cents = Some(trainedCents(s, d, 16)),
        books = Some(trainedBooks(s, d)))),
    "q_similarity_knn_join" -> ((s, d) => {
      val emb = embTable(s, d)
      knnJoin(emb, emb.filter(col("vec_id") < 5), 10)
    }),
    "q_similarity_knn_ivf" -> ((s, d) => {
      val emb = embTable(s, d)
      knnJoinIvf(emb, emb.filter(col("vec_id") < 5), 10,
        cents = Some(trainedCents(s, d, 16)))
    }),
    // Blocked exact near-dup: quadratic only within a label block.
    // Norms are precomputed ONCE per vector (O(n), not O(pairs)), and
    // the per-pair similarity is dot(a,b)/(‖a‖·‖b‖) over the RAW
    // values — the same operation order as the oracle's
    // list_cosine_similarity, so floating-point results match
    // bit-for-bit (normalize-each-element-first would reorder the
    // arithmetic and can flip threshold/rounding boundaries).
    "q_embed_neardup" -> ((s, d) => {
      val e = spread(Tables.embeddings(s, d))
        .select(col("vec_id"), col("label"), toDouble(col("embedding")).as("v"))
        .withColumn("nrm", sqrt(dotSelf(col("v"))))
      val a = e.select(col("label"), col("vec_id").as("id_a"),
        col("v").as("va"), col("nrm").as("na"))
      val b = e.select(col("label"), col("vec_id").as("id_b"),
        col("v").as("vb"), col("nrm").as("nb"))
      a.join(b, Seq("label"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("sim_raw",
          dot(col("va"), col("vb")) / (col("na") * col("nb")))
        .filter(col("sim_raw") >= 0.3)
        .select(col("label"), col("id_a"), col("id_b"),
          round(col("sim_raw"), 4).as("sim"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    // Per-label CENTROIDS — the class-prototype computation every
    // embedding pipeline runs (clustering seeds, prototypes, debias
    // vectors). Fully distributed: posexplode to (label, pos, x), one
    // hash aggregate per (label, pos) with map-side partials, then
    // re-assemble each centroid ordered by position — the shuffle
    // carries scalar partial sums, never whole vectors.
    // flat (label, pos, mean) rows — scalar cells oracle-hash cleanly;
    // assembling the array form is a trailing collect_list per label
    // when a consumer wants vectors (same rows either way)
    "q_embed_centroids" -> ((s, d) => {
      Tables.embeddings(s, d)
        .select(col("label"),
          posexplode(toDouble(col("embedding"))).as(Seq("pos", "x")))
        .groupBy(col("label"), col("pos").cast("long").as("pos"))
        .agg(round(avg(col("x")), 4).as("m"), count(lit(1)).as("n_vecs"))
        .orderBy(col("label"), col("pos"))
    }),
  )

  val oracle: Map[String, String] = Map(
    // generated unrolled-CTE twin — see kCenterOracleSql
    "q_select_kcenter" -> kCenterOracleSql(8),
    "q_select_mmr" -> mmrOracleSql(0L, 8, 0.7),
    // the integer-quantized moments + sequential-fold iteration are
    // bit-identical across engines (see pcaTopComponent scaladoc), so
    // this replays the FULL pipeline: quantized sums, covariance,
    // 12 power-iteration steps as a recursive CTE, Rayleigh quotient
    // the whole Lloyd loop replayed in ONE recursive CTE: same seeds
    // (k lowest vec_ids, cid-sorted), same left-fold distances, same
    // first-strict-improvement argmin (ties → lowest cid), same
    // integer-quantized mean update, same empty-cell carry
    "q_embed_kmeans" ->
      """WITH RECURSIVE
        |pts AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |seeds AS (
        |  SELECT list(struct_pack(cid := cid, cv := v) ORDER BY cid) AS cents
        |  FROM (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) - 1 AS cid, v
        |        FROM (SELECT vec_id, v FROM pts ORDER BY vec_id LIMIT 4))),
        |it(i, cents) AS (
        |  SELECT 0, cents FROM seeds
        |  UNION ALL
        |  SELECT z.i + 1,
        |         list_transform(z.cents0, c -> struct_pack(cid := c.cid,
        |           cv := coalesce(list_filter(z.nl, s -> s.cid = c.cid)[1].cv, c.cv)))
        |  FROM (
        |    SELECT i, any_value(cents0) AS cents0,
        |           list(struct_pack(cid := cid, cv := cvn)) AS nl
        |    FROM (
        |      SELECT i, cid, any_value(cents0) AS cents0, list(m ORDER BY pos) AS cvn
        |      FROM (
        |        SELECT i, cid, pos, any_value(cents0) AS cents0,
        |               CAST(sum(xq) AS DOUBLE) / 1000000000.0 / count(*) AS m
        |        FROM (
        |          SELECT a.i AS i, a.cid AS cid, a.cents0 AS cents0,
        |                 unnest(generate_series(1, len(a.v))) AS pos,
        |                 unnest(list_transform(a.v, x -> CAST(floor(x * 1000000000.0 + 0.5) AS BIGINT))) AS xq
        |          FROM (
        |            SELECT it.i AS i, it.cents AS cents0, p.v AS v,
        |                   (list_reduce(it.cents, (acc, c) -> CASE WHEN
        |                      list_sum(list_transform(range(1, len(p.v) + 1),
        |                        m -> (p.v[m] - c.cv[m]) * (p.v[m] - c.cv[m]))) <
        |                      list_sum(list_transform(range(1, len(p.v) + 1),
        |                        m -> (p.v[m] - acc.cv[m]) * (p.v[m] - acc.cv[m])))
        |                    THEN c ELSE acc END)).cid AS cid
        |            FROM it, pts p WHERE it.i < 6) a)
        |        GROUP BY i, cid, pos)
        |      GROUP BY i, cid)
        |    GROUP BY i) z
        |)
        |SELECT p.vec_id,
        |       b.cid AS cid,
        |       floor(list_sum(list_transform(range(1, len(p.v) + 1),
        |         m -> (p.v[m] - b.cv[m]) * (p.v[m] - b.cv[m]))) * 1000000.0 + 0.5)
        |         / 1000000.0 AS dist2
        |FROM pts p,
        |     (SELECT cents FROM it WHERE i = 6) f,
        |     LATERAL (SELECT list_reduce(f.cents, (acc, c) -> CASE WHEN
        |                list_sum(list_transform(range(1, len(p.v) + 1),
        |                  m -> (p.v[m] - c.cv[m]) * (p.v[m] - c.cv[m]))) <
        |                list_sum(list_transform(range(1, len(p.v) + 1),
        |                  m -> (p.v[m] - acc.cv[m]) * (p.v[m] - acc.cv[m])))
        |              THEN c ELSE acc END) AS b) lb(b)
        |ORDER BY p.vec_id""".stripMargin,
    "q_embed_pca" ->
      """WITH RECURSIVE e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |meta AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM e),
        |s AS (SELECT i, sum(CAST(floor(v[i + 1] * 1000000000.0 + 0.5) AS BIGINT)) AS sq
        |      FROM e, generate_series(0, 63) g(i) GROUP BY i),
        |p AS (SELECT gi.i AS i, gj.j AS j,
        |             sum(CAST(floor(v[gi.i + 1] * v[gj.j + 1] * 1000000000.0 + 0.5) AS BIGINT)) AS pq
        |      FROM e, generate_series(0, 63) gi(i), generate_series(0, 63) gj(j)
        |      GROUP BY 1, 2),
        |c AS (SELECT p.i, p.j,
        |             (CAST(p.pq AS DOUBLE) / 1000000000.0
        |              - (CAST(si.sq AS DOUBLE) / 1000000000.0)
        |                * (CAST(sj.sq AS DOUBLE) / 1000000000.0) / meta.n)
        |             / (meta.n - 1) AS cc
        |      FROM p JOIN s si ON si.i = p.i JOIN s sj ON sj.i = p.j CROSS JOIN meta),
        |cm AS (SELECT list(rw ORDER BY i) AS C FROM
        |        (SELECT i, list(cc ORDER BY j) AS rw FROM c GROUP BY i)),
        |it(k, vv) AS (
        |  SELECT 0, list_transform(range(64), x -> CAST(0.125 AS DOUBLE))
        |  UNION ALL
        |  SELECT k + 1,
        |         list_transform(u, x -> x / sqrt(list_sum(list_transform(u, y -> y * y))))
        |  FROM (SELECT k, list_transform(C, rw ->
        |          list_sum(list_transform(range(1, 65), m -> rw[m] * vv[m]))) AS u
        |        FROM it, cm WHERE k < 12)),
        |fin AS (SELECT vv, list_transform(C, rw ->
        |          list_sum(list_transform(range(1, 65), m -> rw[m] * vv[m]))) AS u
        |        FROM it, cm WHERE k = 12),
        |lamt AS (SELECT list_sum(list_transform(range(1, 65), m -> vv[m] * u[m])) AS lam, vv
        |         FROM fin),
        |trt AS (SELECT list_sum(list_transform(range(1, 65), m -> C[m][m])) AS tr FROM cm)
        |SELECT g.i AS dim,
        |       floor(vv[g.i + 1] * 1000000.0 + 0.5) / 1000000.0 AS loading,
        |       floor(lam * 1000000.0 + 0.5) / 1000000.0 AS eigenvalue,
        |       floor(lam / tr * 1000000.0 + 0.5) / 1000000.0 AS var_share
        |FROM lamt, trt, generate_series(0, 63) g(i)
        |ORDER BY dim""".stripMargin,
    // 1-based index via PAIRED unnests (the installed DuckDB has no
    // WITH ORDINALITY; parallel unnests of same-length lists stay
    // row-aligned, verified against the subscript form) — the dim
    // bound derives from len(embedding) instead of a hardcoded 64,
    // so a harness regeneration with another dim cannot silently
    // compare truncated columns; identical quantize/dequantize
    // operand order, grouped on (dim, lo, hi) like the engine so the
    // range rides through the aggregate
    "q_embed_quantize" ->
      """WITH x AS (
        |  SELECT CAST(unnest(generate_series(1, len(embedding))) AS INT) AS dim,
        |         unnest(CAST(embedding AS DOUBLE[])) AS v
        |  FROM embeddings),
        |w AS (SELECT dim, v,
        |        min(v) OVER (PARTITION BY dim) AS lo,
        |        max(v) OVER (PARTITION BY dim) AS hi
        |      FROM x),
        |q AS (SELECT dim, lo, hi, v,
        |        CASE WHEN hi = lo THEN lo
        |             ELSE lo + floor((v - lo) / ((hi - lo) / 255.0) + 0.5)
        |                       * ((hi - lo) / 255.0) END AS deq
        |      FROM w)
        |SELECT dim, round(lo, 6) AS lo, round(hi, 6) AS hi,
        |       round(avg(abs(v - deq)), 8) AS mean_abs_err,
        |       round(max(abs(v - deq)), 8) AS max_abs_err
        |FROM q GROUP BY dim, lo, hi ORDER BY dim""".stripMargin,
    // lexical = the q_text_bm25 chain at top-50, vector = the
    // q_similarity_topk chain at top-50; ranks = row_number over the
    // ROUNDED scores (the scorers' public contract), id tiebreak —
    // rank-side fusion, so float-scale differences cannot leak in
    "q_search_hybrid" ->
      """WITH tf AS (
        |  SELECT doc_id,
        |         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS DOUBLE) AS dl,
        |         CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'), t -> t = 'spark')) AS DOUBLE) AS tf0,
        |         CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'), t -> t = 'vector')) AS DOUBLE) AS tf1,
        |         CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'), t -> t = 'hash')) AS DOUBLE) AS tf2
        |  FROM documents),
        |st AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
        |         CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
        |         CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
        |         CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
        |  FROM tf),
        |lex AS (
        |  SELECT doc_id, round(
        |      ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0) * (tf0 * 2.2)
        |        / (tf0 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
        |    + ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0) * (tf1 * 2.2)
        |        / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
        |    + ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0) * (tf2 * 2.2)
        |        / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)), 4) AS score
        |  FROM tf, st
        |  ORDER BY score DESC, doc_id LIMIT 50),
        |vec AS (
        |  SELECT vec_id AS doc_id,
        |         round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |               (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
        |                WHERE vec_id = 0)), 4) AS sim
        |  FROM embeddings
        |  ORDER BY sim DESC, doc_id LIMIT 50),
        |lr AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank_lex FROM lex),
        |vr AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY sim DESC, doc_id) AS BIGINT) AS rank_vec FROM vec)
        |SELECT coalesce(lr.doc_id, vr.doc_id) AS doc_id, rank_lex, rank_vec,
        |       round(coalesce(CAST(1.0 AS DOUBLE) / CAST(rank_lex + 60 AS DOUBLE), 0.0)
        |             + coalesce(CAST(1.0 AS DOUBLE) / CAST(rank_vec + 60 AS DOUBLE), 0.0), 6) AS rrf
        |FROM lr FULL OUTER JOIN vr ON lr.doc_id = vr.doc_id
        |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin,
    // rank on the RAW cosine with vec_id tiebreak (same as the Spark
    // side), report the rounded value; row_number cast to Spark's INT
    "q_similarity_knn_join" ->
      """SELECT q_id, vec_id, sim, rnk FROM (
        |  SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
        |         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                      CAST(q.embedding AS DOUBLE[])), 4) AS sim,
        |         CAST(row_number() OVER (
        |           PARTITION BY q.vec_id
        |           ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                           CAST(q.embedding AS DOUBLE[])) DESC,
        |                    e.vec_id) AS INT) AS rnk
        |  FROM embeddings e, embeddings q
        |  WHERE q.vec_id < 5)
        |WHERE rnk <= 10 ORDER BY q_id, rnk""".stripMargin,
    // paired unnests (see q_embed_quantize) shifted to posexplode's
    // 0-based pos; dim derived from len(embedding), not hardcoded
    "q_embed_centroids" ->
      """WITH x AS (
        |  SELECT label,
        |         CAST(unnest(generate_series(1, len(embedding))) - 1 AS BIGINT) AS pos,
        |         unnest(CAST(embedding AS DOUBLE[])) AS v
        |  FROM embeddings)
        |SELECT label, pos, round(avg(v), 4) AS m, count(*) AS n_vecs
        |FROM x GROUP BY label, pos ORDER BY 1, 2""".stripMargin,
    "q_similarity_topk" ->
      """SELECT vec_id,
        |       round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |             (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
        |              WHERE vec_id = 0)), 4) AS sim
        |FROM embeddings
        |ORDER BY sim DESC, vec_id LIMIT 20""".stripMargin,
    // same modular probe chain, integer arithmetic end-to-end
    "q_sample_negatives" ->
      """WITH mx AS (SELECT max(vec_id) AS mx FROM embeddings),
        |js AS (SELECT unnest(generate_series(1, 8)) AS j),
        |c AS (SELECT e.vec_id, e.label, js.j,
        |             (e.vec_id * 7919 + js.j * 104729) % (mx.mx + 1)
        |               AS neg_id
        |      FROM embeddings e CROSS JOIN mx CROSS JOIN js),
        |f AS (SELECT c.vec_id, c.j, c.neg_id, o.label AS neg_label,
        |             row_number() OVER (PARTITION BY c.vec_id
        |                                ORDER BY c.j) AS rk
        |      FROM c JOIN embeddings o ON o.vec_id = c.neg_id
        |      WHERE o.label <> c.label AND c.neg_id <> c.vec_id)
        |SELECT vec_id, j, neg_id, neg_label FROM f WHERE rk <= 4
        |ORDER BY vec_id, j""".stripMargin,
    // same sequential double fold as VectorDot (parity in
    // VectorDotSpec); sqrt is correctly-rounded IEEE on both engines
    "q_embed_norms" ->
      """WITH nr AS (
        |  SELECT label,
        |         sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
        |              x -> x * x))) AS norm
        |  FROM embeddings)
        |SELECT label, count(*) AS n,
        |       round(avg(norm), 4) AS mean_norm,
        |       round(stddev_samp(norm), 4) AS sd_norm,
        |       round(min(norm), 4) AS min_norm,
        |       round(max(norm), 4) AS max_norm,
        |       CAST(count(*) FILTER (norm = 0.0) AS BIGINT) AS n_zero
        |FROM nr GROUP BY label ORDER BY label""".stripMargin,
    "q_embed_neardup" ->
      """SELECT a.label AS label, a.vec_id AS id_a, b.vec_id AS id_b,
        |       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                                    CAST(b.embedding AS DOUBLE[])), 4) AS sim
        |FROM embeddings a JOIN embeddings b
        |  ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                             CAST(b.embedding AS DOUBLE[])) >= 0.3
        |ORDER BY id_a, id_b""".stripMargin,
  )
}
