package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis + exact-dedup surface of the LLM-data-pipeline
  * operators (SURVEY §2.10) over the `documents` table
  * (doc_id, text, lang, source, n_chars).
  *
  * The reference has no text pipeline — these are the [GEN] operators
  * mandated by the north star: the preprocessing a 100 TB training-data
  * corpus needs (dedup, token accounting, quality gating, language ID,
  * fingerprinting). Everything is built-in codegen'd expressions — no
  * UDFs — so the whole per-document computation stays inside one
  * whole-stage-codegen span over the scan.
  *
  * Scale posture:
  *  - exact dedup groups on a 256-bit digest of the text, not the text
  *    itself: the shuffle carries 32 bytes + the aggregates per row
  *    instead of the full document bytes (collision probability 2^-128
  *    — the standard content-addressing assumption). One hash shuffle,
  *    map-side partial aggregation.
  *  - all per-document metrics (lengths, token counts, ratios, scores)
  *    are narrow projections — pipelined, no shuffle at all; the only
  *    shuffles in this module are the final aggregations.
  */
object TextOps {

  /** Whitespace tokens of the trimmed text. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** BPE-ish lexer: letter runs, digit runs, and single non-alnum
    * marks — the pre-tokenization split every BPE implementation
    * applies before merges. */
  val BpePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** Tokens of `text` that appear in the (small, literal) word set. */
  private def countIn(text: Column, words: Seq[String]): Column =
    size(filter(tokens(text), t => t.isin(words.map(w => w: Any): _*))).cast("int")

  // Tiny per-language stopword profiles for the n-gram/stopword
  // language-ID heuristic. Deliberately small and literal: the point is
  // the operator shape (argmax over per-language evidence scores in one
  // codegen'd expression), not lexicon quality.
  val EnStops = Seq("the", "and", "of", "to", "in", "is", "a")
  val DeStops = Seq("der", "die", "das", "und", "ist", "nicht")
  val EsStops = Seq("el", "los", "las", "y", "es", "que")
  val FrStops = Seq("le", "les", "et", "est", "dans", "une")

  /** Exact duplicate groups: one surviving doc_id (min) per distinct
    * text + the multiplicity. Digest-keyed groupBy (see scale note). */
  def dedupExact(docs: DataFrame): DataFrame =
    docs
      .groupBy(sha2(col("text"), 256).as("text_sha"))
      .agg(min(col("doc_id")).as("keep_id"),
        count(lit(1)).cast("long").as("n_copies"))
      .select(col("keep_id"), col("n_copies"))
      .orderBy(col("keep_id"))

  /** Corpus statistics per language: doc count, char/token means. */
  def textStats(docs: DataFrame): DataFrame =
    docs
      .select(col("lang"), length(col("text")).as("len"),
        size(tokens(col("text"))).as("n_tok"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("len")), 4).as("avg_chars"),
        round(avg(col("n_tok")), 4).as("avg_tokens"),
        max(col("len")).cast("int").as("max_chars"))
      .orderBy(col("lang"))

  /** Per-document token accounting: whitespace tokens and BPE-ish
    * lexer tokens (the pre-merge unit count a tokenizer budget uses). */
  def textTokens(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("ws_tokens"),
        regexp_count(col("text"), lit(BpePattern)).cast("long").as("bpe_tokens"))
      .orderBy(col("doc_id"))

  /** VOCABULARY GROWTH curve (the empirical Heaps-law probe): at each
    * decile of the corpus in doc_id order, the cumulative token count,
    * the cumulative distinct-token (type) count, and the type/token
    * ratio — the tokenizer-sizing / corpus-saturation signal ("is new
    * data still bringing new vocabulary, or only more of the same?").
    * Checkpoints are kᵢ = ⌈N·i/10⌉ computed in INTEGER arithmetic
    * ((N·i+9) div 10) — no float percentile boundary to flip between
    * engines; doc rank in doc_id order is the corpus order.
    *
    * Scale posture: doc ranks and cumulative token counts ride the
    * distributed global prefix sum (range repartition + broadcast
    * offsets — no single-task window); the type curve needs each
    * token's FIRST-SEEN rank only, so the corpus explodes once into a
    * (token, min rank) hash aggregate — the shuffle carries the vocab,
    * not the corpus — and the 10-row checkpoint spine re-counts it
    * with counts-only aggregates. Nothing is quadratic, nothing
    * collects. A folded variant (each token bucketed to its first
    * covering decile) measured slower and was not adopted
    * (`r16_vocab_growth_adjudication` in `tools/bench_notes.json`). */
  def vocabGrowth(docs: DataFrame): DataFrame = {
    // ONE ranged layout carries BOTH the doc rank (prefix sum of 1)
    // and the cumulative token count: a separate rank layout and
    // token-sum layout would pay two range exchanges + two checkpoints
    // over the same doc_id total order, plus a doc_id join to reunite
    // them. Same rows into the same running sums in the same order ⇒
    // r, cumtok, and every output digit as before (oracle-pinned).
    val (rc, _) = Windows.prefixSums(
      docs.select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("nt")),
      Nil, Seq(lit(1L) -> "r", col("nt") -> "cumtok"), Seq(col("doc_id")))
    val ranked = rc.select(col("doc_id"), col("r"))
    val n1 = ranked.agg(max(col("r")).as("n"))
    val spine = n1
      .select(explode(sequence(lit(1L), lit(10L))).as("i"), col("n"))
      .select(col("i"), expr("(n * i + 9) div 10").as("k"))
    val tokensAt = broadcast(spine)
      .join(rc, col("k") === col("r"))
      .select(col("i"), col("k"), col("cumtok").as("n_tokens"))
    val firstSeen = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .join(ranked, "doc_id")
      .groupBy(col("tok")).agg(min(col("r")).as("fr"))
    val typesAt = firstSeen
      .crossJoin(broadcast(spine))
      .filter(col("fr") <= col("k"))
      .groupBy(col("i"), col("k")).agg(count(lit(1)).as("n_types"))
    tokensAt.join(typesAt, Seq("i", "k"))
      .select(col("i"), col("k"), col("n_tokens"), col("n_types"),
        graft.halfUp(col("n_types").cast("double") /
          col("n_tokens").cast("double"), 6).as("ttr"))
      .orderBy(col("i"))
  }

  /** Sliding-window DOCUMENT CHUNKING with overlap — the retrieval /
    * context-window prep step every RAG and long-context training
    * pipeline runs: fixed-size character chunks of `size`, advancing
    * by `stride` (< size ⇒ overlap), the final chunk allowed short.
    * A doc of length L emits 1 + ⌈max(L − size, 0) / stride⌉ chunks,
    * so every character lands in ≥1 chunk and no chunk starts past
    * the text. Emits the chunk's length and md5 digest (content
    * address), not the chunk text — downstream chunk stores are
    * content-addressed, and the compare stays narrow.
    *
    * Scale: a pure row-local generate (sequence → explode → substr) —
    * zero shuffles, codegen end-to-end; output size is a documented
    * ×(L/stride) fan-out of the input, the same contract as
    * [[packSequences]]' inverse. */
  def chunkDocuments(docs: DataFrame, size: Int = 200,
      stride: Int = 150): DataFrame = {
    require(size > 0 && stride > 0 && stride <= size,
      s"chunkDocuments: need 0 < stride <= size, got size=$size stride=$stride")
    val lastIdx = ceil(greatest(length(col("text")) - size, lit(0))
      .cast("double") / stride).cast("int")
    docs
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0), lastIdx)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        col("text").substr(lit(1) + col("chunk_idx") * stride, lit(size))
          .as("chunk"))
      .select(col("doc_id"), col("chunk_idx").cast("int").as("chunk_idx"),
        length(col("chunk")).cast("long").as("chunk_chars"),
        md5(col("chunk")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** Reproducible STRATIFIED SAMPLING (data mixing): keep a document
    * iff the first 8 hex digits of sha-256(doc_id:salt) fall under the
    * stratum's threshold — `floor(rate · 2^32)` rendered as 8-digit
    * hex, compared as STRINGS (uniform digest ⇒ exact expected rate;
    * lowercase hex compares identically across engines). The standard
    * per-source mixing step of a training-corpus pipeline, done as a
    * pure codegen'd projection + filter: no RNG (seeds don't replicate
    * across engines or retried tasks), fully deterministic under
    * retries, partition moves, AND re-runs — the property a 100 TB
    * sampling job must have for its output to be auditable. */
  /** `floor`-free compile-time digest threshold: the first 8 hex chars
    * a [[digestHex8]] key must stay under to keep `rate` of a uniform
    * population (see [[stratifiedSample]]). Public so the oracle SQL
    * for the compile-time samplers can embed the identical literal. */
  def hexThreshold(rate: Double): String =
    f"${math.min(math.round(rate * 4294967296.0), 4294967295L)}%08x"

  def stratifiedSample(docs: DataFrame, stratumCol: String,
      rates: Seq[(String, Double)], defaultRate: Double, salt: String): DataFrame = {
    val threshold = rates.foldLeft(lit(hexThreshold(defaultRate))) {
      case (acc, (v, r)) => when(col(stratumCol) === v, lit(hexThreshold(r))).otherwise(acc)
    }
    docs.filter(digestHex8(col("doc_id"), salt) < threshold)
  }

  /** First 8 hex chars of sha-256(id:salt) — the shared keep key of
    * the RNG-free digest-threshold samplers ([[stratifiedSample]],
    * [[mixProportions]]); lowercase hex compares identically across
    * engines. */
  private def digestHex8(id: Column, salt: String): Column =
    substring(sha2(concat(id.cast("string"), lit(":" + salt)), 256), 1, 8)

  /** The shared, cross-engine-sensitive half of every data-derived
    * sampler: attach per-stratum keep rates (a tiny broadcast table
    * carrying (stratumCol, __rate)) and keep a doc iff its rate is ≥ 1
    * or its [[digestHex8]] key falls under %08x of floor(rate·2^32)
    * (capped at 2^32−1). `floor`, not round — SQL round() tie behavior
    * differs between engines, floor does not. */
  private def keepByRates(docs: DataFrame, rates: DataFrame,
      stratumCol: String, salt: String): DataFrame = {
    val thr = format_string("%08x",
      least(floor(col("__rate") * lit(4294967296.0)), lit(4294967295L)))
    docs.join(broadcast(rates), stratumCol)
      .filter(col("__rate") >= 1.0 || digestHex8(col("doc_id"), salt) < thr)
      .drop("__rate")
  }

  /** Rebalance the corpus to TARGET mixture proportions — the domain/
    * language rebalancing step of a training-data pipeline ("make the
    * mix 20% per language"). The largest total size T satisfying every
    * stratum's target from its available count is T = min_g(count_g /
    * target_g); each stratum then keeps rate_g = target_g · T / count_g
    * of its documents (the binding stratum keeps everything) via the
    * same RNG-free [[digestHex8]] keep key as [[stratifiedSample]] —
    * deterministic under retries and re-runs. Strata absent from
    * `targets` are dropped (target 0). Threshold rounding differs
    * deliberately: stratifiedSample's compile-time rates use Scala
    * `math.round`; here the rates are DATA-DERIVED, the threshold is a
    * runtime expression, and `floor` is the cross-engine-unambiguous
    * choice (SQL round() tie behavior differs between engines, floor
    * does not) — the same nominal rate can therefore keep one fewer
    * digest value than stratifiedSample would.
    *
    * Scale posture: the rates derive from a per-stratum count aggregate
    * (G rows) crossed with a broadcast 1-row min — no driver round
    * trip — and re-attach to the corpus by broadcast join, so the
    * corpus itself never reshuffles; the keep predicate is a codegen'd
    * projection + filter. */
  def mixProportions(docs: DataFrame, stratumCol: String,
      targets: Seq[(String, Double)], salt: String): DataFrame = {
    val targetExpr = targets.foldLeft(lit(0.0)) {
      case (acc, (v, t)) => when(col(stratumCol) === v, lit(t)).otherwise(acc)
    }
    val counts = docs.groupBy(col(stratumCol)).agg(count(lit(1)).as("__cnt"))
      .withColumn("__target", targetExpr)
      .filter(col("__target") > 0)
    val tMin = counts.agg(min(col("__cnt") / col("__target")).as("__t"))
    val rates = counts.crossJoin(broadcast(tMin))
      .select(col(stratumCol),
        (col("__target") * col("__t") / col("__cnt")).as("__rate"))
    keepByRates(docs, rates, stratumCol, salt)
  }

  /** TEMPERATURE-BASED mixture rebalancing — the multilingual sampling
    * formula (p_i^τ renormalization, the mBERT/XLM-R convention):
    * stratum i's share of the kept corpus follows q_i ∝ p_i^τ, so
    * τ = 1 reproduces the natural distribution, τ → 0 approaches
    * uniform, and 0 < τ < 1 upweights the tail languages without
    * discarding the head entirely. `keepFraction` sets the overall
    * kept mass; per-stratum keep rate = min(1, N·f·q_i/n_i), rounded
    * to 6 decimals so the cross-engine pow() ulp cannot flip a digest
    * threshold. Keep decisions use the same RNG-free [[digestHex8]]
    * key as the other mixers — deterministic under retries and
    * re-runs.
    *
    * Scale posture: identical to [[mixProportions]] — a G-row count
    * aggregate crossed with two broadcast 1-row scalars (N, Z) derives
    * the rates, which re-attach by broadcast join; the corpus never
    * reshuffles and the keep predicate is a codegen'd filter. */
  def mixTemperature(docs: DataFrame, stratumCol: String, tau: Double,
      keepFraction: Double, salt: String): DataFrame = {
    require(tau >= 0 && keepFraction > 0 && keepFraction <= 1,
      s"need tau >= 0 and 0 < keepFraction <= 1: tau=$tau f=$keepFraction")
    val counts = docs.groupBy(col(stratumCol))
      .agg(count(lit(1)).cast("double").as("__cnt"))
    val tot = counts.agg(sum(col("__cnt")).as("__n"))
    val w = counts.crossJoin(broadcast(tot))
      .withColumn("__pw", pow(col("__cnt") / col("__n"), lit(tau)))
    val z = w.agg(sum(col("__pw")).as("__z"))
    val rates = w.crossJoin(broadcast(z))
      .select(col(stratumCol),
        round(least(lit(1.0),
          col("__n") * lit(keepFraction) * (col("__pw") / col("__z")) /
            col("__cnt")), 6).as("__rate"))
    keepByRates(docs, rates, stratumCol, salt)
  }

  /** EPOCH UPSAMPLING — the repeat-factor half of data mixing: emit
    * each document `n_g` times (epoch 1..n_g) where `n_g` is its
    * stratum's integer repeat factor ("see curated sources 3×, the web
    * crawl once"). Deterministic and exact — no sampling — so the
    * trainer's shard manifest is reproducible; strata absent from
    * `factors` use `defaultFactor`. A factor of 0 EXCLUDES the stratum
    * (guarded explicitly — Spark's `sequence(1, 0)` would otherwise
    * descend and emit phantom epochs); negative factors are rejected.
    *
    * Scale posture: a codegen'd `explode(sequence(1, n))` projection —
    * no shuffle at all; the fan-out multiplies rows inside the scan
    * stage and downstream repartitioning (shuffle/pack) sees the
    * already-weighted stream. */
  def upsampleEpochs(docs: DataFrame, stratumCol: String,
      factors: Seq[(String, Int)], defaultFactor: Int): DataFrame = {
    require(defaultFactor >= 0 && factors.forall(_._2 >= 0),
      s"repeat factors must be >= 0: ${factors.filter(_._2 < 0)} default=$defaultFactor")
    val n = factors.foldLeft(lit(defaultFactor)) {
      case (acc, (v, f)) => when(col(stratumCol) === v, lit(f)).otherwise(acc)
    }
    // explode drops nulls, so a 0 factor excludes the stratum instead
    // of feeding sequence(1, 0) (which would descend to [1, 0])
    docs.select(col("doc_id"), col(stratumCol),
      explode(when(n >= 1, sequence(lit(1), n))).as("epoch"))
  }

  /** SEQUENCE PACKING: assign documents to ~`budgetTokens`-token
    * training shards by position in the corpus order — the
    * context-window packing step every LLM training pipeline runs
    * before sharding. A document's bin is its START offset in the
    * global token stream div the budget (documents may straddle a
    * boundary; the trainer's concat-then-chunk step handles the split),
    * which makes the assignment a pure function of the global prefix
    * sum — computed DISTRIBUTED via [[Windows.prefixSums]]
    * (range repartition + broadcast offsets, no single-task window).
    * `orderCol` must be a unique total order (corpus position). */
  def packSequences(docs: DataFrame, budgetTokens: Int): DataFrame = {
    val withTok = docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tok"))
    Windows.prefixSums(withTok, Nil, Seq(col("n_tok") -> "cum"), Seq(col("doc_id")))._1
      .select(col("doc_id"), col("n_tok"),
        expr(s"(cum - n_tok) div $budgetTokens").as("bin"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic corpus shuffle + sharding — the pre-training pass
    * that randomizes document order REPRODUCIBLY and cuts the shuffled
    * order into `nShards` contiguous shards (the file layout a trainer
    * streams). Shuffle key = md5(seed ++ doc_id): uniform mixing,
    * engine-portable (the DuckDB oracle recomputes it bit-identically),
    * seeded so re-runs and audits reproduce the exact order. Global
    * position and the count n via [[Windows.prefixSums]] of 1 (range
    * repartition + per-partition numbering + broadcast offsets — no
    * single-task window; n from the same layout's totals, broadcast
    * back, no driver round trip); shard = (pos−1) div ceil(n/nShards).
    * At 100 TB this IS the shuffled-shard write job: the range partitioning on the md5
    * key is skew-free by uniformity, and each shard is a contiguous
    * slice of the shuffled order. */
  def shuffleShards(docs: DataFrame, seed: String, nShards: Int): DataFrame = {
    val keyed = docs.select(col("doc_id"),
      md5(concat(lit(seed), col("doc_id").cast("string"))).as("skey"))
    val (ranked, totals) = Windows.prefixSums(keyed, Nil,
      Seq(lit(1L) -> "pos"), Seq(col("skey"), col("doc_id")))
    ranked.crossJoin(broadcast(totals.select(col("_n").as("__n"))))
      .select(col("doc_id"), col("skey"), col("pos"),
        floor((col("pos") - 1) / ceil(col("__n") / lit(nShards.toDouble)))
          .cast("int").as("shard"))
      .orderBy(col("pos"))
  }

  /** Reproducible per-source TOKEN-BUDGET mix — "up to B tokens from
    * each stratum": within each stratum, docs are taken in the
    * seed-keyed digest order (the same auditable md5 order
    * [[shuffleShards]] uses) until the stratum's running token total
    * crosses the budget; a doc is kept iff it STARTS under budget
    * (cum − n_tok < B), so every stratum gets ≥ 1 doc and the
    * overshoot is bounded by one document. Deterministic under
    * retries and re-runs — the mixing audit trail is the key order.
    *
    * The per-stratum running total is [[Windows.prefixSums]]
    * — range-partitioned, so a dominant stratum (most corpora are
    * 1-language-heavy) spans tasks instead of collapsing the plan to
    * one (the naive stratum-partitioned window would). */
  def tokenBudgetMix(docs: DataFrame, stratumCol: String, budgetTokens: Long,
      seed: String): DataFrame = {
    val keyed = docs.select(col("doc_id"), col(stratumCol).as("stratum"),
      size(tokens(col("text"))).cast("long").as("n_tok"),
      md5(concat(lit(seed), col("doc_id").cast("string"))).as("skey"))
    Windows.prefixSums(keyed, Seq("stratum"), Seq(col("n_tok") -> "cum"),
        Seq(col("skey"), col("doc_id")))._1
      .filter(col("cum") - col("n_tok") < budgetTokens)
      .select(col("doc_id"), col("stratum"), col("n_tok"), col("cum"))
      .orderBy(col("stratum"), col("cum"), col("doc_id"))
  }

  /** Vocabulary-coverage curve — the tokenizer-sizing question "how
    * many token types cover X% of the corpus token stream". Token
    * types counted corpus-wide (one digest-light shuffle with map-side
    * partials), ranked by (count desc, token), kept while the covered
    * mass STARTS under the target (the [[tokenBudgetMix]] keep rule:
    * the crossing type is kept, so coverage is reached and overshoot
    * is bounded by one type). The running mass is
    * [[Windows.prefixSums]] over the (cnt desc, token) total order —
    * range-partitioned, no single-task window even though the order is
    * global; the corpus total is the same layout's `totals`, broadcast
    * back (no driver round trip, no second pass over the counts). */
  def vocabCoverage(docs: DataFrame, coverage: Double): DataFrame = {
    // spread() the single-split harness scan before the per-token
    // explode (same reason as textRepetition): only the map side of the
    // per-token aggregate needs it
    val counts = graft.spread(docs, col("doc_id"))
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val (ranked, totals) = Windows.prefixSums(counts, Nil,
      Seq(col("cnt") -> "cum"), Seq(col("cnt").desc, col("token")))
    ranked.crossJoin(broadcast(totals.select(col("cum").as("__t"))))
      .filter(col("cum") - col("cnt") < col("__t") * coverage)
      .select(col("token"), col("cnt"), col("cum"))
      .orderBy(col("cnt").desc, col("token"))
  }

  /** Quality scoring: length, punctuation ratio, stopword ratio, and a
    * boolean keep/drop gate — the standard heuristic pre-filter for
    * training corpora (C4-style), as one codegen'd projection. */
  def textQuality(docs: DataFrame): DataFrame = {
    val toks = size(tokens(col("text")))
    val punct = regexp_count(col("text"), lit("[^A-Za-z0-9\\s]"))
    val stop = countIn(col("text"), EnStops)
    docs
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        toks.cast("long").as("n_tokens"),
        round(punct.cast("double") / greatest(length(col("text")), lit(1)), 4)
          .as("punct_ratio"),
        round(stop.cast("double") / greatest(toks, lit(1)), 4)
          .as("stopword_ratio"))
      .withColumn("keep",
        col("n_chars") >= 50 && col("n_tokens") >= 10 &&
          col("punct_ratio") < 0.3)
      .orderBy(col("doc_id"))
  }

  /** Gopher-style repetition signals — the duplicate-text quality gate
    * that complements [[textQuality]]'s length/punct/stopword gate:
    * duplicate-word fraction, most-frequent-token fraction, and
    * duplicate-2-gram fraction, with a keep flag at fixed thresholds.
    * (Line-based signals are omitted: the harness corpus is
    * single-line documents.)
    *
    * Scale posture: one explode per stream (tokens, 2-gram shingles)
    * into a two-level aggregation — the (doc_id, token) partials
    * combine map-side, so the shuffle carries counts, never token
    * text volume beyond the distinct set; the per-doc reduction keys
    * both branches by doc_id, so the final join reuses that
    * partitioning. No per-doc quadratic HOF (an
    * `array_max(transform(distinct, count-in-array))` formulation is
    * O(L²) per document — disqualifying for book-length docs). */
  def textRepetition(docs: DataFrame): DataFrame = {
    val base = graft.spread(docs, col("doc_id"))
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val tokStats = base.select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("nd"), max(col("c")).as("topc"))
    val gramStats = base.select(col("doc_id"),
        explode(Dedup.tokenShingles(col("toks"), 2)).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n2"), count(lit(1)).as("nd2"))
    tokStats.join(gramStats, "doc_id")
      // keep evaluates the UNROUNDED ratios (the rounded columns are
      // presentation; a flag computed from rounded values would flip on
      // boundary documents)
      .select(col("doc_id"), col("n").as("n_tokens"),
        round(lit(1.0) - col("nd") / col("n"), 4).as("dup_word_frac"),
        round(col("topc") / col("n"), 4).as("top_token_frac"),
        round(lit(1.0) - col("nd2") / col("n2"), 4).as("dup_2gram_frac"),
        (lit(1.0) - col("nd") / col("n") <= 0.6 &&
          col("topc") / col("n") <= 0.12 &&
          lit(1.0) - col("nd2") / col("n2") <= 0.1).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Stopword-profile language ID: per-language evidence score =
    * stopword hits; argmax with a fixed en>de>es>fr priority tie-break,
    * 'und' (undetermined) when no evidence. One expression, no UDF. */
  /** The n-gram-heuristic language vote as a single column — shared
    * by [[langId]]'s report shape and the curation composite. */
  private def langPredicted(t: Column): Column = {
    val (en, de, es, fr) = (countIn(t, EnStops), countIn(t, DeStops),
      countIn(t, EsStops), countIn(t, FrStops))
    when(greatest(en, de, es, fr) === 0, lit("und"))
      .when(en >= greatest(de, es, fr), lit("en"))
      .when(de >= greatest(es, fr), lit("de"))
      .when(es >= fr, lit("es"))
      .otherwise(lit("fr"))
  }

  def langId(docs: DataFrame): DataFrame = {
    val t = col("text")
    val (en, de, es, fr) = (countIn(t, EnStops), countIn(t, DeStops),
      countIn(t, EsStops), countIn(t, FrStops))
    docs
      .select(col("doc_id"), col("lang"),
        en.as("s_en"), de.as("s_de"), es.as("s_es"), fr.as("s_fr"))
      .withColumn("predicted",
        when(greatest(col("s_en"), col("s_de"), col("s_es"), col("s_fr")) === 0, lit("und"))
          .when(col("s_en") >= greatest(col("s_de"), col("s_es"), col("s_fr")), lit("en"))
          .when(col("s_de") >= greatest(col("s_es"), col("s_fr")), lit("de"))
          .when(col("s_es") >= col("s_fr"), lit("es"))
          .otherwise(lit("fr")))
      .select(col("doc_id"), col("lang"), col("predicted"))
      .orderBy(col("doc_id"))
  }

  // --- PII masking + URL-canonicalization dedup -----------------------
  // The harness corpus is synthetic word soup with `srcN` source tags,
  // so both operators PLANT their targets deterministically from row
  // columns inside the query (the oracle replays the identical
  // construction in SQL) — the masking/canonicalization logic itself is
  // what the oracle checks. Patterns are shared Java-regex/RE2 syntax
  // (character classes, \b, anchors) so both engines compile them
  // identically.

  /** Email + NANP-style phone patterns (ASCII word-boundary guarded). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b[0-9]{3}-[0-9]{4}\\b"

  /** Redact emails then phones; counts are taken BEFORE redaction.
    * Narrow codegen'd projection — the shape that scrubs 100 TB in one
    * pipelined pass over the scan. */
  def maskPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailRe, "[EMAIL]"), PhoneRe, "[PHONE]")

  /** Canonical URL: lowercase, strip scheme + www., strip query string,
    * strip ALL trailing slashes (one would leave `host//` → `host/`
    * non-idempotent — caught by the PropertySpec idempotence law) —
    * the standard near-URL-dup key. */
  def canonicalUrl(u: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(lower(u), "^https?://(www\\.)?", ""),
        "\\?.*$", ""),
      "/+$", "")

  /** PII scrub over a planted contact line: doc_id, masked text, and
    * per-kind redaction counts. */
  def piiMask(docs: DataFrame): DataFrame = {
    val contact = concat(
      lit("user"), col("doc_id"), lit("@"), col("source"), lit(".com or 555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(" "),
      substring(col("text"), 1, 40))
    docs
      .select(col("doc_id"), contact.as("raw"))
      .select(col("doc_id"),
        maskPii(col("raw")).as("masked"),
        regexp_count(col("raw"), lit(EmailRe)).cast("long").as("n_emails"),
        regexp_count(col("raw"), lit(PhoneRe)).cast("long").as("n_phones"))
      .orderBy(col("doc_id"))
  }

  /** URL dedup: canonicalize a planted messy URL, keep min doc_id per
    * canonical form + multiplicity (shuffle carries the canonical
    * string key — bounded by URL length, not document size). */
  def dedupUrl(docs: DataFrame): DataFrame = {
    val url = concat(
      lit("HTTPS://WWW."), upper(col("source")), lit(".Example.com/Articles/"),
      (col("doc_id") % 7).cast("string"), lit("/?utm_source=feed&lang="), col("lang"))
    docs
      .select(canonicalUrl(url).as("canonical_url"), col("doc_id"))
      .groupBy(col("canonical_url"))
      .agg(min(col("doc_id")).as("keep_id"),
        count(lit(1)).cast("long").as("n_docs"))
      .orderBy(col("canonical_url"))
  }

  /** BM25 relevance ranking of the corpus against a small fixed term
    * set — the retrieval-style scorer a data pipeline uses to pull
    * topical slices out of a crawl (quality-by-relevance selection),
    * here in its Lucene form (idf = ln(1 + (N-df+.5)/(df+.5))).
    *
    * Shape: per-document term frequencies and document length are one
    * narrow codegen'd projection over the scan (one `filter` HOF per
    * query term — the term set is the USER'S query, a handful of
    * words, so this is k passes over an in-memory token array, not a
    * corpus-wide explode). The corpus statistics BM25 needs (N, avgdl,
    * per-term df) are ONE single-row global aggregate — scalars only —
    * broadcast back via the 1-row `crossJoin(broadcast(...))` pattern
    * (same as the climate composites), so the whole query is: scan →
    * 1-row agg → broadcast → scored projection → TakeOrderedAndProject.
    * No corpus-sized shuffle anywhere; at 100 TB the only wide exchange
    * is the partial-aggregate merge of ~(3+k) doubles per partition. */
  def bm25(docs: DataFrame, terms: Seq[String], k: Int = 20,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val toks = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
    val base = docs
      .select(col("doc_id"), toks.as("toks"))
      .select(Seq(col("doc_id"), size(col("toks")).cast("double").as("dl")) ++
        terms.indices.map { i =>
          size(filter(col("toks"), t => t === terms(i))).cast("double").as(s"tf$i")
        }: _*)
    val aggs =
      Seq(count(lit(1)).cast("double").as("n"), avg(col("dl")).as("avgdl")) ++
        terms.indices.map(i =>
          sum(when(col(s"tf$i") > 0, 1).otherwise(0)).cast("double").as(s"df$i"))
    val stats = base.agg(aggs.head, aggs.tail: _*)
    // per-term contributions summed in fixed left-to-right order — the
    // oracle mirrors the exact IEEE operation sequence
    val score = terms.indices.map { i =>
      val tf = col(s"tf$i")
      val idf = log((col("n") - col(s"df$i") + lit(0.5)) /
        (col(s"df$i") + lit(0.5)) + lit(1.0))
      idf * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl")))
    }.reduce(_ + _)
    base.crossJoin(broadcast(stats))
      .select(col("doc_id"), round(score, 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Top-k TF-IDF terms per document — the per-document keyword
    * extraction step (topic tagging, index pruning, relevance slicing).
    * tfidf = tf · ln(N/df); ties break on the term so every rank is
    * deterministic.
    *
    * Scale posture: the corpus explodes ONCE into (doc_id, term)
    * counts; the document-frequency table derives from that tf table
    * by RE-AGGREGATION (materialized via localCheckpoint — same trick
    * as the n-gram LM, so the corpus is not exploded twice) and is
    * vocabulary-sized, so AQE broadcasts it back onto tf. N is a
    * broadcast 1-row scalar. The rank window partitions by doc_id —
    * a document's distinct-term set is bounded by the document, never
    * the corpus — and Catalyst folds the rk ≤ k filter into a
    * WindowGroupLimit, so each map task ships at most k rows per
    * document into the final order. */
  def tfidf(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs
      .select(col("doc_id"), explode(
        regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val df = tf.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    val n = docs.agg(count(lit(1)).cast("double").as("n"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf_raw").desc, col("term"))
    tf.join(df, "term").crossJoin(broadcast(n))
      .withColumn("tfidf_raw", col("tf").cast("double") * log(col("n") / col("df")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("term"),
        round(col("tfidf_raw"), 4).as("tfidf"), col("rk"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** Inverted index build: term → document frequency + the sorted
    * postings list (comma-joined, so the row is a flat string both
    * engines render identically) — the retrieval-side artifact of a
    * corpus pipeline (BM25 serving, decontamination probes).
    *
    * Scale posture: per-document term DEDUP happens row-locally
    * (`array_distinct` inside the projection, before the explode), so
    * the one shuffle carries unique (term, doc_id) pairs — no separate
    * corpus-wide distinct. `maxDf` caps the posting list a term may
    * accumulate (ubiquitous terms are dropped, the standard stop-list
    * cut); at web scale the postings for mid-df terms are still
    * thousands of ids, which is exactly what a grouped index row holds
    * — terms above the cap would instead shard their postings, which
    * this operator scopes out. */
  def invertedIndex(docs: DataFrame, maxDf: Long = 100000L): DataFrame =
    docs
      .select(col("doc_id"), explode(array_distinct(
        regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).cast("long").as("df"),
        array_join(transform(sort_array(collect_list(col("doc_id"))),
          _.cast("string")), ",").as("postings"))
      .filter(col("df") <= maxDf)
      .orderBy(col("term"))

  /** Gopher-style rule gate (Rae et al. 2021's repetition/length
    * heuristics, the standard pre-filter of a web-crawl pipeline):
    * per-document structural metrics and one flag per rule —
    * word-count bounds, mean-word-length band, stopword evidence,
    * symbol-to-word ratio, digit-token share — plus the conjunction
    * `keep`. Flags are reported, not applied: the pipeline audits WHY
    * documents drop (per-rule kill counts) before committing a filter.
    *
    * Scale posture: a pure row-local codegen'd projection — token
    * array built once per row, every metric an array expression over
    * it, no shuffle at all (the ordering is for the oracle only). */
  /** The Gopher gate columns over any frame carrying `text`: input
    * columns + n_words, mwl (round 4), per-rule flags, combined
    * `keep`. Row-local codegen'd projections only — shared by the
    * registered rule report ([[gopherRules]]) and the curation
    * composite. */
  def gopherSignals(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val base = docs.withColumn("__toks", toks)
      .withColumn("n_words", size(col("__toks")).cast("long"))
    val chars = aggregate(col("__toks"), lit(0L), (acc, t) => acc + length(t))
    val mwl = chars.cast("double") / col("n_words").cast("double")
    val digitFrac = size(filter(col("__toks"), t => t.rlike("[0-9]")))
      .cast("double") / col("n_words").cast("double")
    val symRatio = (regexp_count(col("text"), lit("#")) +
      regexp_count(col("text"), lit("\\.\\.\\.")))
      .cast("double") / col("n_words").cast("double")
    val nStop = size(filter(col("__toks"),
      t => t.isin(EnStops.map(w => w: Any): _*)))
    def flag(c: Column): Column = when(c, 1).otherwise(0).cast("int")
    base
      .withColumn("mwl", round(mwl, 4))
      .withColumn("r_nwords", flag(col("n_words").between(50L, 100000L)))
      .withColumn("r_mwl", flag(mwl.between(3.0, 10.0)))
      .withColumn("r_stop", flag(nStop >= 2))
      .withColumn("r_symbol", flag(symRatio <= 0.1))
      .withColumn("r_digit", flag(digitFrac <= 0.3))
      .withColumn("keep", (col("r_nwords") * col("r_mwl") * col("r_stop") *
        col("r_symbol") * col("r_digit")).cast("int"))
      .drop("__toks")
  }

  def gopherRules(docs: DataFrame): DataFrame =
    gopherSignals(docs)
      .select(col("doc_id"), col("n_words"), col("mwl"), col("r_nwords"),
        col("r_mwl"), col("r_stop"), col("r_symbol"), col("r_digit"), col("keep"))
      .orderBy(col("doc_id"))

  /** Deterministic train/val/test HOLDOUT split — the evaluation-set
    * carve every training pipeline runs before anything else touches
    * the corpus. Assignment is a pure function of the [[digestHex8]]
    * keep key against compile-time `%08x` thresholds (train < t1 ≤
    * val < t2 ≤ test): RNG-free, stable under retries, partition
    * moves, AND incremental re-runs — a document's split never changes
    * when the corpus grows, which is what keeps eval sets
    * uncontaminated across ingest batches. Pure codegen'd projection,
    * no shuffle. */
  def splitHoldout(docs: DataFrame, trainFrac: Double, valFrac: Double,
      salt: String): DataFrame = {
    require(trainFrac > 0 && valFrac >= 0 && trainFrac + valFrac <= 1,
      s"bad split fractions: train=$trainFrac val=$valFrac")
    val h = digestHex8(col("doc_id"), salt)
    docs.select(col("doc_id"),
        when(h < lit(hexThreshold(trainFrac)), "train")
          .when(h < lit(hexThreshold(trainFrac + valFrac)), "val")
          .otherwise("test").as("split"))
      .orderBy(col("doc_id"))
  }

  /** Distributed BPE tokenizer TRAINING (Sennrich et al. 2016): learn
    * the top-`nMerges` byte-pair merges of the corpus. One corpus pass
    * builds the (word, freq) vocabulary table; every merge iteration
    * then runs on the VOCABULARY — pair-count aggregate (shuffles
    * (sym1, sym2, count) triples only), deterministic argmax (count
    * desc, then pair lexicographic), and a row-local fold that merges
    * non-overlapping occurrences left-to-right inside each word's
    * symbol array. Returns the learned merge table (the tokenizer
    * artifact): rank, pair, merged token, pair count at merge time.
    *
    * Scale posture: this is why BPE training is feasible at 100 TB —
    * after the one corpus-sized word-count shuffle, the working set is
    * the word vocabulary (millions of rows, not billions), re-
    * materialized per iteration via localCheckpoint to keep the plan
    * flat. The per-iteration argmax is a 1-row TakeOrdered to the
    * driver — the merge decision IS global, and it is one row per
    * iteration (the learned artifact itself is driver-sized by
    * definition). No oracle (iterated argmax is not expressible in
    * one SQL query) — pinned by a hand-computed corpus + determinism
    * spec. */
  def bpeTrain(docs: DataFrame, nMerges: Int): DataFrame = {
    require(nMerges >= 1, "bpeTrain needs at least one merge")
    val spark = docs.sparkSession
    var vocab = docs
      .select(explode(regexp_extract_all(lower(col("text")),
        lit("[a-z0-9]+"), lit(0))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(col("freq"), array_remove(split(col("w"), ""), "").as("syms"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    var done = false
    for (i <- 1 to nMerges if !done) {
      val best = vocab
        .filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(slice(syms, 1, size(syms)-1), (s, j) -> struct(s AS p1, syms[j+1] AS p2))")).as("pr"))
        .groupBy(col("pr.p1").as("p1"), col("pr.p2").as("p2"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("p1"), col("p2"))
        .head(1)
      if (best.isEmpty) done = true
      else {
        val (p1, p2, cnt) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((i.toLong, p1, p2, p1 + p2, cnt))
        // left-to-right greedy merge of (p1, p2) inside each word:
        // a fold that replaces a trailing p1 when p2 arrives — the
        // merged token is never itself re-merged within the pass
        vocab = vocab.select(col("freq"),
            aggregate(col("syms"), array().cast("array<string>"),
              (acc, x) => when(
                size(acc) > 0 && element_at(acc, -1) === lit(p1) && x === lit(p2),
                concat(slice(acc, lit(1), size(acc) - 1), array(lit(p1 + p2))))
                .otherwise(concat(acc, array(x)))).as("syms"))
          .localCheckpoint()
      }
    }
    spark.createDataFrame(merges.toSeq)
      .toDF("rank", "p1", "p2", "merged", "pair_count")
      .orderBy(col("rank"))
  }

  /** BPE ENCODE: apply a trained merge table to the corpus — the
    * serving half of the tokenizer lifecycle ([[bpeTrain]] is the
    * learning half). Per document: words (same `[a-z0-9]+` lowering
    * as training) split to symbols, every merge applied in rank order
    * with the same greedy left-to-right fold the trainer uses, then
    * token counts aggregated per document — the per-doc token-budget
    * statistic every mixing/packing stage consumes.
    *
    * Scale posture — the same VOCAB trick training uses: the fold
    * runs once per DISTINCT word, never per instance (a crawl's
    * instance/vocab ratio is 10-100×; measured 5.3 s → 1.5 s at
    * sf0.1 just from the dedup). The merge table is a ≤N-row frame
    * aggregated to ONE array row and broadcast; per distinct word the
    * encode is a nested higher-order fold (fold over merges, inner
    * greedy fold over symbols), and each per-merge fold is skipped by
    * one O(|w|) substring probe — merging only ever JOINS adjacent
    * symbols, so the flattened string is merge-invariant and p1,p2
    * can be adjacent only if `merged` is a substring of the word
    * (the unguarded 12-fold ran 30 s at sf0.1 vs ~2 s guarded).
    * Exchanges carry (word) and (doc_id, int) pairs only — documents
    * never shuffle, there is no UDF and no driver-side model. */
  def bpeEncode(docs: DataFrame, merges: DataFrame): DataFrame = {
    val model = merges
      .agg(array_sort(collect_list(
        struct(col("rank"), col("p1"), col("p2"), col("merged")))).as("ms"))
    def applyMerges(w: Column): Column =
      aggregate(col("ms"), array_remove(split(w, ""), ""),
        (syms, m) => when(instr(w, m.getField("merged")) === 0, syms)
          .otherwise(aggregate(syms, array().cast("array<string>"),
            (acc, x) => when(size(acc) > 0 &&
                element_at(acc, -1) === m.getField("p1") &&
                x === m.getField("p2"),
              concat(slice(acc, lit(1), size(acc) - 1),
                array(concat(m.getField("p1"), m.getField("p2")))))
              .otherwise(concat(acc, array(x))))))
    val instances = docs.select(col("doc_id"),
      explode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)))
        .as("w"))
    val encoded = instances.select(col("w")).distinct()
      .crossJoin(broadcast(model))
      .select(col("w"), size(applyMerges(col("w"))).cast("long").as("tl"))
    val perDoc = instances.join(encoded, "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("tl")).as("n_tokens"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Winnowing-style document fingerprint: hash every k-token shingle
    * (rolling window), keep the minimum — one 64-bit fingerprint per
    * document that is stable under token-preserving reformatting.
    * Shingle hashes reuse [[Dedup.shingleHashes]]; no oracle (xxhash64
    * has no DuckDB twin) — pinned by determinism + collision specs. */
  def fingerprint(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        array_min(Dedup.shingleHashes(col("toks"), 3)).as("fp"))
      .orderBy(col("doc_id"))

  /** −Σ p·ln(p) over a materialized char-array column, computed as
    * ln(L) − (Σ n_c·ln n_c)/L from RUN LENGTHS of the sorted array:
    * one O(L log L) sort + one O(L) aggregate pass with a constant-size
    * struct accumulator. (The naive per-distinct-char
    * `size(filter(cs, _ === c))` allocates a filtered copy of the
    * array per distinct char — O(L·D) work that benched 9.7 s at
    * sf0.1 vs ~1 s for this form.) `greatest(0, ·)` absorbs the
    * −1 ulp that n·ln(n)/n-style cancellation can leave on
    * constant-char docs, which would otherwise round to -0.0 and
    * hash-mismatch. */
  private[graft] def entropyOf(cs: Column): Column = {
    val L = size(cs).cast("double")
    def closeRun(st: Column): Column =
      st.getField("acc") + when(st.getField("run") > 0,
        st.getField("run") * log(st.getField("run"))).otherwise(lit(0.0))
    val nLnN = aggregate(array_sort(cs),
      struct(lit("").as("prev"), lit(0.0).as("run"), lit(0.0).as("acc")),
      (st, c) => {
        val same = c === st.getField("prev")
        struct(c.as("prev"),
          when(same, st.getField("run") + lit(1.0)).otherwise(lit(1.0)).as("run"),
          when(same, st.getField("acc")).otherwise(closeRun(st)).as("acc"))
      },
      closeRun)
    greatest(lit(0.0), log(L) - nLnN / L)
  }

  /** Character entropy straight from the string — the native
    * codegen'd [[graft.plans.CharEntropy]] expression (one O(L)
    * counting pass, no per-row array materialization or sort).
    * Bit-identical to [[entropyOf]] over the split char array
    * (ascending-order accumulation, same log — pinned in
    * OperatorSemanticsSpec); [[entropyOf]] is retained as the
    * reference formulation for that parity spec. */
  private def charEntropy(text: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.plans.CharEntropy(
        org.apache.spark.sql.GraftBridge.expression(text)))

  /** Character-level Shannon entropy per document — the classic
    * gibberish gate (low entropy = repeated filler/boilerplate, high
    * entropy = random bytes; natural text sits in a stable band).
    *
    * Scale posture: a PURE row-local projection — one codegen'd
    * counting pass per row (see [[charEntropy]]), NO shuffle anywhere
    * (contrast [[textRepetition]], which needs corpus-level counts
    * and therefore an aggregate). */
  def textEntropy(docs: DataFrame): DataFrame =
    docs.filter(length(col("text")) > 0)
      .select(col("doc_id"), round(charEntropy(col("text")), 6).as("char_entropy"))
      .orderBy(col("doc_id"))

  /** Per-source corpus HEALTH REPORT — the one-glance data-quality
    * dashboard a pipeline publishes per ingest batch: volume, exact
    * duplicate rate (via the 32 B content digest), token mass, mean
    * character entropy (gibberish drift), the short-doc share, and the
    * EMPTY-doc share. Empty documents are counted, never dropped — an
    * extraction bug that blanks a whole source must show up as
    * pct_empty → 1 (with null token/entropy means), not as the source
    * silently vanishing from the report; token and entropy means are
    * over the non-empty docs only (null for an all-empty source).
    *
    * Scale posture: ONE pass — every per-document metric (digest,
    * token count, entropy, short/empty flags) is a codegen'd
    * projection feeding a single groupBy(source) with map-side partial
    * aggregation; the distinct-digest count is Spark's two-phase
    * count(DISTINCT) over 32-byte keys. Nothing document-sized
    * shuffles except the digests themselves. */
  /** End-to-end CURATION composite — the LLM-data analog of the
    * climate tier's q_climate_composite: exact dedup → Gopher quality
    * gates → character-entropy gibberish gate → language vote, as ONE
    * lazy plan emitting the surviving corpus with its quality columns.
    *
    * Stage order is the scale story: every per-document signal
    * (tokens, rule flags, entropy, language vote, content digest) is a
    * row-local codegen'd projection computed BEFORE the only
    * data-sized exchange, and `text` is projected away with them — the
    * dedup window shuffles (digest, doc_id, scalars), never document
    * bytes. Canonical-of-duplicates is min(doc_id) over the digest
    * partition (duplicates have identical text, hence identical
    * signals, so gate-then-dedup and dedup-then-gate agree; the
    * window form keeps survivors' columns without a join back). The
    * entropy gate compares the ROUNDED value so the band edge cannot
    * flip on summation-order ulps. */
  def curationComposite(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sig = gopherSignals(docs.filter(length(col("text")) > 0))
      .withColumn("text_sha", sha2(col("text"), 256))
      .withColumn("char_entropy", round(charEntropy(col("text")), 6))
      .withColumn("predicted", langPredicted(col("text")))
      .select(col("doc_id"), col("source"), col("text_sha"), col("n_words"),
        col("mwl"), col("keep"), col("char_entropy"), col("predicted"))
    val w = Window.partitionBy(col("text_sha"))
    sig
      .withColumn("__canon", min(col("doc_id")).over(w))
      .filter(col("doc_id") === col("__canon"))
      .filter(col("keep") === 1 && col("char_entropy").between(2.0, 6.0))
      .select(col("doc_id"), col("source"), col("predicted"), col("n_words"),
        col("mwl"), col("char_entropy"))
      .orderBy(col("doc_id"))
  }

  def corpusHealth(docs: DataFrame): DataFrame =
    docs
      .select(col("source"),
        sha2(col("text"), 256).as("sha"),
        when(length(col("text")) > 0,
          size(tokens(col("text"))).cast("double")).as("n_tok"),
        when(length(col("text")) > 0, charEntropy(col("text"))).as("ent"),
        (length(col("text")) < 100).cast("double").as("short"),
        (length(col("text")) === 0).cast("double").as("empty"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(lit(1.0) - countDistinct(col("sha")).cast("double") /
          count(lit(1)).cast("double"), 6).as("dup_rate"),
        round(avg(col("n_tok")), 4).as("avg_tokens"),
        round(avg(col("ent")), 6).as("avg_entropy"),
        round(avg(col("short")), 6).as("pct_short"),
        round(avg(col("empty")), 6).as("pct_empty"))
      .orderBy(col("source"))

  /** CCNet-style n-gram language-model quality score: train an
    * add-α-smoothed bigram LM on the corpus, score every document by
    * its mean negative log-likelihood under that model (low nll =
    * fluent/typical text, high nll = noise — the standard
    * perplexity-filter gate of a training-data pipeline, self-trained
    * here instead of on an external reference corpus).
    *
    * nll(doc) = -avg over bigrams of ln((c(w1,w2)+α)/(c(w1·)+α·V)),
    * where c(w1·) is the context count and V the bigram-successor
    * vocabulary. Bigrams are formed row-locally with a `transform`
    * HOF over the token array (O(L) per doc, inside codegen — no
    * positional self-join).
    *
    * Scale posture: the model tables (c12, and c1/V derived from c12
    * by re-aggregation, NOT by re-exploding the corpus) are
    * vocabulary-sized, orders of magnitude smaller than the corpus;
    * AQE broadcasts them when they fit (the CCNet deployment shape —
    * a fixed-size model shipped to every executor) and falls back to
    * a hash join keyed on the bigram, never on document bytes. The
    * wide exchanges carry (doc_id, w1, w2) and counts only. */
  def ngramLmScore(docs: DataFrame, alpha: Double = 0.4): DataFrame =
    ngramLmScoreCore(docs, alpha).orderBy(col("doc_id"))

  /** [[ngramLmScore]] without the final oracle-determinism sort — for
    * in-engine consumers ([[perplexityBuckets]]) that immediately
    * re-order by their own key: the doc_id sort would be computed and
    * thrown away (guide §1.2 / §2.4 — an orderBy used only to make
    * output deterministic is a removable exchange for internal
    * consumers). Rows and values are identical. */
  private def ngramLmScoreCore(docs: DataFrame, alpha: Double): DataFrame = {
    val bigrams = docs
      .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(slice(toks, 1, size(toks)-1), (w, i) -> struct(w AS w1, toks[i+1] AS w2))")).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    // the model table is MATERIALIZED once (localCheckpoint): c1, V,
    // and the scoring join all read it back — without this, exchange
    // reuse does not dedupe the three model subtrees and the corpus
    // would be exploded four times instead of twice (score side + c12)
    val c12 = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12")).localCheckpoint()
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val v = c12.agg(countDistinct(col("w2")).cast("double").as("vv"))
    bigrams
      .join(c12, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(v))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        round(-avg(log((col("c12") + lit(alpha)) /
          (col("c1") + lit(alpha) * col("vv")))), 6).as("nll"))
  }

  /** CCNet-style PERPLEXITY BUCKETING (Wenzek et al. 2020): score
    * every doc with the self-trained bigram LM ([[ngramLmScore]]) and
    * carve the corpus into head/middle/tail THIRDS of the nll order —
    * the language-model quality gate of the CommonCrawl curation
    * recipe (keep head+middle for pre-training, tail for audit).
    *
    * Buckets are assigned by RANK, not by percentile THRESHOLD:
    * interpolated quantile values differ across engines in the last
    * ulp (op-order), which would flip boundary docs, while the rank
    * carve (rn ≤ N/3, integer arithmetic over the already
    * hash-checked 6-dp nll with doc_id tiebreak) is exact and
    * engine-replayable.
    *
    * Scale posture: the global nll order comes from
    * [[Windows.prefixSums]] of 1 (range repartition + broadcast
    * offsets — never a single-task whole-corpus window); N is that
    * layout's 1-row `totals`, broadcast into the projection. */
  def perplexityBuckets(docs: DataFrame, alpha: Double = 0.4): DataFrame = {
    // MATERIALIZE the scored table once: the rank pass's range
    // sampling and its shuffle would each run the un-pinned LM chain —
    // the two corpus explodes, both model joins, and ngramLmScore's
    // doc_id determinism sort. The checkpoint runs the chain once, and
    // the core variant skips the doc_id sort this path re-orders
    // anyway.
    val scored = ngramLmScoreCore(docs, alpha).localCheckpoint()
    val (ranked, totals) = Windows.prefixSums(scored, Nil,
      Seq(lit(1L) -> "rn"), Seq(col("nll"), col("doc_id")))
    ranked.crossJoin(broadcast(totals.select(col("_n").as("__n"))))
      .select(col("doc_id"), col("n_bigrams"), col("nll"), col("rn"),
        when(col("rn") * 3 <= col("__n"), lit("head"))
          .when(col("rn") * 3 <= col("__n") * 2, lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
      .orderBy(col("doc_id"))
  }

  /** Corpus-wide top-k n-gram census (collocation mining — phrase
    * statistics for tokenizer sizing, boilerplate discovery, quality
    * probes). Grams are built ROW-LOCALLY with a `transform` HOF over
    * the token array (O(L) per doc, inside codegen); the one shuffle
    * carries (gram, count) with map-side partials, and the top-k is a
    * TakeOrderedAndProject (count desc, gram tiebreak) — never a
    * global sort. */
  def ngramTopK(docs: DataFrame, n: Int = 2, k: Int = 30): DataFrame = {
    require(n >= 1 && k >= 1, s"need n >= 1 and k >= 1: n=$n k=$k")
    docs
      .select(tokens(lower(col("text"))).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(explode(expr(
        s"transform(slice(toks, 1, size(toks) - ${n - 1}), (w, i) -> concat_ws(' ', slice(toks, i + 1, $n)))")).as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).cast("long").as("cnt"))
      .orderBy(col("cnt").desc, col("gram"))
      .limit(k)
  }

  /** DSIR-style data selection scoring (Xie et al. 2023): importance
    * weight of every document for a TARGET domain, as the bigram-LM
    * log-likelihood ratio ln p_target(doc) − ln p_corpus(doc)
    * (per-bigram mean). Positive dsir_w = more target-like than the
    * corpus average — the "select pre-training data that looks like
    * the target" step, with both models self-trained here (target =
    * the rows matching `targetPred`).
    *
    * Both LMs are add-α bigram models over the same machinery as
    * [[ngramLmScore]]; bigrams UNSEEN by the target model back off to
    * c12 = c1 = 0 (probability α/(α·V_t) = 1/V_t) via left joins.
    * dsir_w is computed as avg(lt − lc) — the per-bigram difference
    * averaged once, NOT a difference of the two rounded means — so
    * both engines run the identical IEEE chain.
    *
    * Scale posture: the corpus explodes ONCE into a materialized
    * (doc_id, tgt, w1, w2) bigram table (the target flag rides along,
    * so the target model is a filter over the same table, not a second
    * explode); all four model tables are vocabulary-sized
    * re-aggregations, AQE-broadcast back; V_c/V_t are broadcast 1-row
    * scalars. Wide exchanges carry words + counts only. */
  def dsirScore(docs: DataFrame, targetPred: Column,
      alpha: Double = 0.4): DataFrame = {
    val bigrams = docs
      .select(col("doc_id"), targetPred.as("tgt"),
        tokens(lower(col("text"))).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("tgt"), explode(expr(
        "transform(slice(toks, 1, size(toks)-1), (w, i) -> struct(w AS w1, toks[i+1] AS w2))")).as("bg"))
      .select(col("doc_id"), col("tgt"),
        col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .localCheckpoint()
    val c12c = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12c")).localCheckpoint()
    val c1c = c12c.groupBy(col("w1")).agg(sum(col("c12c")).as("c1c"))
    val vc = c12c.agg(countDistinct(col("w2")).cast("double").as("vc"))
    val c12t = bigrams.filter(col("tgt")).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12t")).localCheckpoint()
    val c1t = c12t.groupBy(col("w1")).agg(sum(col("c12t")).as("c1t"))
    val vt = c12t.agg(countDistinct(col("w2")).cast("double").as("vt"))
    val lt = log((coalesce(col("c12t"), lit(0L)) + lit(alpha)) /
      (coalesce(col("c1t"), lit(0L)) + lit(alpha) * col("vt")))
    val lc = log((col("c12c") + lit(alpha)) /
      (col("c1c") + lit(alpha) * col("vc")))
    bigrams
      .join(c12c, Seq("w1", "w2"))
      .join(c1c, Seq("w1"))
      .join(c12t, Seq("w1", "w2"), "left")
      .join(c1t, Seq("w1"), "left")
      .crossJoin(broadcast(vc)).crossJoin(broadcast(vt))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        round(-avg(lt), 6).as("nll_target"),
        round(-avg(lc), 6).as("nll_corpus"),
        round(avg(lt - lc), 6).as("dsir_w"))
      .orderBy(col("doc_id"))
  }

  /** Exact deterministic k-PER-STRATUM sample ("100 eval docs per
    * language"): rank each stratum's docs by the RNG-free
    * [[digestHex8]] key (doc_id tiebreak) and keep rank ≤ k — stable
    * under retries and re-runs, and a kept doc stays kept when OTHER
    * strata grow.
    *
    * Scale posture: the rank ≤ k filter folds into a Partial
    * WindowGroupLimit below the stratum exchange (the
    * q_similarity_knn_join pattern), so each map task ships at most k
    * rows per stratum — a dominant stratum never lands on one task. */
  /** Exact deterministic GLOBAL k-sample — the RNG-free replacement
    * for corpus-level reservoir sampling ("pull 10k docs for human
    * eval"): every doc is ranked by its [[digestHex8]] key (doc_id
    * tiebreak) and the k smallest win. Unlike a true reservoir it is
    * retry/replay-stable, engine-replayable, and ANY-k consistent (the
    * k=1000 sample is a prefix of the k=2000 sample — grow the eval
    * set without resampling), while matching a uniform draw in
    * distribution since the digest is uniform on ids.
    *
    * Scale posture: orderBy(key).limit(k) plans as
    * TakeOrderedAndProject — each map task keeps its local k smallest
    * and only those merge, so the corpus never globally sorts and the
    * driver never sees more than partitions×k rows (pinned in
    * PlanSpec). */
  def reservoirSample(docs: DataFrame, k: Int, salt: String): DataFrame = {
    require(k >= 1, s"need k >= 1: $k")
    docs.select(col("doc_id"), col("lang"),
        digestHex8(col("doc_id"), salt).as("sample_key"))
      .orderBy(col("sample_key"), col("doc_id"))
      .limit(k)
      .orderBy(col("doc_id"))
  }

  def samplePerGroup(docs: DataFrame, stratumCol: String, k: Int,
      salt: String): DataFrame = {
    require(k >= 1, s"need k >= 1: $k")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(col("__key"), col("doc_id"))
    docs.withColumn("__key", digestHex8(col("doc_id"), salt))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col(stratumCol), col("rk"))
      .orderBy(col("doc_id"))
  }

  /** Weighted k-sample WITHOUT replacement (Efraimidis–Spirakis
    * A-ES): each item draws a deterministic uniform u from its id
    * digest and ranks by u^(1/w) — here by the monotone-equivalent
    * ln(u)/w — and the global top-k IS a weighted sample without
    * replacement. The length-weighted eval draw: a 500-char doc is
    * ~10× likelier in than a 50-char one, yet no doc appears twice
    * and reruns are bit-identical (pure digest function of the id,
    * the [[reservoirSample]] contract with weights).
    *
    * Zero-weight items are excluded by definition (they'd rank -∞);
    * the guard keeps the quotient defined rather than leaning on
    * engine-specific inf semantics.
    *
    * Scale posture: narrow projection + TakeOrderedAndProject — each
    * partition keeps its local top-k and the driver merges k-sized
    * heaps; nothing relation-sized moves. The selection key stays
    * un-emitted: ln() is libm-dependent in the last ulp, fine to RANK
    * by (rank-k gaps are ~1e-4, 12 orders above ulp) but not to hash. */
  def weightedSample(docs: DataFrame, k: Int, salt: String): DataFrame = {
    require(k >= 1, s"need k >= 1: $k")
    val h = conv(digestHex8(col("doc_id"), salt), 16, 10).cast("long")
    val u = (h.cast("double") + lit(1.0)) / lit(4294967296.0)
    docs.filter(col("n_chars") > 0L)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("es_key", log(u) / col("n_chars").cast("double"))
      .orderBy(col("es_key").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Per-group TOP-P (nucleus) selection: order the group by mass
    * descending and keep the smallest prefix whose cumulative mass
    * reaches p of the group total — "the docs that make up the top
    * half of this language's characters", the curation cut that
    * adapts to each group's skew where top-k cannot (a flat group
    * keeps many, a head-heavy one keeps few). The straddler that
    * crosses the threshold is kept (mass-before < ⌊p·total⌋), so
    * coverage is always ≥ p.
    *
    * All comparisons are integer cumsums against one floor'd
    * threshold — no float accumulation, hash-stable on any engine.
    *
    * Scale posture: one window shuffle on the group key (bounded
    * group width here; unbounded groups escalate to the distributed
    * prefix sums of Windows.prefixSums); ties broken by id so the
    * running sum is over a total order. */
  def selectTopP(docs: DataFrame, p: Double): DataFrame = {
    require(p > 0 && p < 1, s"need 0 < p < 1: $p")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    val wg = Window.partitionBy(col("lang"))
    graft.spread(docs, col("doc_id"))
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("cum_chars", sum(col("n_chars")).over(w))
      .withColumn("total", sum(col("n_chars")).over(wg))
      .filter((col("cum_chars") - col("n_chars")).cast("double") <
        floor(col("total").cast("double") * lit(p)))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("cum_chars"),
        graft.halfUp(col("cum_chars").cast("double") / col("total").cast("double"), 6)
          .as("cum_share"))
      .orderBy(col("doc_id"))
  }

  /** PMI collocations: the top-k bigrams by pointwise mutual
    * information ln(P(w₁w₂)/(P(w₁)P(w₂))) with a minimum pair count —
    * the phrase-mining / tokenizer-merge-candidate list ("new york"
    * scores high because its parts rarely appear apart; "of the"
    * scores low despite its raw frequency — exactly what
    * [[ngramTopK]]'s count ranking cannot see).
    *
    * RANKING is by the PMI ratio computed as one fixed-order chain of
    * exact-rounded IEEE ops ((c₁₂·N₁·N₁)/(N₂·c₁·c₂), doubles — no
    * BIGINT overflow at any corpus size, identical on any engine
    * mirroring the operand order); only the final ln() is rendered,
    * half-up at 6 dp.
    *
    * Scale posture: two counts-only hash aggregates (unigrams,
    * bigrams) with map-side partials; the min-count filter prunes the
    * pair table before the two vocab joins; corpus totals are 1-row
    * broadcasts; top-k is TakeOrderedAndProject. Nothing
    * relation-sized shuffles twice. */
  def collocations(docs: DataFrame, minCount: Long, k: Int): DataFrame = {
    require(minCount >= 1 && k >= 1, s"need minCount, k >= 1: $minCount, $k")
    val toks = graft.spread(docs, col("doc_id"))
      .select(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("t"))
    val uni = toks.select(explode(col("t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val totals = toks.agg(
      sum(size(col("t")).cast("long")).as("n1"),
      sum(greatest(size(col("t")) - 1, lit(0)).cast("long")).as("n2"))
    val pairs = toks.filter(size(col("t")) >= 2)
      .select(explode(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("pr"))
      .select(col("pr.w1").as("w1"), col("pr.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= minCount)
    val ratio =
      (col("c12").cast("double") * col("n1").cast("double") * col("n1").cast("double")) /
        (col("n2").cast("double") * col("c1").cast("double") * col("c2").cast("double"))
    pairs
      .join(broadcast(uni.select(col("w").as("w1"), col("c").as("c1"))), Seq("w1"))
      .join(broadcast(uni.select(col("w").as("w2"), col("c").as("c2"))), Seq("w2"))
      .crossJoin(broadcast(totals))
      .withColumn("pmi_ratio", ratio)
      .orderBy(col("pmi_ratio").desc, col("w1"), col("w2"))
      .limit(k)
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
        graft.halfUp(log(col("pmi_ratio")), 6).as("pmi"))
      .orderBy(col("w1"), col("w2"))
  }

  /** READABILITY scores per document — Flesch reading ease and
    * Flesch–Kincaid grade from three regex censuses (sentences =
    * terminal-punctuation runs, words = alnum runs, syllables =
    * vowel-group runs, the standard dictionary-free heuristic). The
    * curation-filter complement to [[textQuality]]'s ratio gates:
    * quality says "is this prose", readability says "for whom".
    *
    * Counts are integers and the two scores are fixed-order double
    * chains over their ratios — engine-independent, rendered half-up.
    * Degenerate docs (no sentence/word match) clamp to 1 rather than
    * dividing by zero.
    *
    * Scale posture: pure narrow projection inside codegen — three
    * regex passes per row, no shuffle at all (the output order sort
    * is the only exchange). */
  def readability(docs: DataFrame): DataFrame = {
    val words = greatest(size(expr(
      "regexp_extract_all(lower(text), '[a-z0-9]+', 0)")), lit(1)).cast("long")
    val sents = greatest(size(expr(
      "regexp_extract_all(text, '[.!?]+', 0)")), lit(1)).cast("long")
    val sylls = greatest(size(expr(
      "regexp_extract_all(lower(text), '[aeiouy]+', 0)")), lit(1)).cast("long")
    val wps = col("n_words").cast("double") / col("n_sentences").cast("double")
    val spw = col("n_syllables").cast("double") / col("n_words").cast("double")
    graft.spread(docs, col("doc_id"))
      .select(col("doc_id"), words.as("n_words"), sents.as("n_sentences"),
        sylls.as("n_syllables"))
      .select(col("doc_id"), col("n_words"), col("n_sentences"),
        col("n_syllables"),
        graft.halfUp(lit(206.835) - lit(1.015) * wps - lit(84.6) * spw, 4)
          .as("flesch"),
        graft.halfUp(lit(0.39) * wps + lit(11.8) * spw - lit(15.59), 4)
          .as("fk_grade"))
      .orderBy(col("doc_id"))
  }

  /** ZIPF rank-frequency fit over the corpus token census: OLS of
    * ln(freq) on ln(rank) over the top-`topK` terms — slope (the Zipf
    * exponent, ≈ −1 for natural language), intercept, and r² ("does
    * this corpus have a natural frequency profile, or is it
    * template/boilerplate-skewed?" — the corpus-health screen next to
    * [[q_text_vocab_growth]]; synthetic or deduplicate-starved
    * corpora show up as a bent or shallow rank-frequency line).
    *
    * Parity: the census total order (freq DESC, term ASC) is exact;
    * ln() runs on small exact integers on both engines and every
    * per-term moment (x, y, x², y², xy) quantizes to the 1e-6 grid AS
    * LONGS before the order-free integer sums (the entropy/benford
    * transcendental posture — the grid is part of the spec, so the
    * rendered digits are engine-independent); the OLS closed form is
    * one fixed-order double chain. NULL fit on a degenerate census
    * (all-equal frequencies still fit; an empty corpus yields no
    * row).
    *
    * Scale posture: the census is one hash aggregate with map-side
    * partials; the top-K cut is a TakeOrderedAndProject (every map
    * task ships ≤ K rows); the fit runs over the K-row bounded table
    * (single-partition window BY BOUND, the spearman posture). */
  def zipfFit(docs: DataFrame, topK: Int = 200): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topK >= 10, s"need topK >= 10: $topK")
    val census = docs
      .select(explode(expr(
        "regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("term")).limit(topK)
    // non-foldable constant partition key (pmod(freq, 1) ≡ 0): the
    // K-row bound makes one partition correct, and a LITERAL key
    // would be constant-folded out of the optimized partitionSpec —
    // reading as the partition-less scale-killer to WindowExec's
    // warning and PlanSpec's window sweep
    val ranked = census
      .withColumn("rk", row_number().over(
        Window.partitionBy(pmod(col("freq"), lit(1L)))
          .orderBy(col("freq").desc, col("term"))).cast("long"))
      .select(log(col("rk").cast("double")).as("x"),
        log(col("freq").cast("double")).as("y"))
    def q6(c: Column): Column = floor(c * lit(1e6) + lit(0.5)).cast("long")
    val m = ranked.agg(count(lit(1)).as("n_terms"),
      sum(q6(col("x"))).as("sxq"), sum(q6(col("y"))).as("syq"),
      sum(q6(col("x") * col("x"))).as("sxxq"),
      sum(q6(col("y") * col("y"))).as("syyq"),
      sum(q6(col("x") * col("y"))).as("sxyq"))
    val nD = col("n_terms").cast("double")
    val sx = col("sxq").cast("double") / lit(1e6)
    val sy = col("syq").cast("double") / lit(1e6)
    val sxx = col("sxxq").cast("double") / lit(1e6)
    val syy = col("syyq").cast("double") / lit(1e6)
    val sxy = col("sxyq").cast("double") / lit(1e6)
    val cov = nD * sxy - sx * sy
    val vx = nD * sxx - sx * sx
    val vy = nD * syy - sy * sy
    val slope = cov / vx
    m.select(col("n_terms"),
      graft.halfUp(slope, 6).as("slope"),
      graft.halfUp((sy - slope * sx) / nD, 6).as("intercept"),
      graft.halfUp(when(vx === 0.0 || vy === 0.0, lit(null).cast("double"))
        .otherwise(cov * cov / (vx * vy)), 6).as("r2"))
  }

  val queries: Map[String, Q] = Map(
    "q_text_zipf" -> ((s, d) => zipfFit(Tables.documents(s, d))),
    "q_text_readability" -> ((s, d) => readability(Tables.documents(s, d))),
    "q_dedup_exact" -> ((s, d) => dedupExact(Tables.documents(s, d))),
    "q_text_stats" -> ((s, d) => textStats(Tables.documents(s, d))),
    "q_text_tokens" -> ((s, d) => textTokens(Tables.documents(s, d))),
    "q_text_vocab_growth" -> ((s, d) => vocabGrowth(Tables.documents(s, d))),
    "q_pack_sequences" -> ((s, d) => packSequences(Tables.documents(s, d), 1024)),
    // 200-char chunks advancing by 150 (50-char overlap) — RAG prep
    "q_text_chunk" -> ((s, d) => chunkDocuments(Tables.documents(s, d))),
    // down-weight the dominant language, keep the rest at 3/4 — the
    // mixing ratios are arbitrary; the CONTRACT is determinism
    "q_sample_stratified" -> ((s, d) =>
      stratifiedSample(Tables.documents(s, d), "lang",
          Seq("en" -> 0.5), defaultRate = 0.75, salt = "mix1")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))),
    "q_shuffle_shards" -> ((s, d) =>
      shuffleShards(Tables.documents(s, d), "g9s", 16)),
    "q_mix_token_budget" -> ((s, d) =>
      tokenBudgetMix(Tables.documents(s, d), "lang", 2000L, "mixb")),
    "q_vocab_coverage" -> ((s, d) =>
      vocabCoverage(Tables.documents(s, d), 0.5)),
    // upweight the rare languages (fr hardest), web-scale en once
    "q_mix_epochs" -> ((s, d) =>
      upsampleEpochs(Tables.documents(s, d), "lang",
          Seq("en" -> 1, "fr" -> 3), defaultFactor = 2)
        .orderBy(col("doc_id"), col("epoch"))),
    // uniform 20%-per-language target: the binding (rarest) language
    // keeps everything, the dominant one downsamples hardest
    "q_mix_proportions" -> ((s, d) =>
      mixProportions(Tables.documents(s, d), "lang",
          Seq("en" -> 0.2, "de" -> 0.2, "es" -> 0.2, "fr" -> 0.2, "zh" -> 0.2),
          "mixp")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))),
    // τ=0.7, keep half the corpus: tail languages upweighted, head
    // downsampled — the multilingual pre-training mix
    "q_mix_temperature" -> ((s, d) =>
      mixTemperature(Tables.documents(s, d), "lang", 0.7, 0.5, "mixt")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))),
    "q_text_bm25" -> ((s, d) =>
      bm25(Tables.documents(s, d), Seq("spark", "vector", "hash"))),
    "q_text_tfidf" -> ((s, d) => tfidf(Tables.documents(s, d), 3)),
    "q_index_inverted" -> ((s, d) => invertedIndex(Tables.documents(s, d))),
    "q_filter_gopher" -> ((s, d) => gopherRules(Tables.documents(s, d))),
    // 98/1/1 carve, salt "cv0" — a doc's split never changes across
    // ingest batches (pure digest function of the id)
    "q_split_holdout" -> ((s, d) =>
      splitHoldout(Tables.documents(s, d), 0.98, 0.01, "cv0")),
    // 12 learned merges over the corpus vocabulary (no-oracle:
    // iterated global argmax — pinned by OperatorSemanticsSpec)
    "q_text_bpe_train" -> ((s, d) => bpeTrain(Tables.documents(s, d), 12)),
    // encode with the trained merges — the merge table is the
    // ingest-time tokenizer artifact (train once, encode many),
    // memoized per (process, dataset) like the ANN quantizers
    "q_text_bpe_encode" -> ((s, d) => bpeEncode(Tables.documents(s, d),
      graft.ProcessCache.get(s, "bpe_merges:" + d, Tables.path(d, "documents"))(
        bpeTrain(Tables.documents(s, d), 12).localCheckpoint()))),
    "q_text_ngram_lm" -> ((s, d) => ngramLmScore(Tables.documents(s, d))),
    // CCNet head/middle/tail carve over the self-trained LM's nll order
    "q_text_perplexity_buckets" -> ((s, d) =>
      perplexityBuckets(Tables.documents(s, d))),
    // top-30 corpus bigrams
    "q_text_ngram_topk" -> ((s, d) => ngramTopK(Tables.documents(s, d), 2, 30)),
    // target domain = English docs; positive dsir_w = en-like
    "q_select_dsir" -> ((s, d) =>
      dsirScore(Tables.documents(s, d), col("lang") === "en")),
    // 40 eval docs per language, salt "ev0"
    "q_sample_per_group" -> ((s, d) =>
      samplePerGroup(Tables.documents(s, d), "lang", 40, "ev0")),
    "q_sample_reservoir" -> ((s, d) =>
      reservoirSample(Tables.documents(s, d), 500, "res1")),
    // length-weighted 300-doc eval draw, salt "ws1" — A-ES without
    // replacement, bit-identical across reruns
    "q_sample_weighted" -> ((s, d) =>
      weightedSample(Tables.documents(s, d), 300, "ws1")),
    // the docs carrying the top half of each language's characters
    "q_select_topp" -> ((s, d) =>
      selectTopP(Tables.documents(s, d), 0.5)),
    // top-30 PMI collocations with pair count >= 5
    "q_text_collocations" -> ((s, d) =>
      collocations(Tables.documents(s, d), 5L, 30)),
    "q_text_entropy" -> ((s, d) => textEntropy(Tables.documents(s, d))),
    "q_corpus_health" -> ((s, d) => corpusHealth(Tables.documents(s, d))),
    "q_curation_composite" -> ((s, d) =>
      curationComposite(Tables.documents(s, d))),
    "q_text_quality" -> ((s, d) => textQuality(Tables.documents(s, d))),
    "q_text_repetition" -> ((s, d) => textRepetition(Tables.documents(s, d))),
    "q_text_lang_id" -> ((s, d) => langId(Tables.documents(s, d))),
    "q_text_fingerprint" -> ((s, d) => fingerprint(Tables.documents(s, d))),
    "q_text_pii_mask" -> ((s, d) => piiMask(Tables.documents(s, d))),
    "q_dedup_url" -> ((s, d) => dedupUrl(Tables.documents(s, d))),
  )

  private def sqlCountIn(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t IN (", ", ", ")))")

  /** DuckDB twin of [[bpeTrain]]: the N merge iterations unrolled as
    * chained MATERIALIZED CTEs (b_i = the argmax pair over vocab state
    * v_{i-1}; v_i = the greedy left-to-right merge applied via
    * list_reduce — same non-overlap semantics as the engine's
    * aggregate fold, verified on the "aaa"+(a,a) → [aa, a] shape).
    * MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, so the
    * v-chain would re-evaluate exponentially (measured 101 s inlined
    * vs 0.09 s materialized at sf0.001). This moves BPE training from
    * the spec-only tier into the hash-checked oracle tier. */
  /** The greedy left-to-right merge application as a DuckDB
    * list_reduce (same non-overlap semantics as the engine fold). */
  private def duckApplyMerge(src: String, b: String): String =
    s"""  SELECT ${if (src.startsWith("w")) "doc_id, " else "freq, "}CASE WHEN len(syms) < 2 THEN syms ELSE
       |    list_reduce(list_transform(syms, s -> [s]),
       |      (acc, x) -> CASE WHEN acc[-1] = b.p1 AND x[1] = b.p2
       |                  THEN list_slice(acc, 1, len(acc)-1) || [b.p1 || b.p2]
       |                  ELSE acc || x END) END AS syms
       |  FROM $src, $b b""".stripMargin

  /** The trainer's vocab/argmax CTE chain (v0, b1, v1 … b_n) shared by
    * both BPE oracles. */
  private def bpeMergeChain(n: Int): Seq[String] = {
    val head =
      """v0 AS MATERIALIZED (
        |  SELECT count(*)::BIGINT AS freq, string_split(w, '') AS syms
        |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
        |        FROM documents)
        |  GROUP BY w)""".stripMargin
    head +: (1 to n).flatMap { i =>
      val best =
        s"""b$i AS MATERIALIZED (
           |  SELECT pr[1] AS p1, pr[2] AS p2, sum(freq)::BIGINT AS cnt
           |  FROM (SELECT freq, unnest(list_transform(list_slice(syms, 1, len(syms)-1),
           |                (s, j) -> [s, syms[j+1]])) AS pr
           |        FROM v${i - 1} WHERE len(syms) >= 2)
           |  GROUP BY 1, 2 ORDER BY cnt DESC, p1, p2 LIMIT 1)""".stripMargin
      val apply =
        if (i == n) Nil
        else Seq(s"v$i AS MATERIALIZED (\n${duckApplyMerge(s"v${i - 1}", s"b$i")})")
      best +: apply
    }
  }

  private def bpeOracleSql(n: Int): String = {
    val tail = (1 to n).map { i =>
      s"SELECT $i::BIGINT AS rank, p1, p2, p1 || p2 AS merged, cnt AS pair_count FROM b$i"
    }.mkString("\nUNION ALL ")
    "WITH " + bpeMergeChain(n).mkString(",\n") +
      s"\nSELECT * FROM (\n$tail) ORDER BY rank"
  }

  /** DuckDB twin of [[bpeEncode]] over the [[bpeTrain]]-learned table:
    * the trainer chain re-derives b1..b_n, then the SAME n merges
    * unroll over the per-document word instances (w0 … w_n; DuckDB's
    * list_reduce has no initial-value form, so the fold over merges
    * unrolls instead). Wordless documents keep (0, 0) via the left
    * join, matching the engine's fold-over-empty behavior. */
  private def bpeEncodeOracleSql(n: Int): String = {
    val w0 =
      """w0 AS MATERIALIZED (
        |  SELECT doc_id, string_split(w, '') AS syms
        |  FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
        |        FROM documents))""".stripMargin
    val applies = (1 to n).map { i =>
      s"w$i AS MATERIALIZED (\n${duckApplyMerge(s"w${i - 1}", s"b$i")})"
    }
    "WITH " + (bpeMergeChain(n) ++ (w0 +: applies)).mkString(",\n") +
      s"""
         |SELECT d.doc_id, coalesce(t.n_words, 0) AS n_words,
         |       coalesce(t.n_tokens, 0) AS n_tokens
         |FROM documents d LEFT JOIN (
         |  SELECT doc_id, count(*)::BIGINT AS n_words,
         |         sum(len(syms))::BIGINT AS n_tokens
         |  FROM w$n GROUP BY doc_id) t USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    // same census total order and top-K cut, same 1e-6-grid quantized
    // ln moments as order-free BIGINT sums, same fixed OLS chain
    "q_text_zipf" ->
      """WITH census AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS freq
        |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        |        FROM documents)
        |  GROUP BY term ORDER BY freq DESC, term LIMIT 200),
        |rk AS (
        |  SELECT ln(CAST(row_number() OVER (ORDER BY freq DESC, term) AS DOUBLE)) AS x,
        |         ln(CAST(freq AS DOUBLE)) AS y
        |  FROM census),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_terms,
        |         CAST(sum(CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sx,
        |         CAST(sum(CAST(floor(y * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sy,
        |         CAST(sum(CAST(floor(x * x * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sxx,
        |         CAST(sum(CAST(floor(y * y * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS syy,
        |         CAST(sum(CAST(floor(x * y * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sxy
        |  FROM rk)
        |SELECT n_terms,
        |       floor((CAST(n_terms AS DOUBLE) * sxy - sx * sy)
        |             / (CAST(n_terms AS DOUBLE) * sxx - sx * sx)
        |             * 1000000.0 + 0.5) / 1000000.0 AS slope,
        |       floor((sy - (CAST(n_terms AS DOUBLE) * sxy - sx * sy)
        |                   / (CAST(n_terms AS DOUBLE) * sxx - sx * sx) * sx)
        |             / CAST(n_terms AS DOUBLE)
        |             * 1000000.0 + 0.5) / 1000000.0 AS intercept,
        |       floor((CASE WHEN CAST(n_terms AS DOUBLE) * sxx - sx * sx = 0.0
        |                     OR CAST(n_terms AS DOUBLE) * syy - sy * sy = 0.0
        |              THEN NULL
        |              ELSE (CAST(n_terms AS DOUBLE) * sxy - sx * sy)
        |                   * (CAST(n_terms AS DOUBLE) * sxy - sx * sy)
        |                   / ((CAST(n_terms AS DOUBLE) * sxx - sx * sx)
        |                      * (CAST(n_terms AS DOUBLE) * syy - sy * sy)) END)
        |             * 1000000.0 + 0.5) / 1000000.0 AS r2
        |FROM m""".stripMargin,
    // generate_series is INCLUSIVE (upper bound = last chunk index);
    // unnest-in-SELECT because the table-function form can't take
    // column parameters (same convention as the q_embed oracles)
    "q_text_chunk" ->
      """WITH c AS (
        |  SELECT doc_id, text,
        |         CAST(unnest(generate_series(0,
        |           CAST(ceil(greatest(length(text) - 200, 0) / 150.0) AS BIGINT))) AS INT) AS i
        |  FROM documents)
        |SELECT doc_id, i AS chunk_idx,
        |       CAST(length(substr(text, 1 + i * 150, 200)) AS BIGINT) AS chunk_chars,
        |       md5(substr(text, 1 + i * 150, 200)) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "q_text_bpe_train" -> bpeOracleSql(12),
    "q_text_bpe_encode" -> bpeEncodeOracleSql(12),
    "q_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY sha256(text) ORDER BY keep_id""".stripMargin,
    // the q_filter_gopher, q_text_entropy, and q_text_lang_id oracle
    // stages composed into the one-plan curation lifecycle; raw-mwl
    // gate + rounded-mwl output keeps the q_filter_gopher convention
    // (DuckDB resolves the CASE's `mwl` to the input column, matching
    // the engine's raw-valued rule)
    "q_curation_composite" ->
      s"""WITH base AS (SELECT doc_id, source, text FROM documents
         |              WHERE length(text) > 0),
         |t AS (SELECT doc_id, source, text,
         |        regexp_split_to_array(trim(text), '\\s+') AS toks
         |      FROM base),
         |m AS (SELECT doc_id, source, text, len(toks) AS n_words,
         |        CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS DOUBLE)
         |          / CAST(len(toks) AS DOUBLE) AS mwl,
         |        len(list_filter(toks, x -> x IN ('the','and','of','to','in','is','a'))) AS n_stop,
         |        CAST(len(list_filter(toks, x -> regexp_matches(x, '[0-9]'))) AS DOUBLE)
         |          / CAST(len(toks) AS DOUBLE) AS digit_frac,
         |        CAST(len(regexp_extract_all(text, '#'))
         |             + len(regexp_extract_all(text, '\\.\\.\\.')) AS DOUBLE)
         |          / CAST(len(toks) AS DOUBLE) AS sym_ratio
         |      FROM t),
         |f AS (SELECT doc_id, source, text,
         |        CAST(n_words AS BIGINT) AS n_words, round(mwl, 4) AS mwl,
         |        CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END
         |        * CASE WHEN mwl BETWEEN 3.0 AND 10.0 THEN 1 ELSE 0 END
         |        * CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END
         |        * CASE WHEN sym_ratio <= 0.1 THEN 1 ELSE 0 END
         |        * CASE WHEN digit_frac <= 0.3 THEN 1 ELSE 0 END AS keep
         |      FROM m),
         |s AS (SELECT doc_id, source, n_words, mwl, keep,
         |        round(greatest(0.0, ln(length(text)) - list_aggregate(
         |          list_transform(list_sort(list_distinct(string_split(text, ''))),
         |            c -> CAST(len(list_filter(string_split(text, ''), x -> x = c)) AS DOUBLE)
         |                 * ln(CAST(len(list_filter(string_split(text, ''), x -> x = c)) AS DOUBLE))),
         |          'sum') / length(text)), 6) AS char_entropy,
         |        CASE WHEN greatest(${sqlCountIn(EnStops)}, ${sqlCountIn(DeStops)},
         |                           ${sqlCountIn(EsStops)}, ${sqlCountIn(FrStops)}) = 0 THEN 'und'
         |             WHEN ${sqlCountIn(EnStops)} >= greatest(${sqlCountIn(DeStops)},
         |                    ${sqlCountIn(EsStops)}, ${sqlCountIn(FrStops)}) THEN 'en'
         |             WHEN ${sqlCountIn(DeStops)} >= greatest(${sqlCountIn(EsStops)},
         |                    ${sqlCountIn(FrStops)}) THEN 'de'
         |             WHEN ${sqlCountIn(EsStops)} >= ${sqlCountIn(FrStops)} THEN 'es'
         |             ELSE 'fr' END AS predicted,
         |        min(doc_id) OVER (PARTITION BY sha256(text)) AS canon
         |      FROM f)
         |SELECT doc_id, source, predicted, n_words, mwl, char_entropy
         |FROM s
         |WHERE doc_id = canon AND keep = 1 AND char_entropy BETWEEN 2.0 AND 6.0
         |ORDER BY doc_id""".stripMargin,
    "q_text_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |       round(avg(length(text)), 4) AS avg_chars,
        |       round(avg(len(regexp_split_to_array(trim(text), '\s+'))), 4) AS avg_tokens,
        |       CAST(max(length(text)) AS INT) AS max_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // same IEEE chain as the engine: every operand is DOUBLE before
    // any arithmetic (tf/dl/N/df all cast), contributions summed
    // left-to-right, ln = natural log in both engines
    "q_text_bm25" ->
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
        |  FROM tf)
        |SELECT doc_id, round(
        |    ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0) * (tf0 * 2.2)
        |      / (tf0 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
        |  + ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0) * (tf1 * 2.2)
        |      / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
        |  + ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0) * (tf2 * 2.2)
        |      / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)), 4) AS score
        |FROM tf, st
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // every per-doc metric recomputed with the same expression twins
    // (entropy in the engine's run-length chain, see q_text_entropy);
    // token/entropy means CASE-null empties out, avg skips NULLs in
    // both engines; avg-of-entropy rounds AFTER the avg on both sides
    "q_corpus_health" ->
      """SELECT source, count(*) AS n_docs,
        |       round(1.0 - CAST(count(DISTINCT sha256(text)) AS DOUBLE)
        |                   / CAST(count(*) AS DOUBLE), 6) AS dup_rate,
        |       round(avg(CASE WHEN length(text) > 0 THEN
        |         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) END), 4) AS avg_tokens,
        |       round(avg(CASE WHEN length(text) > 0 THEN
        |         greatest(0.0, ln(length(text)) - list_aggregate(
        |           list_transform(list_sort(list_distinct(string_split(text, ''))),
        |             c -> CAST(len(list_filter(string_split(text, ''), x -> x = c)) AS DOUBLE)
        |                  * ln(CAST(len(list_filter(string_split(text, ''), x -> x = c)) AS DOUBLE))),
        |           'sum') / length(text)) END), 6) AS avg_entropy,
        |       round(avg(CAST(length(text) < 100 AS DOUBLE)), 6) AS pct_short,
        |       round(avg(CAST(length(text) = 0 AS DOUBLE)), 6) AS pct_empty
        |FROM documents
        |GROUP BY source ORDER BY source""".stripMargin,
    // same rate chain (counts → pow-weights → normalized → round 6)
    // and the same digest keep key; pow ulp differences die at round 6
    "q_mix_temperature" ->
      """WITH c AS (SELECT lang, CAST(count(*) AS DOUBLE) AS cnt FROM documents GROUP BY 1),
        |t AS (SELECT sum(cnt) AS n FROM c),
        |w AS (SELECT lang, cnt, n, pow(cnt / n, 0.7) AS pw FROM c CROSS JOIN t),
        |z AS (SELECT sum(pw) AS z FROM w),
        |r AS (SELECT lang, round(least(1.0, n * 0.5 * (pw / z) / cnt), 6) AS rate
        |      FROM w CROSS JOIN z)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN r USING (lang)
        |WHERE r.rate >= 1.0
        |   OR substr(sha256(CAST(d.doc_id AS VARCHAR) || ':mixt'), 1, 8)
        |      < printf('%08x', CAST(least(floor(r.rate * 4294967296.0),
        |                                  4294967295) AS BIGINT))
        |ORDER BY doc_id""".stripMargin,
    // IDENTICAL chain to the engine's run-length form: ln(L) − Σ
    // n_c·ln(n_c)/L with the terms summed in SORTED char order (both
    // engines binary-collate), greatest(0,·) on both sides; DuckDB
    // string_split has no trailing "" so no remove
    "q_text_entropy" ->
      """SELECT doc_id,
        |       round(greatest(0.0, ln(length(text)) - list_aggregate(
        |         list_transform(list_sort(list_distinct(string_split(text, ''))),
        |           c -> CAST(len(list_filter(string_split(text, ''), x -> x = c)) AS DOUBLE)
        |                * ln(CAST(len(list_filter(string_split(text, ''), x -> x = c)) AS DOUBLE))),
        |         'sum') / length(text)), 6) AS char_entropy
        |FROM documents WHERE length(text) > 0 ORDER BY doc_id""".stripMargin,
    // identical model + scoring chain: bigrams via list_zip against the
    // tail slice (NULL-padded tail filtered out = Spark's slice bound),
    // context counts and successor vocab re-aggregated from c12, same
    // add-α operand order inside ln
    "q_text_ngram_lm" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
        |           FROM documents WHERE len(string_split_regex(trim(lower(text)), '\s+')) >= 2),
        |b AS (SELECT doc_id, struct_extract(z, 1) AS w1, struct_extract(z, 2) AS w2
        |      FROM (SELECT doc_id, unnest(list_zip(toks, toks[2:])) AS z FROM t)
        |      WHERE struct_extract(z, 2) IS NOT NULL),
        |c12 AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY 1, 2),
        |c1 AS (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT w2) AS DOUBLE) AS vv FROM c12)
        |SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |       round(-avg(ln((c12.c12 + 0.4) / (c1.c1 + 0.4 * v.vv))), 6) AS nll
        |FROM b JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // same model + scoring chain as q_text_ngram_lm, then the rank
    // carve replayed with row_number/count OVER () — integer
    // arithmetic over the 6-dp nll, no interpolated thresholds
    "q_text_perplexity_buckets" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
        |           FROM documents WHERE len(string_split_regex(trim(lower(text)), '\s+')) >= 2),
        |b AS (SELECT doc_id, struct_extract(z, 1) AS w1, struct_extract(z, 2) AS w2
        |      FROM (SELECT doc_id, unnest(list_zip(toks, toks[2:])) AS z FROM t)
        |      WHERE struct_extract(z, 2) IS NOT NULL),
        |c12 AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY 1, 2),
        |c1 AS (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT w2) AS DOUBLE) AS vv FROM c12),
        |score AS (
        |  SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |         round(-avg(ln((c12.c12 + 0.4) / (c1.c1 + 0.4 * v.vv))), 6) AS nll
        |  FROM b JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
        |  GROUP BY 1),
        |r AS (SELECT *,
        |        CAST(row_number() OVER (ORDER BY nll, doc_id) AS BIGINT) AS rn,
        |        CAST(count(*) OVER () AS BIGINT) AS n
        |      FROM score)
        |SELECT doc_id, n_bigrams, nll, rn,
        |       CASE WHEN rn * 3 <= n THEN 'head'
        |            WHEN rn * 3 <= n * 2 THEN 'middle'
        |            ELSE 'tail' END AS bucket
        |FROM r ORDER BY doc_id""".stripMargin,
    "q_text_ngram_topk" ->
      """WITH t AS (SELECT string_split_regex(trim(lower(text)), '\s+') AS toks
        |           FROM documents
        |           WHERE len(string_split_regex(trim(lower(text)), '\s+')) >= 2),
        |g AS (SELECT struct_extract(z, 1) || ' ' || struct_extract(z, 2) AS gram
        |      FROM (SELECT unnest(list_zip(toks, toks[2:])) AS z FROM t)
        |      WHERE struct_extract(z, 2) IS NOT NULL)
        |SELECT gram, CAST(count(*) AS BIGINT) AS cnt
        |FROM g GROUP BY gram ORDER BY cnt DESC, gram LIMIT 30""".stripMargin,
    // the SAME bigram table feeds both models (tgt flag), unseen
    // target bigrams coalesce to 0, dsir_w averages the per-bigram
    // DIFFERENCE (one avg, not a difference of rounded means)
    "q_select_dsir" ->
      """WITH t AS (SELECT doc_id, lang = 'en' AS tgt,
        |                  string_split_regex(trim(lower(text)), '\s+') AS toks
        |           FROM documents
        |           WHERE len(string_split_regex(trim(lower(text)), '\s+')) >= 2),
        |b AS (SELECT doc_id, tgt, struct_extract(z, 1) AS w1, struct_extract(z, 2) AS w2
        |      FROM (SELECT doc_id, tgt, unnest(list_zip(toks, toks[2:])) AS z FROM t)
        |      WHERE struct_extract(z, 2) IS NOT NULL),
        |c12c AS (SELECT w1, w2, count(*) AS c12c FROM b GROUP BY 1, 2),
        |c1c AS (SELECT w1, sum(c12c) AS c1c FROM c12c GROUP BY 1),
        |vc AS (SELECT CAST(count(DISTINCT w2) AS DOUBLE) AS vc FROM c12c),
        |c12t AS (SELECT w1, w2, count(*) AS c12t FROM b WHERE tgt GROUP BY 1, 2),
        |c1t AS (SELECT w1, sum(c12t) AS c1t FROM c12t GROUP BY 1),
        |vt AS (SELECT CAST(count(DISTINCT w2) AS DOUBLE) AS vt FROM c12t)
        |SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |       round(-avg(ln((coalesce(c12t.c12t, 0) + 0.4) / (coalesce(c1t.c1t, 0) + 0.4 * vt.vt))), 6) AS nll_target,
        |       round(-avg(ln((c12c.c12c + 0.4) / (c1c.c1c + 0.4 * vc.vc))), 6) AS nll_corpus,
        |       round(avg(ln((coalesce(c12t.c12t, 0) + 0.4) / (coalesce(c1t.c1t, 0) + 0.4 * vt.vt))
        |                 - ln((c12c.c12c + 0.4) / (c1c.c1c + 0.4 * vc.vc))), 6) AS dsir_w
        |FROM b JOIN c12c USING (w1, w2) JOIN c1c USING (w1)
        |       LEFT JOIN c12t USING (w1, w2) LEFT JOIN c1t USING (w1)
        |       CROSS JOIN vc CROSS JOIN vt
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // same global digest order, same (key, doc_id) tie, same prefix-k
    "q_sample_reservoir" ->
      """SELECT doc_id, lang, sample_key FROM (
        |  SELECT doc_id, lang,
        |         substr(sha256(CAST(doc_id AS VARCHAR) || ':res1'), 1, 8)
        |           AS sample_key
        |  FROM documents
        |  ORDER BY sample_key, doc_id LIMIT 500)
        |ORDER BY doc_id""".stripMargin,
    // same three regex censuses, same clamp, same fixed-order score
    // chains rendered half-up at 4 dp
    "q_text_readability" ->
      """WITH c AS (
        |  SELECT doc_id,
        |         CAST(greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')), 1) AS BIGINT) AS n_words,
        |         CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS n_sentences,
        |         CAST(greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS BIGINT) AS n_syllables
        |  FROM documents)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |       floor((206.835 - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |              - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)))
        |             * 10000.0 + 0.5) / 10000.0 AS flesch,
        |       floor((0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |              + 11.8 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)) - 15.59)
        |             * 10000.0 + 0.5) / 10000.0 AS fk_grade
        |FROM c ORDER BY doc_id""".stripMargin,
    // same digest-derived uniform, same ln(u)/w rank, same (key, id)
    // tie order; the rank key itself is never emitted (libm ulp)
    "q_sample_weighted" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |         ln((('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || ':ws1'), 1, 8))::BIGINT
        |             + 1.0) / 4294967296.0) / CAST(n_chars AS DOUBLE) AS es_key
        |  FROM documents WHERE n_chars > 0
        |  ORDER BY es_key DESC, doc_id LIMIT 300)
        |ORDER BY doc_id""".stripMargin,
    // same (n_chars DESC, doc_id) total order, same integer cumsum
    // against the same floor'd threshold, straddler kept
    "q_select_topp" ->
      """WITH r AS (
        |  SELECT doc_id, lang, n_chars,
        |         CAST(sum(n_chars) OVER (PARTITION BY lang
        |           ORDER BY n_chars DESC, doc_id) AS BIGINT) AS cum_chars,
        |         CAST(sum(n_chars) OVER (PARTITION BY lang) AS BIGINT) AS total
        |  FROM documents)
        |SELECT doc_id, lang, n_chars, cum_chars,
        |       floor(CAST(cum_chars AS DOUBLE) / CAST(total AS DOUBLE)
        |             * 1000000.0 + 0.5) / 1000000.0 AS cum_share
        |FROM r
        |WHERE CAST(cum_chars - n_chars AS DOUBLE)
        |      < floor(CAST(total AS DOUBLE) * 0.5e0)
        |ORDER BY doc_id""".stripMargin,
    // same tokenizer, same fixed-order double chain for the PMI ratio
    // ((c12*N1*N1)/(N2*c1*c2)), same (ratio DESC, w1, w2) top-k
    "q_text_collocations" ->
      """WITH t AS (
        |  SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
        |uni AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(t) AS w FROM t) GROUP BY w),
        |tot AS (
        |  SELECT CAST(sum(len(t)) AS BIGINT) AS n1,
        |         CAST(sum(greatest(len(t) - 1, 0)) AS BIGINT) AS n2 FROM t),
        |pairs AS (
        |  SELECT pr[1] AS w1, pr[2] AS w2, CAST(count(*) AS BIGINT) AS c12
        |  FROM (SELECT unnest(list_transform(list_slice(t, 1, len(t) - 1),
        |                 (s, j) -> [s, t[j + 1]])) AS pr
        |        FROM t WHERE len(t) >= 2)
        |  GROUP BY 1, 2 HAVING count(*) >= 5),
        |scored AS (
        |  SELECT p.w1, p.w2, p.c12, u1.c AS c1, u2.c AS c2,
        |         (CAST(p.c12 AS DOUBLE) * CAST(tot.n1 AS DOUBLE) * CAST(tot.n1 AS DOUBLE))
        |         / (CAST(tot.n2 AS DOUBLE) * CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE))
        |           AS pmi_ratio
        |  FROM pairs p
        |  JOIN uni u1 ON p.w1 = u1.w
        |  JOIN uni u2 ON p.w2 = u2.w
        |  CROSS JOIN tot)
        |SELECT w1, w2, c12, c1, c2,
        |       floor(ln(pmi_ratio) * 1000000.0 + 0.5) / 1000000.0 AS pmi
        |FROM (SELECT * FROM scored ORDER BY pmi_ratio DESC, w1, w2 LIMIT 30)
        |ORDER BY w1, w2""".stripMargin,
    // same digest rank within stratum, same (key, doc_id) tie order
    "q_sample_per_group" ->
      """SELECT doc_id, lang, rk FROM (
        |  SELECT doc_id, lang,
        |         CAST(row_number() OVER (PARTITION BY lang
        |           ORDER BY substr(sha256(CAST(doc_id AS VARCHAR) || ':ev0'), 1, 8),
        |                    doc_id) AS BIGINT) AS rk
        |  FROM documents)
        |WHERE rk <= 40 ORDER BY doc_id""".stripMargin,
    // same integer-div checkpoints, same first-seen-rank type curve
    "q_text_vocab_growth" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |r AS (SELECT doc_id,
        |             CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS r
        |      FROM documents),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |spine AS (
        |  SELECT CAST(i AS BIGINT) AS i, (n.n * i + 9) // 10 AS k
        |  FROM generate_series(1, 10) t(i), n),
        |pd AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS nt FROM d),
        |cum AS (
        |  SELECT r.r,
        |         CAST(SUM(pd.nt) OVER (ORDER BY r.r
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |           AS cumtok
        |  FROM pd JOIN r USING (doc_id)),
        |fs AS (
        |  SELECT u.tok, MIN(u.r) AS fr
        |  FROM (SELECT r.r, unnest(d.t) AS tok
        |        FROM d JOIN r USING (doc_id)) u
        |  GROUP BY 1),
        |ty AS (
        |  SELECT s.i, s.k, CAST(count(*) AS BIGINT) AS n_types
        |  FROM fs, spine s WHERE fs.fr <= s.k GROUP BY 1, 2)
        |SELECT s.i, s.k, c.cumtok AS n_tokens, ty.n_types,
        |       floor((CAST(ty.n_types AS DOUBLE) / CAST(c.cumtok AS DOUBLE))
        |             * 1000000.0 + 0.5) / 1000000.0 AS ttr
        |FROM spine s
        |JOIN cum c ON c.r = s.k
        |JOIN ty ON ty.i = s.i AND ty.k = s.k
        |ORDER BY s.i""".stripMargin,
    "q_text_tokens" ->
      """SELECT doc_id,
        |       CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS ws_tokens,
        |       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    // thresholds: floor(rate·2^32) as 8-hex — 0.5→'80000000', 0.75→'c0000000'
    // per-stratum window sum over the md5 order = the engine's
    // distributed grouped prefix sum; same keep rule (starts under
    // budget)
    "q_mix_token_budget" ->
      """SELECT doc_id, stratum, n_tok, CAST(cum AS BIGINT) AS cum FROM (
        |  SELECT doc_id, lang AS stratum, n_tok,
        |         sum(n_tok) OVER (PARTITION BY lang
        |                          ORDER BY skey, doc_id) AS cum
        |  FROM (SELECT doc_id, lang,
        |               CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok,
        |               md5(concat('mixb', CAST(doc_id AS VARCHAR))) AS skey
        |        FROM documents))
        |WHERE cum - n_tok < 2000
        |ORDER BY stratum, cum, doc_id""".stripMargin,
    // global window sum over the (cnt desc, token) order = the
    // engine's distributed global prefix sum; same start-under-target
    // keep rule against the corpus token total
    "q_vocab_coverage" ->
      """WITH counts AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |        FROM documents)
        |  GROUP BY token)
        |SELECT token, cnt, CAST(cum AS BIGINT) AS cum FROM (
        |  SELECT token, cnt,
        |         sum(cnt) OVER (ORDER BY cnt DESC, token) AS cum,
        |         sum(cnt) OVER () AS t
        |  FROM counts)
        |WHERE cum - cnt < t * 0.5
        |ORDER BY cnt DESC, token""".stripMargin,
    // constant-bound generate_series + factor filter (installed DuckDB
    // can't make the series lateral over a column)
    "q_mix_epochs" ->
      """SELECT doc_id, lang, CAST(e AS INT) AS epoch
        |FROM documents, generate_series(1, 3) AS g(e)
        |WHERE e <= (CASE lang WHEN 'en' THEN 1 WHEN 'fr' THEN 3 ELSE 2 END)
        |ORDER BY doc_id, epoch""".stripMargin,
    // identical IEEE double chain (cnt/target, min, target*T/cnt) in
    // both engines — every literal cast to DOUBLE so DuckDB's DECIMAL
    // arithmetic never enters; printf('%08x') mirrors format_string
    "q_mix_proportions" ->
      """WITH counts AS (
        |  SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
        |rates AS (
        |  SELECT lang,
        |         CAST(0.2 AS DOUBLE)
        |           * (SELECT min(cnt / CAST(0.2 AS DOUBLE)) FROM counts)
        |           / cnt AS rate
        |  FROM counts)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN rates r USING (lang)
        |WHERE r.rate >= 1.0
        |   OR substr(sha256(CAST(d.doc_id AS VARCHAR) || ':mixp'), 1, 8)
        |      < printf('%08x', CAST(least(floor(r.rate * 4294967296.0),
        |                                  4294967295) AS BIGINT))
        |ORDER BY d.doc_id""".stripMargin,
    // row_number over the md5 order = the engine's distributed global
    // row number; shard arithmetic recomputed identically
    "q_shuffle_shards" ->
      """WITH k AS (SELECT doc_id,
        |                  md5(concat('g9s', CAST(doc_id AS VARCHAR))) AS skey
        |           FROM documents),
        |     p AS (SELECT doc_id, skey,
        |                  row_number() OVER (ORDER BY skey, doc_id) AS pos
        |           FROM k)
        |SELECT p.doc_id, p.skey, CAST(p.pos AS BIGINT) AS pos,
        |       CAST(floor((p.pos - 1) / ceil((SELECT count(*) FROM k) / 16.0)) AS INT) AS shard
        |FROM p ORDER BY pos""".stripMargin,
    // identical tf·ln(N/df) chain: tf and df both DOUBLE before the
    // division, rank on the UNROUNDED score with the term tiebreak
    "q_text_tfidf" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        |             FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
        |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
        |s AS (SELECT doc_id, term,
        |        CAST(tf AS DOUBLE) * ln(n / df) AS raw,
        |        row_number() OVER (PARTITION BY doc_id
        |          ORDER BY CAST(tf AS DOUBLE) * ln(n / df) DESC, term) AS rk
        |      FROM tf JOIN df USING (term) CROSS JOIN n)
        |SELECT doc_id, term, round(raw, 4) AS tfidf, CAST(rk AS BIGINT) AS rk
        |FROM s WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    "q_index_inverted" ->
      """WITH p AS (SELECT DISTINCT doc_id, term
        |           FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        |                 FROM documents))
        |SELECT term, CAST(count(*) AS BIGINT) AS df,
        |       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
        |FROM p GROUP BY term HAVING count(*) <= 100000
        |ORDER BY term""".stripMargin,
    // twin expressions per rule; every ratio divides by the token
    // count as DOUBLE, rule bounds compare the UNROUNDED values
    "q_filter_gopher" ->
      """WITH t AS (SELECT doc_id, text,
        |             regexp_split_to_array(trim(text), '\s+') AS toks
        |           FROM documents),
        |m AS (SELECT doc_id, len(toks) AS n_words,
        |        CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS DOUBLE)
        |          / CAST(len(toks) AS DOUBLE) AS mwl,
        |        len(list_filter(toks, x -> x IN ('the','and','of','to','in','is','a'))) AS n_stop,
        |        CAST(len(list_filter(toks, x -> regexp_matches(x, '[0-9]'))) AS DOUBLE)
        |          / CAST(len(toks) AS DOUBLE) AS digit_frac,
        |        CAST(len(regexp_extract_all(text, '#'))
        |             + len(regexp_extract_all(text, '\.\.\.')) AS DOUBLE)
        |          / CAST(len(toks) AS DOUBLE) AS sym_ratio
        |      FROM t),
        |f AS (SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, round(mwl, 4) AS mwl,
        |        CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS r_nwords,
        |        CASE WHEN mwl BETWEEN 3.0 AND 10.0 THEN 1 ELSE 0 END AS r_mwl,
        |        CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS r_stop,
        |        CASE WHEN sym_ratio <= 0.1 THEN 1 ELSE 0 END AS r_symbol,
        |        CASE WHEN digit_frac <= 0.3 THEN 1 ELSE 0 END AS r_digit
        |      FROM m)
        |SELECT doc_id, n_words, mwl, r_nwords, r_mwl, r_stop, r_symbol, r_digit,
        |       r_nwords * r_mwl * r_stop * r_symbol * r_digit AS keep
        |FROM f ORDER BY doc_id""".stripMargin,
    "q_split_holdout" ->
      s"""SELECT doc_id,
         |       CASE WHEN substr(sha256(CAST(doc_id AS VARCHAR) || ':cv0'), 1, 8)
         |                 < '${hexThreshold(0.98)}' THEN 'train'
         |            WHEN substr(sha256(CAST(doc_id AS VARCHAR) || ':cv0'), 1, 8)
         |                 < '${hexThreshold(0.99)}' THEN 'val'
         |            ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_sample_stratified" ->
      """SELECT doc_id, lang FROM documents
        |WHERE substr(sha256(CAST(doc_id AS VARCHAR) || ':mix1'), 1, 8)
        |      < CASE WHEN lang = 'en' THEN '80000000' ELSE 'c0000000' END
        |ORDER BY doc_id""".stripMargin,
    // single ntile-free window sum — the oracle form of the engine's
    // distributed two-level prefix sum
    "q_pack_sequences" ->
      """SELECT doc_id, n_tok, CAST((cum - n_tok) // 1024 AS BIGINT) AS bin
        |FROM (SELECT doc_id, n_tok, sum(n_tok) OVER (ORDER BY doc_id) AS cum
        |      FROM (SELECT doc_id,
        |                   CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok
        |            FROM documents))
        |ORDER BY doc_id""".stripMargin,
    "q_text_quality" ->
      s"""SELECT doc_id,
         |       CAST(length(text) AS BIGINT) AS n_chars,
         |       CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
         |       round(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) * 1.0
         |             / greatest(length(text), 1), 4) AS punct_ratio,
         |       round(${sqlCountIn(EnStops)} * 1.0
         |             / greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1), 4) AS stopword_ratio,
         |       (length(text) >= 50
         |        AND len(regexp_split_to_array(trim(text), '\\s+')) >= 10
         |        AND round(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) * 1.0
         |                  / greatest(length(text), 1), 4) < 0.3) AS keep
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, len(t) AS n, len(list_distinct(t)) AS nd,
        |         (SELECT max(c) FROM (SELECT count(*) AS c
        |                              FROM unnest(t) AS u(tok) GROUP BY tok)) AS topc,
        |         CASE WHEN len(t) >= 2
        |              THEN len(list_distinct(list_transform(range(1, len(t)),
        |                     i -> t[i] || ' ' || t[i+1]))) ELSE 1 END AS nd2,
        |         CASE WHEN len(t) >= 2 THEN len(t) - 1 ELSE 1 END AS n2
        |  FROM toks)
        |SELECT doc_id, n AS n_tokens,
        |       round(1.0 - 1.0 * nd / n, 4) AS dup_word_frac,
        |       round(1.0 * topc / n, 4) AS top_token_frac,
        |       round(1.0 - 1.0 * nd2 / n2, 4) AS dup_2gram_frac,
        |       (1.0 - 1.0 * nd / n <= 0.6 AND 1.0 * topc / n <= 0.12
        |        AND 1.0 - 1.0 * nd2 / n2 <= 0.1) AS keep
        |FROM m ORDER BY doc_id""".stripMargin,
    "q_text_pii_mask" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |         'user' || doc_id || '@' || source || '.com or 555-'
        |           || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' '
        |           || substring(text, 1, 40) AS r
        |  FROM documents)
        |SELECT doc_id,
        |       regexp_replace(
        |         regexp_replace(r, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |                        '[EMAIL]', 'g'),
        |         '\b[0-9]{3}-[0-9]{4}\b', '[PHONE]', 'g') AS masked,
        |       CAST(len(regexp_extract_all(r, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |       CAST(len(regexp_extract_all(r, '\b[0-9]{3}-[0-9]{4}\b')) AS BIGINT) AS n_phones
        |FROM raw ORDER BY doc_id""".stripMargin,
    "q_dedup_url" ->
      """WITH u AS (
        |  SELECT doc_id,
        |         'HTTPS://WWW.' || upper(source) || '.Example.com/Articles/'
        |           || CAST(doc_id % 7 AS VARCHAR) || '/?utm_source=feed&lang=' || lang AS url
        |  FROM documents)
        |SELECT regexp_replace(regexp_replace(regexp_replace(lower(url),
        |         '^https?://(www\.)?', ''), '\?.*$', ''), '/+$', '') AS canonical_url,
        |       min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_docs
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_text_lang_id" ->
      s"""WITH scored AS (
         |  SELECT doc_id, lang,
         |         ${sqlCountIn(EnStops)} AS s_en,
         |         ${sqlCountIn(DeStops)} AS s_de,
         |         ${sqlCountIn(EsStops)} AS s_es,
         |         ${sqlCountIn(FrStops)} AS s_fr
         |  FROM documents)
         |SELECT doc_id, lang,
         |       CASE WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 'und'
         |            WHEN s_en >= greatest(s_de, s_es, s_fr) THEN 'en'
         |            WHEN s_de >= greatest(s_es, s_fr) THEN 'de'
         |            WHEN s_es >= s_fr THEN 'es'
         |            ELSE 'fr' END AS predicted
         |FROM scored ORDER BY doc_id""".stripMargin,
  )
}
