package graft.operators

import graft.{halfUp, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Climate-pipeline composites: the reference's semantic core,
  * re-expressed as lazy column expressions so Catalyst plans one job
  * where the reference materialized per stage.
  *
  * Reference semantics covered here:
  *  - compound (year, month) time-range predicate
  *    (pipelines/precipitation_pipeline.py:66-70, temperature_pipeline.py:58-61)
  *  - year/month derivation (precipitation_pipeline.py:131-132)
  *  - monthly group aggregation — the reference's central groupby
  *    (precipitation_pipeline.py:134-141)
  *  - grid-resolution inference: min gap between consecutive sorted
  *    distinct coordinates, with a default fallback
  *    (precipitation_pipeline.py:170-182)
  *
  * Scale posture: the time filter over a raw timestamp is a plain
  * range predicate so it reaches parquet PushedFilters (row-group
  * skipping — see timestampRange); the monthly aggregation is a hash
  * aggregate with map-side partials; resolution inference never
  * leaves the cluster (no driver round-trip — the inferred scalar
  * flows through a 1-row aggregate).
  */
object Climate {

  /** The reference's exact boolean tree: rows within the inclusive
    * (y0,m0)..(y1,m1) month range (precipitation_pipeline.py:66-70).
    * Use this form ONLY when the inputs are already integer year/month
    * columns (e.g. hive partition columns, where it prunes partitions);
    * over a raw timestamp use [[timestampRange]] — a function-wrapped
    * predicate (year(ts) > …) cannot reach parquet PushedFilters.
    */
  def timeRange(y: Column, m: Column, y0: Int, m0: Int, y1: Int, m1: Int): Column =
    ((y > y0) || (y === y0 && m >= m0)) && ((y < y1) || (y === y1 && m <= m1))

  /** Identical month-range semantics expressed as a raw range on the
    * timestamp column itself: [first day of (y0,m0), first day of the
    * month AFTER (y1,m1)). The literals fold to timestamp constants, so
    * the predicate pushes into the parquet scan (row-group min/max
    * skipping) — at 100 TB this prunes the largest table's scan instead
    * of decoding every row (asserted in PlanSpec).
    */
  def timestampRange(ts: Column, y0: Int, m0: Int, y1: Int, m1: Int): Column = {
    val (ny, nm) = if (m1 == 12) (y1 + 1, 1) else (y1, m1 + 1)
    ts >= lit(f"$y0%04d-$m0%02d-01").cast("timestamp") &&
      ts < lit(f"$ny%04d-$nm%02d-01").cast("timestamp")
  }

  /** Derived year/month columns (precipitation_pipeline.py:131-132). */
  def withYearMonth(df: DataFrame, ts: String): DataFrame =
    df.withColumn("year", year(col(ts))).withColumn("month", month(col(ts)))

  /** Flagship slice (SURVEY §7.2): scan → time-range filter → null
    * filter → derive year/month → monthly aggregate → sort.
    * The reference runs this shape as 3 disk-materialized stages
    * (precipitation_pipeline.py:604-640); here it is one lazy plan.
    */
  def monthlyAgg(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .filter(col("l_quantity").isNotNull)
      .filter(timestampRange(col("l_shipdate"), 1996, 2, 1999, 10))
    withYearMonth(li, "l_shipdate")
      .groupBy(col("year"), col("month"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("year"), col("month"))
  }

  /** Grid-resolution inference (precipitation_pipeline.py:170-182):
    * distinct values → sorted neighbor gaps → min gap, with a default
    * when fewer than two distinct values exist. Single-axis
    * convenience over [[gridResolutions]] (one implementation of the
    * bucketed distributed min-gap — see its scaladoc). */
  def gridResolution(df: DataFrame, coord: String, default: Double,
      buckets: Int = 32): DataFrame =
    gridResolutions(df, Seq(coord -> default), buckets)
      .withColumnRenamed(s"${coord}_res", "resolution")

  /** Multi-axis resolution inference in ONE pass: unpivot the
    * coordinate columns to (axis, value) rows, run the bucketed
    * min-gap per axis, fold to a single row with one `<axis>_res`
    * column per axis. Evaluates the (possibly expensive) input
    * subtree once for ALL axes — at 100 TB that is the difference
    * between one scan and N.
    *
    * The form for CONTINUOUS columns (e.g. `q_agg_min_diff` over
    * `c_acctbal`), whose distinct set is unbounded. A coordinate axis
    * of a measurement grid has a bounded distinct set and takes the
    * one-aggregate [[axisResolutions]] instead: this chain costs nine
    * serial stages, which made it the precipitation pipeline's
    * critical path.
    *
    * Distributed form — NO single-task window over the distinct set
    * (whose cardinality can approach the table's, e.g. a continuous
    * column): distinct values are range-bucketed by per-axis
    * approximate quantiles (a broadcast aggregate — bucketing quality
    * only affects balance, never the answer), neighbor gaps are
    * computed under a window PARTITIONED by (axis, bucket), and the
    * cross-bucket boundary pairs are resolved in a second window over
    * one row per bucket — provably ≤ `buckets` rows per axis, the one
    * place an axis-partitioned ordered window is safe. Every
    * consecutive pair is covered exactly once.
    */
  def gridResolutions(df: DataFrame, axes: Seq[(String, Double)],
      buckets: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = axes.map { case (c, _) =>
      struct(lit(c).as("axis"), col(c).cast("double").as("v")) }
    val dist = df.select(explode(array(pairs: _*)).as("p"))
      .select(col("p.axis").as("axis"), col("p.v").as("v"))
      .filter(col("v").isNotNull).distinct()
    val bounds = dist.groupBy(col("axis")).agg(percentile_approx(col("v"),
      array((1 until buckets).map(i => lit(i.toDouble / buckets)): _*),
      lit(10000)).as("bounds"))
    val bucketed = dist.join(broadcast(bounds), "axis")
      .withColumn("bucket", size(filter(col("bounds"), b => b <= col("v"))))
      .drop("bounds")
    val w = Window.partitionBy(col("axis"), col("bucket")).orderBy(col("v"))
    val perBucket = bucketed
      .withColumn("gap", abs(col("v") - lag(col("v"), 1).over(w)))
      .groupBy(col("axis"), col("bucket"))
      .agg(min(col("gap")).as("min_gap"), min(col("v")).as("lo"), max(col("v")).as("hi"))
    val wb = Window.partitionBy(col("axis")).orderBy(col("bucket")) // ≤ buckets rows/axis
    val perAxis = perBucket
      .withColumn("boundary_gap", abs(col("lo") - lag(col("hi"), 1).over(wb)))
      .groupBy(col("axis"))
      .agg(round(least(min(col("min_gap")), min(col("boundary_gap"))), 4).as("res"))
    val res = resolutionColumns(axes)
    perAxis.agg(res.head, res.tail: _*)
  }

  /** Resolution inference for GRID axes in one aggregate: per axis
    * the sorted distinct set (`array_sort(collect_set(...))`), then on
    * each result row the rounded min gap between adjacent elements, or
    * the axis default when it has fewer than two distinct values (an
    * empty input gives every default). Without `keys`, one row with
    * one `<axis>_res` column per axis, equal to [[gridResolutions]]'s;
    * with `keys`, one such row per key group, led by the key columns
    * — the humidity and temperature pipelines infer each month's own
    * grid (humidity_pipeline.py:136-139, temperature_pipeline.py:
    * 102-105) with keys (year, month).
    *
    * Scale posture: the aggregate buffer is the axis's distinct set,
    * whose size is the grid's axis length (360 or 576 values here,
    * 3600 at 0.1°), independent of row volume. The partial aggregate
    * runs in the input's own stage, so the whole inference is one
    * exchange; no driver collect, and building it launches no job.
    * Not for continuous columns: there the set grows with the data
    * ([[gridResolutions]]). */
  private[graft] def axisResolutions(df: DataFrame,
      axes: Seq[(String, Double)], keys: Seq[String] = Nil): DataFrame = {
    val sets = axes.map { case (c, _) => array_sort(collect_set(col(c).cast("double"))).as(c) }
    df.groupBy(keys.map(col): _*).agg(sets.head, sets.tail: _*)
      .select(keys.map(col) ++ axes.map { case (c, d) =>
        // zip_with pads the one-shorter tail with a NULL, which array_min skips
        val gaps = zip_with(slice(col(c), lit(2), size(col(c))), col(c), (hi, lo) => hi - lo)
        coalesce(round(array_min(gaps), 4), lit(d)).as(s"${c}_res") }: _*)
  }

  /** Folds (axis, res) rows into one `<axis>_res` column per axis: the
    * axis's inferred resolution, or its default when it has none. */
  private def resolutionColumns(axes: Seq[(String, Double)]): Seq[Column] =
    axes.map { case (c, d) =>
      coalesce(max(when(col("axis") === c, col("res"))), lit(d)).as(s"${c}_res") }

  /** Integer grid-cell index for a coordinate: floor((x+offset)/band).
    * Joining on integer cell indices (not floats) keeps the semi-join
    * key exact — float equality across engines is a correctness trap. */
  def cellIndex(x: Column, offset: Double, band: Double): Column =
    floor((x + offset) / band).cast("int")

  /** The land-mask filter (precipitation_pipeline.py:159-167,
    * temperature_pipeline.py:98-99, humidity_pipeline.py:121-128):
    * `globe.is_land(lat, lon)` re-expressed as a broadcast LEFT-SEMI
    * join of the points against a quantized land-cell lookup — the
    * data-driven replacement for the vendored 1 km grid.
    *
    * Scale posture: the lookup (a few MB even for a global 1 km mask
    * as cell indices) broadcasts; the fact side streams through a
    * BroadcastHashJoin with NO shuffle — the only plan shape that
    * survives applying a point-classifier to 100 TB of rows.
    */
  def landMask(points: DataFrame, landCells: DataFrame): DataFrame =
    points.join(broadcast(landCells), Seq("cell_lat", "cell_lon"), "left_semi")

  /** Build the land-cell BITMASK from the lookup — the codegen'd
    * alternative to the semi-join (SURVEY §7.4). The build is fully
    * DISTRIBUTED ([[graft.plans.CellMask.fromCellsDistributed]]):
    * per-partition word arrays OR-merged via treeReduce, so the driver
    * receives ~1 bit/cell of already-merged words and never a cell
    * row — at the reference's real ~1 km mask resolution (~5x10^8
    * cells) the bitmask is ~64 MB while a row collect would blow the
    * driver. For lookups too large (past the 2^31-1 dense-grid bound)
    * or too dynamic to embed, [[landMask]] remains the fallback. */
  def landCellMask(landCells: DataFrame): graft.plans.CellMask =
    // the mask build — like a broadcast — is paid once per process per
    // concrete lookup version, not once per query invocation
    graft.ProcessCache.get(landCells.sparkSession, "cell_mask", landCells)(
      graft.plans.CellMask.fromCellsDistributed(
        landCells.select(col("cell_lat"), col("cell_lon"))))

  /** Land-mask as a pure codegen'd FILTER: no join operator in the
    * plan — the probe runs inside the scan's whole-stage-codegen loop
    * (two bounds checks + one bit test per row), bit-identical to
    * [[landMask]] (CellMaskSpec), plan shape pinned in PlanSpec. */
  def landMaskExpr(points: DataFrame, mask: graft.plans.CellMask): DataFrame =
    points.filter(org.apache.spark.sql.GraftBridge.column(
      graft.plans.CellMaskContains(
        org.apache.spark.sql.GraftBridge.expression(col("cell_lat")),
        org.apache.spark.sql.GraftBridge.expression(col("cell_lon")),
        mask)))

  /** Synthetic (lat, lon) grid derived deterministically from harness
    * columns (the testdata has no coordinates): 0.5°/0.625° steps —
    * the reference's own grid resolutions
    * (precipitation_pipeline.py:177,182) — and both steps are exact
    * binary doubles, so arithmetic is bit-stable across engines.
    *
    * The scan is graft.spread first: everything downstream of it in
    * the composite (cell quantization, broadcast semi-join, feature
    * rendering) is NARROW, so a single-split parquet source would pin
    * the whole pipeline to one core. */
  def syntheticGrid(events: DataFrame): DataFrame =
    graft.spread(events, col("event_id"))
      .select(col("event_id"), col("ts"), col("value"),
        ((col("event_id") % 360) * 0.5 - 90.0).as("lat"),
        (((col("event_id") * 7) % 576) * 0.625 - 180.0).as("lon"))

  /** GeoJSON Feature constructor
    * (precipitation_pipeline.py:188-228): closed 5-point rectangle
    * ring (SW→SE→NE→NW→SW) centered on the cell with half-resolution
    * offsets, properties {<var>, time, lat, lon}. The reference runs
    * this as a 41-line Python iterrows() loop per row; here it is ONE
    * codegen'd `to_json(struct(...))` projection — compact separators
    * are `to_json`'s native format (= json.dump(separators=(',',':')),
    * humidity_pipeline.py:172). */
  def geojsonFeature(lat: Column, lon: Column, value: Column,
      valueName: String, time: Column, halfLat: Column, halfLon: Column): Column =
    geojsonFeatureWith(lat, lon, halfLat, halfLon,
      struct(
        value.as(valueName),
        time.cast("string").as("time"),
        lat.as("lat"),
        lon.as("lon")))

  /** Feature constructor over an arbitrary properties struct — the
    * geometry (closed 5-point half-resolution rectangle) is identical
    * across the reference's pipelines; only the property set varies. */
  def geojsonFeatureWith(lat: Column, lon: Column,
      halfLat: Column, halfLon: Column, properties: Column): Column = {
    def pt(x: Column, y: Column) = array(x, y)
    to_json(struct(
      lit("Feature").as("type"),
      struct(
        lit("Polygon").as("type"),
        array(array(
          pt(lon - halfLon, lat - halfLat), // SW
          pt(lon + halfLon, lat - halfLat), // SE
          pt(lon + halfLon, lat + halfLat), // NE
          pt(lon - halfLon, lat + halfLat), // NW
          pt(lon - halfLon, lat - halfLat)  // close ring
        )).as("coordinates")).as("geometry"),
      properties.as("properties")))
  }

  /** The temperature pipeline's property variant — {<var>, time} ONLY,
    * no lat/lon echo (temperature_pipeline.py:107-120). */
  def temperatureFeature(lat: Column, lon: Column, value: Column,
      time: Column, halfLat: Column, halfLon: Column): Column =
    geojsonFeatureWith(lat, lon, halfLat, halfLon,
      struct(value.as("temperature"), time.cast("string").as("time")))

  /** The humidity pipeline's property variant — explicit numeric casts
    * on the value and coordinates plus a str() time
    * (humidity_pipeline.py:155-163). */
  def humidityFeature(lat: Column, lon: Column, value: Column,
      time: Column, halfLat: Column, halfLon: Column): Column =
    geojsonFeatureWith(lat, lon, halfLat, halfLon,
      struct(
        value.cast("double").as("humidity"),
        time.cast("string").as("time"),
        lat.cast("double").as("lat"),
        lon.cast("double").as("lon")))

  /** Default per-document feature bound for [[featureCollection]]: at
    * ~300 B/feature a full shard is ~40 MB — sized so ONE task's
    * collect_list buffer (and the document string it emits) stays a
    * healthy shuffle-partition size, not merely under Spark's 2 GB
    * single-value ceiling. The sf1 sweep demonstrated why the old
    * 1<<20 bound was wrong: a single-month archive slid a ~70 MB
    * month under it and the whole relation collapsed into one
    * collect_list task; at 10× more it would be 700 MB. */
  val MaxFeaturesPerDoc: Int = 1 << 17

  /** Per-(year,month) FeatureCollection assembly — the reference's
    * actual output document (json.dump({'type': 'FeatureCollection',
    * 'features': [...]}, separators=(',',':')),
    * temperature_pipeline.py:119-120, humidity_pipeline.py:170-172):
    * compact-JSON documents, features ordered by `orderCol` so every
    * document is deterministic.
    *
    * Output schema: (year, month, shard, collection). Shard i of a
    * month holds the features with order-rank in
    * [i·maxPerDoc, (i+1)·maxPerDoc) — CONTIGUOUS in document order, so
    * concatenating a month's feature arrays in shard order reproduces
    * its whole document. A month at or under the bound emits ONE
    * document, shard 0: the reference's file-per-month output.
    *
    * Scale posture: ONE plan for every month size, with nothing
    * counted ahead of it — building the frame launches no query job.
    * The per-month rank comes from the DISTRIBUTED grouped prefix sum
    * (range repartition + broadcast offsets, [[Windows.prefixSums]]
    * with its lazy pin), NOT a (year,month)-
    * partitioned window — the sf1 sweep caught the window form
    * absorbing a whole single-month relation into ONE task (the harness
    * stream spans one month, so "per-month" parallelism is no
    * parallelism at all; a real archive has the same shape whenever one
    * period dominates). Each per-shard collect_list then holds at most
    * `maxPerDoc` features and the (year,month,shard) aggregate fans out
    * across tasks; the per-shard sort rebuilds document order over a
    * bounded array, so no single value nears Spark's 2 GB ceiling
    * however large a month grows. The sort and join are native
    * (sort_array, a struct-field projection, concat_ws): no lambda or
    * array_sort comparator, which Spark evaluates interpreted per
    * element. `orderCol` must be unique within a month (it already must
    * be for the document order itself to be deterministic). */
  def featureCollection(df: DataFrame, featureCol: String,
      orderCol: String, maxPerDoc: Int = MaxFeaturesPerDoc): DataFrame = {
    // lazy-pin form: dry-run plans the real composites, and the dry-run
    // contract is zero query jobs at build time
    val (ranked, _) = Windows.prefixSums(
      df.withColumn("_ym", concat_ws("-", col("year"), col("month"))),
      Seq("_ym"), Seq(lit(1L) -> "_rnk"), Seq(col(orderCol)), lazyPin = true)
    ranked
      .withColumn("shard", ((col("_rnk") - 1) / maxPerDoc).cast("int"))
      .groupBy(col("year"), col("month"), col("shard"))
      .agg(concat_ws(",",
        sort_array(collect_list(struct(col(orderCol), col(featureCol))))
          .getField(featureCol)).as("features_joined"))
      .select(col("year"), col("month"), col("shard"),
        concat(lit("{\"type\":\"FeatureCollection\",\"features\":["),
          col("features_joined"), lit("]}")).as("collection"))
  }

  /** The synthetic land-cell lookup shared by every composite: supplier
    * account balances hashed onto the same 30°-band grid the probe side
    * quantizes to (the data-driven stand-in for the vendored land mask). */
  private[graft] def landCells(s: SparkSession, dir: String): DataFrame =
    Tables.supplier(s, dir).select(
      cellIndex((col("s_acctbal") % 180 + 180) % 180 - 90, 90.0, 30.0).as("cell_lat"),
      cellIndex((col("s_acctbal") * 7 % 360 + 360) % 360 - 180, 180.0, 30.0).as("cell_lon"))
      .distinct()

  /** The masked-grid prefix every composite shares: scan -> pushdown
    * (y0,m0)..(y1,m1) month window -> NULL drop -> cell index ->
    * land-mask semi-join. */
  private def maskedGrid(s: SparkSession, dir: String,
      y0: Int, m0: Int, y1: Int, m1: Int): DataFrame = {
    val grid = syntheticGrid(Tables.events(s, dir))
      .filter(timestampRange(col("ts"), y0, m0, y1, m1))
      .filter(col("value").isNotNull)
    landMask(
      grid.withColumn("cell_lat", cellIndex(col("lat"), 90.0, 30.0))
        .withColumn("cell_lon", cellIndex(col("lon"), 180.0, 30.0)),
      landCells(s, dir))
  }

  /** Shared composite plan: the 2024 masked grid -> resolution
    * inference (one broadcast 1-row aggregate, no driver collect) ->
    * feature build. Both axes come from ONE global aggregate
    * ([[axisResolutions]]): lat and lon are grid axes, so their
    * distinct sets are bounded and the bucketed [[gridResolutions]]
    * chain (distinct, quantile bounds, two windows, folds: nine serial
    * stages that the feature sink waited on) buys nothing here. */
  private[operators] def compositeFrame(s: SparkSession, dir: String): DataFrame = {
    val masked = maskedGrid(s, dir, 2024, 1, 2024, 12)
    val res = axisResolutions(masked, Seq("lat" -> 0.5, "lon" -> 0.625))
    withYearMonth(masked.crossJoin(broadcast(res)), "ts")
      .select(col("event_id"), col("year"), col("month"),
        geojsonFeature(col("lat"), col("lon"), round(col("value"), 4), "precipitation",
          col("ts"), col("lat_res") / 2, col("lon_res") / 2).as("feature"))
  }

  /** Shared prefix of the humidity/temperature composites: scan ->
    * reference-default time window (2022-01..2025-05,
    * humidity_pipeline.py:28-31) -> NaN drop -> land mask -> per-month
    * resolution attach ([[axisResolutions]] by (year, month), broadcast:
    * one row per month). */
  private[graft] def monthlyMasked(s: SparkSession, dir: String): DataFrame = {
    val masked = withYearMonth(maskedGrid(s, dir, 2022, 1, 2025, 5), "ts")
    masked.join(
      broadcast(axisResolutions(masked, Seq("lat" -> 0.5, "lon" -> 0.625),
        Seq("year", "month"))),
      Seq("year", "month"))
  }

  /** End-to-end TEMPERATURE composite (temperature_pipeline.py:170-187
    * run order: download -> monthly split -> land-masked GeoJSON ->
    * per-month FeatureCollection). Property set is {temperature, time}
    * ONLY — no lat/lon echo (temperature_pipeline.py:114-120). */
  private def temperatureFeats(s: SparkSession, dir: String): DataFrame =
    monthlyMasked(s, dir)
      .select(col("year"), col("month"), col("event_id"),
        temperatureFeature(col("lat"), col("lon"), round(col("value"), 4),
          col("ts"), col("lat_res") / 2, col("lon_res") / 2).as("feature"))

  def temperatureComposite(s: SparkSession, dir: String): DataFrame =
    featureCollection(temperatureFeats(s, dir), "feature", "event_id")
      .orderBy(col("year"), col("month"), col("shard"))

  /** End-to-end HUMIDITY composite (humidity_pipeline.py:339-360 run
    * order) — the validation-heavy lifecycle: explicit numeric casts on
    * value and coordinates (humidity_pipeline.py:155-163 via
    * [[humidityFeature]]), NaN drops before AND after the mask
    * (:104,:131 — one idempotent null filter here), then each month's
    * document re-parsed and checked non-empty exactly as
    * validate_geojson does (:95-110): parse -> count features ->
    * valid = count > 0 ([[validated]]). Each document is parsed ONCE:
    * the sort comes BEFORE the validation, because a range sort
    * evaluates its input twice (sampling job, then shuffle map), and
    * the count reads the features array in the same parse instead of
    * re-serializing it for a second one. */
  private def humidityFeats(s: SparkSession, dir: String): DataFrame =
    monthlyMasked(s, dir)
      .select(col("year"), col("month"), col("event_id"),
        humidityFeature(col("lat"), col("lon"), round(col("value"), 4),
          col("ts"), col("lat_res") / 2, col("lon_res") / 2).as("feature"))

  def humidityComposite(s: SparkSession, dir: String): DataFrame =
    validated(featureCollection(humidityFeats(s, dir), "feature", "event_id"))

  /** Element schema of [[validated]]'s parse: only each feature's
    * `type`, so Jackson skips the rest of every feature's body. An
    * `array<string>` element schema would re-serialize every feature
    * (r17 measured that form slower than the two-parse count). */
  private val FeatureTypes = "features array<struct<type: string>>"

  /** validate_geojson (humidity_pipeline.py:95-110) over the sorted
    * documents: `n_features` is the length of the `features` array,
    * NULL when it is missing, not an array, or the document is
    * malformed; `valid` is `n_features > 0`. ONE parse per document:
    * `from_json` with a struct element schema reads the features array
    * in place, where `json_array_length(get_json_object(...))` parsed
    * the document, re-serialized the whole array and parsed that
    * again. Features are `to_json(struct)` output, so every element is
    * an object; a non-object element is outside this contract. */
  private[graft] def validated(docs: DataFrame): DataFrame =
    docs.orderBy(col("year"), col("month"), col("shard"))
      .withColumn("n_features", array_size(
        from_json(col("collection"), FeatureTypes, Map.empty[String, String])
          .getField("features")).cast("long"))
      .withColumn("valid", col("n_features") > 0)

  /** The precipitation pipeline's output frame: the end-to-end climate
    * composite (SURVEY §7.3 step 6) as ONE lazy plan, which
    * [[PipelineManager.runClimatePipelines]] writes to a
    * (year,month)-partitioned sink with one action — where the
    * reference materializes to disk between every stage
    * (precipitation_pipeline.py:604-640). */
  def precipitationFrame(s: SparkSession, dir: String): DataFrame =
    compositeFrame(s, dir)
      .select(col("year"), col("month"), col("feature"))

  /** Great-circle (haversine) distance in km — the geodesic primitive
    * a climate engine needs for station-to-cell matching and radius
    * queries. Pure codegen'd math expressions (sin/cos/asin/sqrt);
    * the operand order is fixed so the doubles match the oracle's
    * evaluation of the same formula. */
  def haversineKm(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val dLat = radians(lat2 - lat1) / 2
    val dLon = radians(lon2 - lon1) / 2
    lit(2 * 6371.0) * asin(sqrt(
      pow(sin(dLat), 2) +
        cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dLon), 2)))
  }

  /** Fixed-width value histogram: integer bucket = floor(v / width) —
    * the color-scale-breakpoint analog
    * (docs/ALL_PIPELINES_PBF_WORKFLOW.md:22-36 defines fixed value
    * bands per pipeline). One hash aggregate; bucket ids are exact
    * integer arithmetic on both engines, no float-boundary ambiguity
    * in the group keys. */
  def valueHistogram(df: DataFrame, valueCol: String, width: Double): DataFrame =
    df.filter(col(valueCol).isNotNull)
      .groupBy(floor(col(valueCol) / width).cast("int").as("bucket"))
      .agg(count(lit(1)).as("n"),
        round(min(col(valueCol)), 4).as("lo"),
        round(max(col(valueCol)), 4).as("hi"))
      .orderBy(col("bucket"))

  /** EQUI-HEIGHT value histogram: `buckets` buckets with (near-)equal
    * row counts — the quantile-driven complement of the fixed-width
    * [[valueHistogram]] (a color scale where every band colors the same
    * number of cells, vs. the reference's fixed value bands,
    * docs/ALL_PIPELINES_PBF_WORKFLOW.md:22-36). The split is the
    * SQL-standard ntile: the first `N mod buckets` buckets take
    * ⌈N/buckets⌉ rows.
    *
    * Scale posture: NO single-task global window — the global row
    * number and the total count come from one [[Windows.prefixSums]]
    * layout (range repartition + per-partition running count +
    * broadcast offsets; the count from the same partials), and the
    * bucket id is pure integer arithmetic, so the heavy stages stay
    * fully parallel.
    * `tiebreak` must be unique for a deterministic split of equal
    * values. */
  def equiHeightHistogram(df: DataFrame, valueCol: String, tiebreak: String,
      buckets: Int): DataFrame = {
    val bucket = Windows.ntileBucket("rn", "n_total", buckets).cast("int")
    val (ranked, totals) = Windows.prefixSums(df.filter(col(valueCol).isNotNull),
      Nil, Seq(lit(1L) -> "rn"), Seq(col(valueCol), col(tiebreak)))
    ranked.crossJoin(broadcast(totals.select(col("_n").as("n_total"))))
      .withColumn("bucket", bucket)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        round(min(col(valueCol)), 4).as("lo"),
        round(max(col(valueCol)), 4).as("hi"))
      .orderBy(col("bucket"))
  }

  /** Empty-relation short-circuit (precipitation_pipeline.py:152-154,
    * humidity_pipeline.py:117-134): the reference guards every stage
    * with `if df.empty: return`. Spark-side, `head(1).isEmpty` is the
    * cheap test (one task, first non-empty partition only — never a
    * full count). Used by drivers to skip sinks for empty slices. */
  def isEmptyRelation(df: DataFrame): Boolean = df.head(1).isEmpty

  /** Monthly-climatology anomaly: value minus the per-cell per-
    * calendar-month mean over all years — the standard first derived
    * product of any gridded climate archive (the reference stops at
    * raw monthly values; xarray's `groupby('time.month') - mean` is
    * the single most common idiom over exactly this data model).
    *
    * One window aggregate partitioned by (lat, lon, month): the
    * climatology and the anomaly come out of a SINGLE shuffle on the
    * cell-month key with no join back and no second scan — at 100 TB
    * the cube shuffles once, partitioned by cell, and every year of a
    * cell-month lands in one task regardless of how many years the
    * archive spans. */
  def climatologyAnomaly(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = syntheticGrid(events).filter(col("value").isNotNull)
    val cell = Window.partitionBy(col("lat"), col("lon"), month(col("ts")))
    val clim = avg(col("value")).over(cell)
    g.select(col("event_id"), col("lat"), col("lon"),
        month(col("ts")).cast("int").as("month"),
        round(col("value"), 4).as("value"),
        round(clim, 4).as("climatology"),
        round(col("value") - clim, 4).as("anomaly"))
      .orderBy(col("event_id"))
  }

  /** Spatial coarsening (regrid to a lower resolution by cell-block
    * aggregation): xarray `coarsen(lat=2, lon=2).mean()` over the
    * flattened table — here 0.5°×0.625° cells into 1°×1.25° blocks.
    * A plain hash aggregate on the block index: map-side partials,
    * one narrow shuffle of (block, count, sum, min, max) — the
    * classic downsample that turns a 100 TB cube into a 25 TB one
    * without ever materializing rows wider than the aggregate state. */
  def gridCoarsen(events: DataFrame): DataFrame =
    syntheticGrid(events).filter(col("value").isNotNull)
      .groupBy(
        floor((col("lat") + 90.0) / 1.0).cast("int").as("bin_lat"),
        floor((col("lon") + 180.0) / 1.25).cast("int").as("bin_lon"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("value")), 4).as("mean_value"),
        round(min(col("value")), 4).as("min_value"),
        round(max(col("value")), 4).as("max_value"))
      .orderBy(col("bin_lat"), col("bin_lon"))

  /** Area-weighted global monthly mean: each cell weighted by
    * cos(latitude) — THE standard statistic over a regular lat/lon
    * grid (poleward cells cover less area; a naive mean over-weights
    * the poles; cf. xarray's weighted(cos(lat)).mean() docs example).
    * Emitted next to the naive mean so the bias is visible.
    *
    * One hash aggregate: the weight is a codegen'd scalar expression,
    * the shuffle carries (month, n, Σwv, Σw) partials only — the 100 TB
    * cube reduces map-side to a handful of doubles per month. */
  def areaWeightedDaily(events: DataFrame): DataFrame = {
    val g = syntheticGrid(events).filter(col("value").isNotNull)
    val wgt = cos(radians(col("lat")))
    g.groupBy(year(col("ts")).cast("int").as("year"),
        month(col("ts")).cast("int").as("month"),
        dayofmonth(col("ts")).cast("int").as("day"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value") * wgt) / sum(wgt), 4).as("weighted_mean"),
        round(avg(col("value")), 4).as("naive_mean"))
      .orderBy(col("year"), col("month"), col("day"))
  }

  /** Calendar densification (xarray `resample(time='1D')` /
    * `asfreq`): every series gets a COMPLETE day spine from its first
    * to its last observation — days with no rows materialize
    * (n_obs = 0), observed days carry their mean, and `filled`
    * forward-fills across the manufactured gaps. The reference's
    * month-keyed file naming silently skips absent periods; an
    * archive-quality pipeline emits them.
    *
    * The day index is a plain integer (days since epoch), so spine
    * generation is `sequence()` over two ints exploded per series —
    * no timestamp arithmetic, no calendar edge cases. Spine size is
    * bounded by the series' time span, never by row count; everything
    * else is one (series, day) join plus one series-key window. */
  def resampleDaily(events: DataFrame, series: Column,
      maxSpineDays: Int = 36600): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val epoch = to_date(lit("1970-01-01"))
    val g = events.select(series.cast("int").as("series"),
      datediff(to_date(col("ts")), epoch).cast("long").as("di"),
      col("value"))
    val daily = g.groupBy(col("series"), col("di"))
      .agg(count(col("value")).as("n_obs"),
        round(avg(col("value")), 4).as("mean_value"))
    // SPAN PRE-FLIGHT (same posture as the zarr group sink's
    // cardinality pre-flight): one adversarial series spanning
    // centuries would quietly fan its spine out by orders of
    // magnitude, so a series wider than `maxSpineDays` (default
    // ~100 years — generous for any daily archive) fails loudly with
    // the series named, in-plan on the already-aggregated per-series
    // row: zero extra jobs, zero extra shuffles
    val span = col("di1") - col("di0")
    val di0Guarded = when(span > maxSpineDays.toLong, raise_error(concat(
        lit("resampleDaily: series "), col("series").cast("string"),
        lit(s" spans "), span.cast("string"),
        lit(s" days > maxSpineDays=$maxSpineDays — a day spine this " +
          "wide is almost certainly bad timestamps; fix the input or " +
          "raise maxSpineDays explicitly"))))
      .otherwise(col("di0"))
    val spine = g.groupBy(col("series"))
      .agg(min(col("di")).as("di0"), max(col("di")).as("di1"))
      .select(col("series"), explode(sequence(di0Guarded, col("di1"))).as("di"))
    val w = Window.partitionBy(col("series")).orderBy(col("di"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val d = date_add(epoch, col("di").cast("int"))
    spine.join(daily, Seq("series", "di"), "left")
      .select(col("series"),
        year(d).cast("int").as("year"),
        month(d).cast("int").as("month"),
        dayofmonth(d).cast("int").as("day"),
        coalesce(col("n_obs"), lit(0L)).as("n_obs"),
        col("mean_value"),
        last(col("mean_value"), ignoreNulls = true).over(w).as("filled"))
      .orderBy(col("series"), col("year"), col("month"), col("day"))
  }

  /** TIME-WEIGHTED average per series over IRREGULAR timestamps — the
    * sensor-fusion staple a plain avg() gets wrong: a reading that
    * held for six hours must count 360× a reading replaced a minute
    * later. Step-function (zero-order-hold) weighting: each value is
    * weighted by the exact microseconds until the series' next
    * observation; the last observation has no successor and drops out
    * (NULL weight → sum skips it), standard ZOH convention.
    *
    * Degenerate series have DEFINED semantics (the ratioToReport /
    * cellTrend posture): one observation, or all observations at one
    * timestamp, give total weight 0 → twa NULL by explicit guard, not
    * engine-dependent 0/0 (Spark non-ANSI NULL vs DuckDB NaN
    * disagree — the interpolateGaps lesson).
    *
    * Scale: ONE shuffle on the series key serves both the lead()
    * window and (by partial-distribution reuse) the per-series hash
    * aggregate; weights are exact integer microseconds, products
    * doubles — no transcendentals, hash-stable. */
  def timeWeightedAvg(events: DataFrame, series: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("series"))
      .orderBy(col("us"), col("event_id"))
    val g = events.select(series.as("series"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("value"))
      .withColumn("dt_us", lead(col("us"), 1).over(w) - col("us"))
    g.groupBy(col("series"))
      .agg(count(lit(1)).as("n_obs"),
        sum(col("dt_us")).as("den_us"),
        sum(col("dt_us").cast("double") * col("value")).as("num"),
        halfUp(avg(col("value")), 4).as("mean_value"))
      .select(col("series"), col("n_obs"),
        halfUp(when(col("den_us") === 0L || col("den_us").isNull,
            lit(null).cast("double"))
          .otherwise(col("num") / col("den_us").cast("double")), 4).as("twa"),
        col("mean_value"))
      .orderBy(col("series"))
  }

  /** Origin of the time-series statistics' integer day index. The
    * oracle twins spell the same date as `DATE '2024-01-01'`. */
  private[graft] val DayOrigin = "2024-01-01"

  /** Whole days from [[DayOrigin]] to `ts` (an INT; callers cast). */
  private def dayIndex(ts: Column): Column =
    datediff(to_date(ts), to_date(lit(DayOrigin)))

  /** The (series, day) grouping keys of every daily series. */
  private def seriesDay: Seq[Column] =
    Seq(col("event_type").as("series"), dayIndex(col("ts")).cast("long").as("day"))

  /** The daily reduction under every time-series statistic: one row
    * per (series, day) with `y` the day's mean of the non-NULL values.
    * The sum runs over values quantized to the 1e-9 grid as LONGS, so
    * the mean is order-free and bit-identical under any partitioning
    * and on both engines. Calendar-bounded: one row per observed day
    * per series, whatever the row count. */
  private def dailyMeans(events: DataFrame): DataFrame =
    events.filter(col("value").isNotNull)
      .groupBy(seriesDay: _*)
      .agg((sum(floor(col("value") * lit(1e9) + lit(0.5)).cast("long"))
        .cast("double") / lit(1e9) / count(lit(1)).cast("double")).as("y"))

  /** Series A's and B's daily means paired by day: (day, x, yy), only
    * the days both series observed. */
  private def pairedDaily(events: DataFrame, typeA: String, typeB: String): DataFrame = {
    val daily = dailyMeans(events.filter(col("event_type").isin(typeA, typeB)))
    daily.filter(col("series") === typeA).select(col("day"), col("y").as("x"))
      .join(daily.filter(col("series") === typeB)
        .select(col("day").as("day_b"), col("y").as("yy")),
        col("day") === col("day_b"))
      .select(col("day"), col("x"), col("yy"))
  }

  /** Pearson r of `ya` against `yb` per `keys` group of lagged pairs:
    * the group's pair count as `n`, r as `r`. Every moment sums a
    * per-row integer-quantized term (Σx, Σy on the 1e-9 grid, the
    * products on 1e-6 AFTER multiplication — products of quantized
    * values would overflow BIGINT), so each r is an order-free fixed
    * chain. A group where either side is constant reads NULL. */
  private def laggedPearson(lagged: DataFrame, keys: Seq[String],
      n: String, r: String): DataFrame = {
    def qsum(c: Column, grid: Double): Column =
      sum(floor(c * lit(grid) + lit(0.5)).cast("long")).cast("double") / lit(grid)
    val agg = lagged.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as(n),
        qsum(col("ya"), 1e9).as("sx"), qsum(col("yb"), 1e9).as("sy"),
        qsum(col("ya") * col("ya"), 1e6).as("sxx"),
        qsum(col("yb") * col("yb"), 1e6).as("syy"),
        qsum(col("ya") * col("yb"), 1e6).as("sxy"))
    val nD = col(n).cast("double")
    val varA = nD * col("sxx") - col("sx") * col("sx")
    val varB = nD * col("syy") - col("sy") * col("sy")
    val num = nD * col("sxy") - col("sx") * col("sy")
    agg.select(keys.map(col) :+ col(n) :+
      halfUp(when(varA <= 0.0 || varB <= 0.0, lit(null).cast("double"))
        .otherwise(num / sqrt(varA * varB)), 6).as(r): _*)
  }

  /** Most elements a packed per-key day array may hold: 100 years of
    * days. The folds over such arrays are bounded by the calendar
    * span, never the row count; a wider array is almost certainly bad
    * timestamps, and a memory hazard. */
  private[graft] val MaxSpanDays = 36600

  /** The span pre-flight: `pts` unchanged, or an in-plan `raise_error`
    * (no extra job) naming `what` when the array is longer than
    * [[MaxSpanDays]]. */
  private[operators] def spanGuarded(pts: Column, what: Column): Column =
    when(size(pts) > MaxSpanDays, raise_error(concat(what, lit(" has "),
      size(pts).cast("string"), lit(s" days > $MaxSpanDays, the span bound — " +
        "an array this wide is almost certainly bad timestamps; fix the input"))))
      .otherwise(pts)

  /** Per-cell linear TREND of the observed value over time — the
    * per-gridpoint OLS slope map every climate assessment publishes
    * (xarray `polyfit(dim='time', deg=1)` over a cube; cf. the
    * reference's per-variable monthly means, which this generalizes
    * from level to rate-of-change). The regressor is the integer day
    * index since the window start, so slope units are value/day and
    * the arithmetic is exactly representable on both engines.
    *
    * Slope/intercept are written as the explicit population-moment
    * quotient (covar_pop/var_pop) with a zero-variance guard rather
    * than `regr_slope`, so the single-distinct-timestamp cell has
    * DEFINED semantics (NULL slope, NULL intercept) on any engine —
    * the same degenerate-input posture as ratioToReport's zero-total
    * guard.
    *
    * Scale: ONE hash aggregate on the cell key — map-side partials
    * carry six doubles per cell (n, Σx, Σy, Σxx, Σxy via the moment
    * aggregates), never rows; the 100 TB cube reduces to a
    * cells-sized result with a single narrow exchange. */
  def cellTrend(events: DataFrame): DataFrame = {
    val g = syntheticGrid(events).filter(col("value").isNotNull)
      .select(col("lat"), col("lon"),
        dayIndex(col("ts")).cast("double").as("x"),
        col("value").as("y"))
    val slope = when(col("vx") === 0.0, lit(null).cast("double"))
      .otherwise(col("cxy") / col("vx"))
    g.groupBy(col("lat"), col("lon"))
      .agg(count(lit(1)).as("n_obs"),
        covar_pop(col("y"), col("x")).as("cxy"),
        var_pop(col("x")).as("vx"),
        avg(col("x")).as("mx"),
        avg(col("y")).as("my"))
      .select(col("lat"), col("lon"), col("n_obs"),
        round(slope, 6).as("slope_per_day"),
        round(col("my") - slope * col("mx"), 4).as("intercept"),
        round(col("my"), 4).as("mean_value"))
      .orderBy(col("lat"), col("lon"))
  }

  /** TWO-PREDICTOR OLS per series (multiple regression): value ~
    * intercept + b₁·day + b₂·lat, solved in closed form from the
    * normal equations by Cramer's rule — the "does the trend survive
    * controlling for latitude?" step up from [[cellTrend]]'s simple
    * regression, which cannot hold a confounder fixed. Outputs the
    * coefficients in natural units (value per day, value per degree)
    * and R².
    *
    * Parity is BY CONSTRUCTION, stronger than quantization: every
    * design moment is an INTEGER sum of integer products — x₁ = day
    * index, x₂ = 2·lat (the half-degree grid index is integral), y =
    * cents — so the nine sums are exact BIGINTs, order-free under any
    * partitioning, and the Cramer determinants are a fixed double
    * chain over them that the oracle mirrors operand for operand.
    * Unit conversions (cents→value, half-degree→degree) happen once
    * at the end of the chain. A singular design (det = 0, e.g. a
    * series observed on one day) or zero variance yields NULL
    * coefficients/R², never a division error.
    *
    * Scale posture: ONE hash aggregate with map-side partials
    * collapses the facts to ten longs per series; everything after is
    * per-row scalar algebra on a series-sized table. */
  def ols2(events: DataFrame): DataFrame = {
    val g = events.filter(col("value").isNotNull)
      .select(col("event_type").as("series"),
        dayIndex(col("ts")).cast("long").as("x1"),
        // 2·lat: the synthetic grid's lat is (event_id%360)·0.5 − 90,
        // so twice it is the exact integer (event_id%360) − 180
        (pmod(col("event_id"), lit(360L)) - 180L).as("x2"),
        round(col("value") * 100).cast("long").as("yc"))
    val m = g.groupBy(col("series")).agg(
      count(lit(1)).as("n"),
      sum(col("x1")).as("s1"), sum(col("x2")).as("s2"),
      sum(col("x1") * col("x1")).as("s11"),
      sum(col("x2") * col("x2")).as("s22"),
      sum(col("x1") * col("x2")).as("s12"),
      sum(col("yc")).as("sy"),
      sum(col("x1") * col("yc")).as("s1y"),
      sum(col("x2") * col("yc")).as("s2y"),
      sum(col("yc") * col("yc")).as("syy"))
    def d(c: String) = col(c).cast("double")
    val (n, s1, s2) = (d("n"), d("s1"), d("s2"))
    val (s11, s22, s12) = (d("s11"), d("s22"), d("s12"))
    val (sy, s1y, s2y, syy) = (d("sy"), d("s1y"), d("s2y"), d("syy"))
    val det = n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) +
      s2 * (s1 * s12 - s11 * s2)
    val det0 = sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y) +
      s2 * (s1y * s12 - s11 * s2y)
    val det1 = n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2) +
      s2 * (s1 * s2y - s1y * s2)
    val det2 = n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2) +
      sy * (s1 * s12 - s11 * s2)
    val (b0c, b1c, b2c) = (det0 / det, det1 / det, det2 / det)
    val sse = syy - b0c * sy - b1c * s1y - b2c * s2y
    val sst = syy - sy * sy / n
    val bad = det === lit(0.0)
    val nn = lit(null).cast("double")
    m.select(col("series"), col("n"),
        halfUp(when(bad, nn).otherwise(b0c / lit(100.0)), 4).as("b0"),
        halfUp(when(bad, nn).otherwise(b1c / lit(100.0)), 6).as("b1_per_day"),
        halfUp(when(bad, nn).otherwise(b2c / lit(50.0)), 6).as("b2_per_degree"),
        halfUp(when(bad || sst <= lit(0.0), nn)
          .otherwise(lit(1.0) - sse / sst), 6).as("r2"))
      .orderBy(col("series"))
  }

  /** THEIL–SEN robust trend per series: the LOWER median of all
    * pairwise slopes (yⱼ−yᵢ)/(xⱼ−xᵢ) over the daily-reduced series —
    * the slope estimator with a 29% breakdown point, immune to the
    * outlier days that drag [[cellTrend]]'s OLS (one bad sensor day
    * shifts OLS by its leverage; Theil–Sen shrugs off up to a third
    * of the days). The daily reduction uses the integer-quantized
    * order-free mean, and the median is the RANK-PICKED lower
    * median — an actual slope value, no interpolation arithmetic, so
    * the result is engine-independent by construction.
    *
    * Scale posture: the pair expansion is over the DAILY reduction,
    * bounded by the calendar span squared per series — independent of
    * row count (100 TB of events over 2 years is still ≤ ~270k pairs
    * per series). The daily table broadcasts to the self-join; the
    * rank window shuffles only (series, slope) pairs. */
  def theilSenTrend(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = dailyMeans(events)
    val days = daily.groupBy(col("series")).agg(count(lit(1)).as("n_days"))
    val slopes = daily.select(col("series"), col("day").as("d1"), col("y").as("y1"))
      .join(broadcast(daily.select(col("series"), col("day").as("d2"),
        col("y").as("y2"))), Seq("series"))
      .filter(col("d1") < col("d2"))
      .withColumn("slope",
        (col("y2") - col("y1")) / (col("d2") - col("d1")).cast("double"))
    val w = Window.partitionBy(col("series"))
      .orderBy(col("slope"), col("d1"), col("d2"))
    val wg = Window.partitionBy(col("series"))
    slopes
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("np", count(lit(1)).over(wg))
      .filter(col("rn") ===
        floor((col("np") + lit(1L)).cast("double") / lit(2.0)).cast("long"))
      .join(broadcast(days), Seq("series"))
      .select(col("series"), col("n_days"), col("np").as("n_pairs"),
        halfUp(col("slope"), 6).as("ts_slope"))
      .orderBy(col("series"))
  }

  /** WEEKLY SEASONALITY strength per series: η² = SS_between/SS_total
    * over day-of-week groups of the daily-reduced series — "how much
    * of this series' daily variance is the weekly cycle?" (η² ≈ 1:
    * rigid weekly rhythm; ≈ 0: none), plus the peak day and its mean.
    * The diagnostic run before fitting anything seasonal, and the
    * companion to [[holtTrend]] (which assumes the seasonality has
    * been inspected). Day-of-week is pmod(day, 7) of the day index —
    * 0 = the epoch's weekday — in pure integer arithmetic; calendar
    * dayofweek() is engine-dependent (Spark is 1-based Sunday, DuckDB
    * 0-based Sunday).
    *
    * Parity: daily means divide integer-quantized sums (exact); the
    * series mean and each dow mean divide quantized-sum longs; every
    * squared-deviation term is quantized to the 1e-9 grid AS A LONG
    * after the double multiplication (the chi2 posture) so both sums
    * of squares are order-free and bit-identical under any
    * partitioning. A constant series (SS_total = 0) yields NULL η².
    *
    * Scale posture: facts collapse to the (series, day) daily table
    * ONCE (localCheckpoint — four consumers re-read the reduction,
    * never the facts); totals, dow groups, and both SS aggregates are
    * re-aggregations of that calendar-bounded table, with the
    * series-sized totals broadcast back. */
  def weeklySeasonality(events: DataFrame): DataFrame = {
    val daily = dailyMeans(events)
      .withColumn("qy", floor(col("y") * lit(1e9) + lit(0.5)).cast("long"))
      .withColumn("dow", pmod(col("day"), lit(7L)))
      .localCheckpoint()
    val tot = daily.groupBy(col("series"))
      .agg(count(lit(1)).as("n"), sum(col("qy")).as("sq"))
      .select(col("series"), col("n"),
        (col("sq").cast("double") / lit(1e9) / col("n").cast("double")).as("mean"))
    val ssTot = daily.join(broadcast(tot), "series")
      .withColumn("term", (col("y") - col("mean")) * (col("y") - col("mean")))
      .groupBy(col("series"))
      .agg(sum(floor(col("term") * lit(1e9) + lit(0.5)).cast("long")).as("sstq"))
    val dowg = daily.groupBy(col("series"), col("dow"))
      .agg(count(lit(1)).as("ng"), sum(col("qy")).as("sg"))
      .withColumn("mg",
        col("sg").cast("double") / lit(1e9) / col("ng").cast("double"))
    val ssB = dowg.join(broadcast(tot), "series")
      .withColumn("term", col("ng").cast("double") *
        (col("mg") - col("mean")) * (col("mg") - col("mean")))
      .groupBy(col("series"))
      .agg(sum(floor(col("term") * lit(1e9) + lit(0.5)).cast("long")).as("ssbq"))
    // peak day: highest dow mean, EARLIEST dow on ties
    val peak = dowg.groupBy(col("series"))
      .agg(max(struct(col("mg").as("m"), (-col("dow")).as("nd"))).as("p"))
      .select(col("series"), (-col("p.nd")).as("peak_dow"),
        col("p.m").as("peak_mean"))
    tot.join(ssTot, "series").join(ssB, "series").join(peak, "series")
      .select(col("series"), col("n").as("n_days"),
        col("peak_dow"), halfUp(col("peak_mean"), 4).as("peak_mean"),
        when(col("sstq") === 0L, lit(null).cast("double"))
          .otherwise(halfUp(
            col("ssbq").cast("double") / col("sstq").cast("double"), 6))
          .as("eta2"))
      .orderBy(col("series"))
  }

  /** Registered Holt smoothing constants — EXACT-BINARY doubles, one
    * definition feeding both the plan and the generated oracle. */
  val HoltAlpha = 0.5
  val HoltBeta = 0.25

  /** HOLT double-exponential smoothing per series (Holt 1957): level
    * + trend recurrence over the daily-reduced series, with the
    * one-step-ahead forecast l+b — the first forecasting primitive
    * next to the trend probes ([[cellTrend]] fits one global line;
    * Holt tracks a DRIFTING level, which is what operational series
    * do). Recurrence (t = 2…n, init l₁ = y₁, b₁ = y₂ − y₁):
    * lₜ = α·yₜ + (1−α)·(lₜ₋₁ + bₜ₋₁); bₜ = β·(lₜ − lₜ₋₁) + (1−β)·bₜ₋₁.
    * α, β are the EXACT-BINARY [[HoltAlpha]]/[[HoltBeta]], so (1−α),
    * (1−β) are exact on every engine — the smoothing chain is a
    * fixed-order double fold the oracle replays verbatim as a
    * recursive CTE.
    *
    * Scale posture: the recurrence is inherently sequential IN TIME
    * but the series are independent — facts reduce to (series, day)
    * in one hash aggregate (integer-quantized order-free means), and
    * the fold runs over a per-series collected day array, bounded by
    * the CALENDAR SPAN, never the row count (100 TB over 2 years is
    * still ≤ ~730 elements per series) — the humidity-composite
    * bounded-collect posture, with a span pre-flight that fails
    * loudly (in-plan raise_error, zero extra jobs) on a series wide
    * enough to make the array a memory hazard. Series with fewer
    * than 2 days carry no trend information and are dropped. */
  def holtTrend(events: DataFrame): DataFrame = {
    val (alpha, beta) = (HoltAlpha, HoltBeta)
    val packed = dailyMeans(events).groupBy(col("series"))
      .agg(sort_array(collect_list(struct(col("day"), col("y")))).as("pts"))
      .filter(size(col("pts")) >= 2)
      .withColumn("pts", spanGuarded(col("pts"),
        concat(lit("holtTrend: series "), col("series").cast("string"))))
    val vs = transform(col("pts"), p => p("y"))
    val zero = struct(element_at(vs, 1).as("l"),
      (element_at(vs, 2) - element_at(vs, 1)).as("b"))
    val st = aggregate(slice(vs, lit(2), size(vs) - 1), zero, (acc, x) => {
      val lNew = lit(alpha) * x + lit(1 - alpha) * (acc("l") + acc("b"))
      struct(lNew.as("l"),
        (lit(beta) * (lNew - acc("l")) + lit(1 - beta) * acc("b")).as("b"))
    })
    packed
      .withColumn("st", st)
      .select(col("series"), size(col("pts")).cast("long").as("n_days"),
        halfUp(col("st.l"), 4).as("level"),
        halfUp(col("st.b"), 6).as("trend"),
        halfUp(col("st.l") + col("st.b"), 4).as("forecast_next"))
      .orderBy(col("series"))
  }

  /** Registered Holt–Winters constants — EXACT-BINARY doubles (the
    * [[HoltAlpha]] posture), one definition feeding plan + oracle. */
  val HwAlpha = 0.5
  val HwBeta = 0.25
  val HwGamma = 0.25
  val HwSeason = 7

  /** HOLT–WINTERS additive triple-exponential smoothing per series —
    * [[holtTrend]] plus a rotating additive WEEKLY seasonal state
    * (level + trend track the drifting mean, the season-7 factors
    * absorb the day-of-week cycle q_stats_seasonality only measures):
    * l_t = α(y_t − s_{t−m}) + (1−α)(l+b), b_t = β(l_t−l) + (1−β)b,
    * s_t = γ(y_t − l_t) + (1−γ)s_{t−m}, m = 7. Init over the first
    * two weeks: l = mean(week 1), b = Σ(y_{i+m} − y_i)/m², s_i =
    * y_i − l; series shorter than 2m+1 days are dropped (no seasonal
    * information). Forecast ŷ_{n+1} = l + b + s_next.
    *
    * Parity: α,β,γ are exact-binary; the state is a fold over the
    * calendar-bounded per-series day array (the holtTrend posture:
    * sequential IN TIME, independent across series), every operand
    * in fixed order; the seasonal state rotates as an array — head
    * is always the factor due at the current step, so after the last
    * step the head is next day's factor. The DuckDB twin replays the
    * fold as a recursive CTE carrying the same LIST state.
    *
    * Scale posture: identical to holtTrend — one exact-quantized
    * (series, day) reduction, bounded collect per series with the
    * same span pre-flight, k tiny one-row folds. */
  def holtWinters(events: DataFrame): DataFrame = {
    val (alpha, beta, gamma, m) = (HwAlpha, HwBeta, HwGamma, HwSeason)
    val packed = dailyMeans(events).groupBy(col("series"))
      .agg(sort_array(collect_list(struct(col("day"), col("y")))).as("pts"))
      .filter(size(col("pts")) >= 2 * m + 1)
      .withColumn("pts", spanGuarded(col("pts"),
        concat(lit("holtWinters: series "), col("series").cast("string"))))
    val vs = transform(col("pts"), p => p("y"))
    val seqSum = (arr: Column) => aggregate(arr, lit(0.0), (acc, x) => acc + x)
    val l0 = seqSum(slice(vs, 1, m)) / lit(m.toDouble)
    val b0 = seqSum(zip_with(slice(vs, m + 1, m), slice(vs, 1, m),
      (hi, lo) => hi - lo)) / lit((m * m).toDouble)
    val s0 = transform(slice(vs, 1, m), v => v - l0)
    val zero = struct(l0.as("l"), b0.as("b"), s0.as("s"))
    val st = aggregate(slice(vs, lit(m + 1), size(vs) - m), zero, (acc, x) => {
      val sDue = element_at(acc("s"), 1)
      val lNew = lit(alpha) * (x - sDue) +
        lit(1 - alpha) * (acc("l") + acc("b"))
      val bNew = lit(beta) * (lNew - acc("l")) + lit(1 - beta) * acc("b")
      val sNew = concat(slice(acc("s"), 2, m - 1),
        array(lit(gamma) * (x - lNew) + lit(1 - gamma) * sDue))
      struct(lNew.as("l"), bNew.as("b"), sNew.as("s"))
    })
    packed
      .withColumn("st", st)
      .select(col("series"), size(col("pts")).cast("long").as("n_days"),
        halfUp(col("st.l"), 4).as("level"),
        halfUp(col("st.b"), 6).as("trend"),
        halfUp(element_at(col("st.s"), 1), 4).as("seasonal_next"),
        halfUp(col("st.l") + col("st.b") + element_at(col("st.s"), 1), 4)
          .as("forecast_next"))
      .orderBy(col("series"))
  }

  /** Generated DuckDB twin of [[holtWinters]]: recursive CTE stepping
    * one day-rank at a time with the rotating seasonal LIST as CTE
    * state — same init (list_sum = the sequential fold), same fixed
    * operand order, constants emitted from the same Scala vals. */
  private def holtWintersOracleSql: String = {
    val (a, a1) = (HwAlpha.toString, (1 - HwAlpha).toString)
    val (b, b1) = (HwBeta.toString, (1 - HwBeta).toString)
    val (g, g1) = (HwGamma.toString, (1 - HwGamma).toString)
    val m = HwSeason
    s"""WITH RECURSIVE daily AS (
       |  SELECT event_type AS series,
       |         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
       |         CAST(sum(CAST(floor(value * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
       |           / 1000000000.0 / count(*) AS y
       |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
       |packed AS (
       |  SELECT series, list(y ORDER BY day) AS vs,
       |         CAST(count(*) AS BIGINT) AS n
       |  FROM daily GROUP BY series HAVING count(*) >= ${2 * m + 1}),
       |ini AS (
       |  SELECT series, vs, n,
       |         list_sum(vs[1:$m]) / $m.0 AS l0
       |  FROM packed),
       |rec(series, vs, n, t, l, b, s) AS (
       |  SELECT series, vs, n, CAST($m AS BIGINT), l0,
       |         list_sum(list_transform(range(1, ${m + 1}),
       |           i -> vs[$m + i] - vs[i])) / ${m * m}.0,
       |         list_transform(vs[1:$m], v -> v - l0)
       |  FROM ini
       |  UNION ALL
       |  SELECT series, vs, n, t + 1,
       |         $a * (vs[t + 1] - s[1]) + $a1 * (l + b),
       |         $b * (($a * (vs[t + 1] - s[1]) + $a1 * (l + b)) - l) + $b1 * b,
       |         list_append(s[2:],
       |           $g * (vs[t + 1] - ($a * (vs[t + 1] - s[1]) + $a1 * (l + b)))
       |             + $g1 * s[1])
       |  FROM rec WHERE t < n)
       |SELECT series, n AS n_days,
       |       floor(l * 10000.0 + 0.5) / 10000.0 AS level,
       |       floor(b * 1000000.0 + 0.5) / 1000000.0 AS trend,
       |       floor(s[1] * 10000.0 + 0.5) / 10000.0 AS seasonal_next,
       |       floor((l + b + s[1]) * 10000.0 + 0.5) / 10000.0 AS forecast_next
       |FROM rec WHERE t = n ORDER BY series""".stripMargin
  }

  /** CLASSICAL seasonal DECOMPOSITION per series (additive,
    * moving-average flavor): y = trend + seasonal + residual, with
    * trend = the CENTERED 7-ROW moving average (`rowsBetween(-3,3)`,
    * NULL at the 3-row edges — no partial-window extrapolation;
    * NOTE: rows, not calendar days — on a series with missing days
    * the frame silently spans a wider calendar range and mixes
    * days-of-week, so the classical reading assumes a DENSE daily
    * series; the DuckDB twin uses the identical ROWS frame, so
    * engine parity holds either way), seasonal = the
    * per-day-of-week mean of the detrended values, residual = the
    * remainder — the decomposition read BEFORE forecasting (is the
    * weekly cycle stable? is the residual white? [[holtWinters]]
    * then models what this exposes). Day-of-week is pmod(day, 7)
    * (the q_stats_seasonality integer-arithmetic posture).
    *
    * Parity: daily means are the exact quantized reduction; the
    * centered trend is an exact LONG frame sum over the quantized
    * grid divided in fixed order; detrended values re-quantize to the
    * 1e-9 grid AS LONGS before the per-dow mean (order-free); every
    * output renders via halfUp.
    *
    * Scale posture: one (series, day) reduction; ONE series-key
    * window shuffle for the centered frame (calendar-bounded rows);
    * the dow means are a counts-only hash aggregate broadcast back. */
  def seasonalDecompose(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = dailyMeans(events)
    val w = Window.partitionBy(col("series")).orderBy(col("day"))
      .rowsBetween(-3, 3)
    val yq = floor(col("y") * lit(1e9) + lit(0.5)).cast("long")
    val trended = daily
      .withColumn("yq", yq)
      .withColumn("nf", count(lit(1)).over(w))
      .withColumn("trend",
        when(col("nf") === 7,
          sum(col("yq")).over(w).cast("double") / lit(7.0) / lit(1e9)))
      .withColumn("dow", pmod(col("day"), lit(7L)))
      .withColumn("dq",
        when(col("trend").isNotNull,
          floor((col("y") - col("trend")) * lit(1e9) + lit(0.5)).cast("long")))
    val seas = trended.filter(col("dq").isNotNull)
      .groupBy(col("series"), col("dow"))
      .agg((sum(col("dq")).cast("double") / lit(1e9) /
        count(lit(1)).cast("double")).as("seasonal"))
    trended.join(broadcast(seas), Seq("series", "dow"), "left")
      .select(col("series"), col("day"),
        halfUp(col("y"), 4).as("y"),
        halfUp(col("trend"), 4).as("trend"),
        halfUp(col("seasonal"), 4).as("seasonal"),
        halfUp(col("y") - col("trend") - col("seasonal"), 4).as("residual"))
      .orderBy(col("series"), col("day"))
  }

  /** Generated DuckDB twin of [[holtTrend]]: the fold is replayed as
    * a recursive CTE stepping one day-rank at a time — same init,
    * same fixed operand order, constants emitted from the SAME Scala
    * values (the bootstrap single-source-of-truth posture). */
  private def holtOracleSql: String = {
    // exact shortest-repr literals of the Scala doubles — DuckDB
    // parses them back to the identical bits
    val (a, a1, b, b1) = (HoltAlpha.toString, (1 - HoltAlpha).toString,
      HoltBeta.toString, (1 - HoltBeta).toString)
    s"""WITH RECURSIVE daily AS (
       |  SELECT event_type AS series,
       |         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
       |         CAST(sum(CAST(floor(value * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
       |           / 1000000000.0 / count(*) AS y
       |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
       |o AS (
       |  SELECT series, y,
       |         CAST(row_number() OVER (PARTITION BY series ORDER BY day) AS BIGINT) AS rn,
       |         CAST(count(*) OVER (PARTITION BY series) AS BIGINT) AS n
       |  FROM daily),
       |rec(series, n, t, l, b) AS (
       |  SELECT a.series, a.n, CAST(1 AS BIGINT), a.y, b2.y - a.y
       |  FROM o a JOIN o b2 ON a.series = b2.series AND a.rn = 1 AND b2.rn = 2
       |  UNION ALL
       |  SELECT r.series, r.n, r.t + 1,
       |         $a * o.y + $a1 * (r.l + r.b),
       |         $b * (($a * o.y + $a1 * (r.l + r.b)) - r.l) + $b1 * r.b
       |  FROM rec r JOIN o ON o.series = r.series AND o.rn = r.t + 1)
       |SELECT series, n AS n_days,
       |       floor(l * 10000.0 + 0.5) / 10000.0 AS level,
       |       floor(b * 1000000.0 + 0.5) / 1000000.0 AS trend,
       |       floor((l + b) * 10000.0 + 0.5) / 10000.0 AS forecast_next
       |FROM rec WHERE t = n ORDER BY series""".stripMargin
  }

  /** Lead–lag CROSS-CORRELATION function (CCF) between two daily
    * series: Pearson r of series A against series B shifted by each
    * lag in [−maxLag, +maxLag] — the teleconnection / does-X-lead-Y
    * probe ("do views precede purchases, and by how many days?").
    * A positive peak at lag k means A at day t tracks B at day t+k.
    *
    * Parity: daily means divide integer-quantized sums; every moment
    * (Σx, Σy, Σx², Σy², Σxy) sums a per-row integer-quantized term
    * (products quantized AFTER multiplication — never products of
    * quantized values, whose magnitudes would overflow BIGINT), so
    * each lag's correlation is an order-free fixed chain. Degenerate
    * lags (constant series in the overlap) yield NULL by guard.
    *
    * Scale posture: the facts reduce to (type, day) once; the lag
    * expansion is ±maxLag copies of the DAILY table (calendar-bounded,
    * never row-count-bounded) joined on the shifted day; one hash
    * aggregate per lag carries five longs. */
  def crossCorrelation(events: DataFrame, typeA: String, typeB: String,
      maxLag: Int = 7): DataFrame = {
    require(maxLag >= 1, s"need maxLag >= 1: $maxLag")
    val daily = dailyMeans(events.filter(col("event_type").isin(typeA, typeB)))
    val a = daily.filter(col("series") === typeA)
      .select(col("day"), col("y").as("ya"))
    val b = daily.filter(col("series") === typeB)
      .select(col("day").as("day_b"), col("y").as("yb"))
    val lagged = a.crossJoin(broadcast(
        events.sparkSession.range(-maxLag.toLong, maxLag + 1L)
          .select(col("id").as("lag"))))
      .join(b, col("day") + col("lag") === col("day_b"))
    laggedPearson(lagged, Seq("lag"), "n_days", "ccf")
      .orderBy(col("lag"))
  }

  /** AUTOCORRELATION function (ACF) of every series against itself at
    * lags 1..maxLag — "does today predict tomorrow / next week?", the
    * memory-structure probe run before fitting anything autoregressive
    * (the self-series sibling of [[crossCorrelation]]; a spike at lag
    * 7 here is [[weeklySeasonality]]'s η² seen from the time domain).
    * Each lag's r is the Pearson correlation over the (yₜ, yₜ₊ₖ)
    * overlap pairs, same moments, same quantization discipline as the
    * CCF: means divide integer-quantized sums, every moment sums a
    * per-row integer-quantized term, constant-overlap lags NULL.
    *
    * Scale posture: facts reduce to (series, day) once (checkpointed —
    * both sides of the lag join re-read the reduction, never the
    * facts); the lag expansion is maxLag copies of the calendar-
    * bounded daily table joined on the shifted day; one hash aggregate
    * per (series, lag) carries five longs. */
  def autocorrelation(events: DataFrame, maxLag: Int = 7): DataFrame =
    acf(events, maxLag)._2.orderBy(col("series"), col("lag"))

  /** The pinned daily table and [[autocorrelation]]'s unordered
    * per-(series, lag) readout over it. */
  private def acf(events: DataFrame, maxLag: Int): (DataFrame, DataFrame) = {
    require(maxLag >= 1, s"need maxLag >= 1: $maxLag")
    val daily = dailyMeans(events).localCheckpoint()
    val a = daily.select(col("series"), col("day"), col("y").as("ya"))
    val b = daily.select(col("series").as("series_b"),
      col("day").as("day_b"), col("y").as("yb"))
    val lagged = a.crossJoin(broadcast(
        daily.sparkSession.range(1L, maxLag + 1L).select(col("id").as("lag"))))
      .join(b, col("series") === col("series_b") &&
        col("day") + col("lag") === col("day_b"))
    (daily, laggedPearson(lagged, Seq("series", "lag"), "n_pairs", "acf"))
  }

  /** M4 DOWNSAMPLE per (series, day): first/last/min/max of each
    * bucket — the four points per pixel column that make a downsampled
    * line chart visually indistinguishable from the full series
    * (Jugel et al. 2014, VLDB: M4 is the error-free aggregation for
    * line visualization), and the standard raw-to-dashboard reduction
    * a 100 TB telemetry store serves from. First/last are picked by
    * the (µs, event_id, value) TOTAL order via struct min/max — a
    * same-microsecond tie cannot flip the answer on any engine; min/
    * max/values pass through untouched (no arithmetic, no rendering
    * boundary).
    *
    * Scale posture: ONE map-side-partial hash aggregate on (series,
    * day) — partials are two structs + two doubles + a count; rows
    * cross the wire once, already reduced. */
  def m4Downsample(events: DataFrame): DataFrame = {
    val base = events.filter(col("value").isNotNull)
      .select(col("event_type").as("series"), to_date(col("ts")).as("bucket"),
        unix_micros(col("ts")).as("us"), col("event_id"), col("value"))
    base.groupBy(col("series"), col("bucket"))
      .agg(min(struct(col("us"), col("event_id"), col("value"))).as("f"),
        max(struct(col("us"), col("event_id"), col("value"))).as("l"),
        min(col("value")).as("v_min"), max(col("value")).as("v_max"),
        count(lit(1)).as("n_points"))
      .select(col("series"), col("bucket"),
        col("f.us").as("first_us"), col("f.value").as("v_first"),
        col("l.us").as("last_us"), col("l.value").as("v_last"),
        col("v_min"), col("v_max"), col("n_points"))
      .orderBy(col("series"), col("bucket"))
  }

  /** LJUNG–BOX portmanteau statistic per series — ONE whiteness
    * scalar over the first `maxLag` autocorrelations,
    * Q = n(n+2)·Σ r²ₖ/(n−k): "is there ANY serial structure left?",
    * the aggregate readout over [[autocorrelation]]'s per-lag curve
    * (large Q: the series is not white noise — exactly what a model's
    * RESIDUALS should never show). rₖ here is the ACF operator's
    * pairwise-complete Pearson estimate (documented deviation from
    * the classical fixed-denominator estimator, which needs a
    * gap-free series; on complete data they coincide asymptotically)
    * at its rendered 1e-6 precision — the one set of r values both
    * engines already agree on bit for bit. NULL (degenerate) lags are
    * excluded and counted out via `n_lags`.
    *
    * Parity: each r²ₖ/(n−k) term quantizes to the 1e-12 grid as a
    * LONG before the sum (order-free); the n(n+2)·Σ chain is fixed
    * order. Scale: the ACF reduction does the heavy lifting; `n_days`
    * counts the rows of the same pinned daily table (no second scan of
    * the facts), and the readout adds one series-sized join + hash
    * aggregate. */
  def ljungBox(events: DataFrame, maxLag: Int = 7): DataFrame = {
    val (daily, r) = acf(events, maxLag)
    val days = daily.groupBy(col("series")).agg(count(lit(1)).as("n_days"))
    val nD = col("n_days").cast("double")
    val term = (col("acf") * col("acf")) / (nD - col("lag").cast("double"))
    r.filter(col("acf").isNotNull)
      .join(broadcast(days), "series")
      .groupBy(col("series"))
      .agg(max(col("n_days")).as("n_days"), count(lit(1)).as("n_lags"),
        (sum(floor(term * lit(1e12) + lit(0.5)).cast("long"))
          .cast("double") / lit(1e12)).as("sumt"))
      .select(col("series"), col("n_days"), col("n_lags"),
        halfUp(col("n_days").cast("double") *
          (col("n_days") + lit(2L)).cast("double") * col("sumt"), 4)
          .as("q_lb"))
      .orderBy(col("series"))
  }

  /** KENDALL'S τ-b rank correlation between two daily series paired
    * by day — the fully nonparametric association readout next to
    * [[crossCorrelation]]'s Pearson r (which rides magnitudes; τ
    * counts ORDER agreements, so one outlier day moves it by at most
    * its pair share): over all day pairs i<j, concordant means the
    * two series move the same way, discordant opposite; τ_b =
    * (C−D)/√((n₀−t_x)(n₀−t_y)) with the tie corrections, NULL when
    * either series is constant (denominator 0).
    *
    * Parity: daily means are the exact quantized reduction, so every
    * comparison (>, <, =) is on bit-identical doubles; C, D, tie and
    * pair counts are exact BIGINTs; the final τ is one fixed-order
    * double chain. Scale posture: the pair expansion is over the
    * PAIRED daily reduction — calendar-bounded (the Theil–Sen
    * argument: 100 TB over 2 years is still ≤ ~270k pairs), broadcast
    * to a nested-loop self-join; the facts reduce in one hash
    * aggregate. */
  def kendallTau(events: DataFrame, typeA: String, typeB: String): DataFrame = {
    val paired = pairedDaily(events, typeA, typeB)
    val nDays = paired.agg(count(lit(1)).as("n_days"))
    val prod = (col("x1") - col("x2")) * (col("y1") - col("y2"))
    val cnts = paired.select(col("day").as("d1"), col("x").as("x1"),
        col("yy").as("y1"))
      .join(broadcast(paired.select(col("day").as("d2"), col("x").as("x2"),
        col("yy").as("y2"))), col("d1") < col("d2"))
      .agg(count(lit(1)).as("n0"),
        sum(when(prod > 0.0, 1L).otherwise(0L)).as("nc"),
        sum(when(prod < 0.0, 1L).otherwise(0L)).as("nd"),
        sum(when(col("x1") === col("x2"), 1L).otherwise(0L)).as("tx"),
        sum(when(col("y1") === col("y2"), 1L).otherwise(0L)).as("ty"))
    val denomX = (col("n0") - col("tx")).cast("double")
    val denomY = (col("n0") - col("ty")).cast("double")
    cnts.crossJoin(broadcast(nDays))
      .select(col("n_days"), col("nc").as("n_concordant"),
        col("nd").as("n_discordant"),
        halfUp(when(col("n0") === col("tx") || col("n0") === col("ty"),
            lit(null).cast("double"))
          .otherwise((col("nc") - col("nd")).cast("double") /
            sqrt(denomX * denomY)), 6).as("tau_b"))
  }

  /** SPEARMAN'S ρ rank correlation between the same paired daily
    * series — the rank-domain companion of [[kendallTau]] (τ counts
    * pairwise order agreements; ρ is Pearson over the rank
    * transforms, so it reads monotone-but-nonlinear association at
    * Pearson cost and is the cross-check every stats package reports
    * next to τ). Ties get AVERAGE ranks, the classical tie treatment.
    *
    * Parity is exact end to end, with no quantization needed: daily
    * means are the usual exact quantized reduction, so rank
    * comparisons are on bit-identical doubles; average ranks are
    * half-integers, carried here as INTEGER doubled ranks r2 =
    * 2·rank() + ties − 1 (= 2·avgRank, a BIGINT both engines compute
    * identically); Pearson is scale-invariant, so ρ over r2 equals ρ
    * over the ranks, and every moment (Σx, Σx², Σxy …) is an exact
    * BIGINT sum — the final ρ is one fixed-order double chain over
    * exact integers. NULL when either series is constant
    * (denominator 0).
    *
    * Scale posture: facts reduce once to the calendar-bounded paired
    * daily table; the doubled ranks come from the DISTINCT-VALUE
    * global prefix sum ([[doubledRanks]]: one aggregate per distinct
    * value + [[Windows.prefixSums]] — no partition-less
    * window anywhere, so the op stays rank-correct even when the
    * ranked relation is NOT calendar-bounded); the readout is one
    * moments-only aggregate. */
  /** Doubled AVERAGE ranks (2·avgRank, an exact BIGINT) for a value
    * column, computed WITHOUT a partition-less window: one
    * distinct-value count aggregate + the distributed global prefix
    * sum over the value order — cntLt = inclusiveCum − ownCount, so
    * 2·avgRank = 2·cntLt + ties + 1 = 2·cum − count + 1. The result
    * is distinct-value-sized: broadcastable for bounded domains, an
    * ordinary hash join otherwise — either way no relation ever
    * serializes onto one task for ranking. */
  private def doubledRanks(df: DataFrame, v: String, out: String): DataFrame = {
    val vc = df.groupBy(col(v)).agg(count(lit(1)).as("_c"))
    Windows.prefixSums(vc, Nil, Seq(col("_c") -> "_cum"), Seq(col(v)))._1
      .select(col(v), (lit(2L) * col("_cum") - col("_c") + lit(1L)).as(out))
  }

  def spearmanRho(events: DataFrame, typeA: String, typeB: String): DataFrame = {
    val paired = pairedDaily(events, typeA, typeB)
      // pinned once (r17, guide §1.2): the main moment chain and BOTH
      // broadcast rank builds consumed this un-pinned day-pair join —
      // the events scan + daily aggregate + self-join executed three
      // times (30 jobs). The checkpoint is day-count-sized. Values
      // unchanged (same rows feed the same aggregates).
      .localCheckpoint()
    val m = paired
      .join(broadcast(doubledRanks(paired, "x", "rx")), "x")
      .join(broadcast(doubledRanks(paired, "yy", "ry")), "yy")
      .select(col("rx"), col("ry"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("rx")).as("sx"), sum(col("ry")).as("sy"),
        sum(col("rx") * col("rx")).as("sxx"),
        sum(col("ry") * col("ry")).as("syy"),
        sum(col("rx") * col("ry")).as("sxy"))
    val nD = col("n_days").cast("double")
    val cov = nD * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    val vx = nD * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val vy = nD * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    m.select(col("n_days"),
      halfUp(when(vx === 0.0 || vy === 0.0, lit(null).cast("double"))
        .otherwise(cov / sqrt(vx * vy)), 6).as("rho"))
  }

  /** WILCOXON SIGNED-RANK test on the paired daily series — the
    * PAIRED companion of the Mann–Whitney rank-sum (that one asks
    * "do two independent samples differ?", this one "is the paired
    * day-wise difference systematically signed?" — the matched-days
    * design cancels day effects): dᵢ = xᵢ − yᵢ, zero differences
    * dropped (classical), |d| ranked ascending with AVERAGE ranks,
    * W⁺ = Σ ranks of positive d, normal approximation with the tie
    * correction: z = (W⁺ − n(n+1)/4) / √(n(n+1)(2n+1)/24 −
    * Σ(t³−t)/48). NULL z when the variance degenerates (all |d|
    * tied in one group).
    *
    * Parity: daily means are the exact quantized reduction, so d and
    * |d| compare bit-identically; average ranks are INTEGER doubled
    * ranks (the spearman posture) and W⁺ = (Σ r2)/2 is exact in
    * halves; the tie term Σ(t³−t) is an exact BIGINT; the z chain is
    * fixed-order doubles. Scale: ranks via the distinct-value global
    * prefix sum ([[doubledRanks]] — no partition-less window); one
    * counts-only tie aggregate. */
  def wilcoxonSignedRank(events: DataFrame, typeA: String, typeB: String):
      DataFrame = {
    val diffs = pairedDaily(events, typeA, typeB)
      .select((col("x") - col("yy")).as("d"))
      .filter(col("d") =!= 0.0)
      .withColumn("ad", abs(col("d")))
      // pinned once (r17): W⁺ chain, rank build, and tie census all
      // consumed the un-pinned diff join (the spearman fix's shape)
      .localCheckpoint()
    val m = diffs
      .join(broadcast(doubledRanks(diffs, "ad", "r2")), "ad")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("d") > 0.0, col("r2")).otherwise(0L)).as("w2"))
    val ties = diffs.groupBy(col("ad")).agg(count(lit(1)).as("t"))
      .agg(coalesce(sum(col("t") * col("t") * col("t") - col("t")), lit(0L))
        .as("tsum"))
    val nD = col("n_pairs").cast("double")
    val wPlus = col("w2").cast("double") / lit(2.0)
    val e = nD * (nD + lit(1.0)) / lit(4.0)
    val varW = nD * (nD + lit(1.0)) * (lit(2.0) * nD + lit(1.0)) / lit(24.0) -
      col("tsum").cast("double") / lit(48.0)
    m.crossJoin(broadcast(ties))
      .select(col("n_pairs"),
        halfUp(wPlus, 1).as("w_plus"),
        halfUp(when(varW <= 0.0, lit(null).cast("double"))
          .otherwise((wPlus - e) / sqrt(varW)), 6).as("z"))
  }

  /** ROLLING CORRELATION between the paired daily series: trailing
    * `window`-day Pearson r over (day-ordered) paired daily means —
    * the TIME-LOCAL association readout next to [[crossCorrelation]]'s
    * whole-series r ("are views and purchases coupling or decoupling
    * this week?" — regime changes that a global coefficient averages
    * away). NULL until the frame holds ≥ 2 days or while either side
    * is constant within the frame.
    *
    * Parity: the 1e-9-grid daily means re-quantize to a 1e-4 grid as
    * BIGINTs; all five rolling moments (Σx, Σy, Σx², Σy², Σxy)
    * accumulate LONGS — exact under Spark's sequential vs DuckDB's
    * segment-tree frame evaluation (the q_window_volatility
    * argument) — and r is one fixed-order double chain per row.
    * Grid headroom: a single Σxy term is xq·yq ≤ q², so a
    * `window`-row frame's long Σxy stays under 2⁶³ only while
    * |quantized mean| ≤ ⌊√(2⁶³/window)⌋ (≈ 1.148×10⁹ at window=7,
    * i.e. |daily mean| < ~1.1×10⁵ on the 1e-4 grid — NOT 10⁷; Spark
    * wraps long sums silently under non-ANSI while DuckDB widens to
    * HUGEINT, so exceeding it is both wrong and cross-engine
    * divergent). An in-plan raise_error pre-flight (the
    * [[spanGuarded]] posture — zero extra jobs) rejects any paired day
    * past the bound instead of silently wrapping.
    *
    * Scale posture: facts reduce once; the rolling frame runs over
    * the calendar-bounded paired daily table, single partition BY
    * BOUND (the Theil–Sen argument). The partition key is the
    * NON-FOLDABLE constant pmod(day, 1): a literal key would be
    * constant-folded out of the optimized partitionSpec, making the
    * window read as the partition-less scale-killer to both
    * WindowExec's warning and PlanSpec's window sweep — this one
    * hashes every row to one partition (same execution) while keeping
    * the spec's boundedness contract visible in the plan. */
  def rollingCorrelation(events: DataFrame, typeA: String, typeB: String,
      window: Int = 7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(window >= 2, s"need window >= 2: $window")
    val paired = pairedDaily(events, typeA, typeB).select(col("day"),
      floor(col("x") * lit(1e4) + lit(0.5)).cast("long").as("xq"),
      floor(col("yy") * lit(1e4) + lit(0.5)).cast("long").as("yq"))
    // Pre-flight overflow guard (see scaladoc): a frame's long Σxy is
    // safe iff every |quantized mean| ≤ ⌊√(2⁶³/window)⌋. In-plan
    // raise_error, zero extra jobs, as in spanGuarded.
    // the √ bound alone is off by one when 2⁶³/window is a perfect
    // square (window = 2, 8, 32, …): qmax²·window == 2⁶³ > MaxValue,
    // so a frame of values exactly at ±qmax would wrap — tighten by
    // exact integer decrement (BigInt: window·qmax² itself can wrap)
    var qmax = math.floor(math.sqrt(Long.MaxValue.toDouble / window)).toLong
    while (qmax > 0 &&
        BigInt(window) * BigInt(qmax) * BigInt(qmax) > BigInt(Long.MaxValue))
      qmax -= 1
    def guarded(c: Column, nm: String): Column =
      when(abs(c) > qmax, raise_error(concat(
        lit(s"rollingCorrelation: |$nm| quantized daily mean "),
        abs(c).cast("string"),
        lit(s" exceeds $qmax (1e-4 grid, window=$window) — the frame's " +
          "long sums would overflow 2^63; coarsen the grid or pre-scale " +
          "the series")))).otherwise(c)
    val gPaired = paired.select(col("day"),
      guarded(col("xq"), "x").as("xq"), guarded(col("yq"), "y").as("yq"))
    val w = Window.partitionBy(pmod(col("day"), lit(1L))).orderBy(col("day"))
      .rowsBetween(-(window - 1).toLong, Window.currentRow)
    val nw = count(lit(1)).over(w)
    val sx = sum(col("xq")).over(w).cast("double")
    val sy = sum(col("yq")).over(w).cast("double")
    val sxx = sum(col("xq") * col("xq")).over(w).cast("double")
    val syy = sum(col("yq") * col("yq")).over(w).cast("double")
    val sxy = sum(col("xq") * col("yq")).over(w).cast("double")
    val nD = nw.cast("double")
    val cov = nD * sxy - sx * sy
    val vx = nD * sxx - sx * sx
    val vy = nD * syy - sy * sy
    gPaired.select(col("day"), nw.as("n_window"),
        halfUp(when(nw < 2 || vx === 0.0 || vy === 0.0,
            lit(null).cast("double"))
          .otherwise(cov / sqrt(vx * vy)), 6).as("r"))
      .orderBy(col("day"))
  }

  /** WALD–WOLFOWITZ runs test on each series' daily up/down moves —
    * "is this series' day-to-day direction random, trending, or
    * oscillating?" (too FEW runs: momentum/trending; too MANY:
    * mean-reverting oscillation) — the direction-domain randomness
    * screen next to [[autocorrelation]]'s magnitude-domain one.
    * Direction of day t (from the 2nd observed day on) is
    * up = yₜ > yₜ₋₁ over CONSECUTIVE observed days (gaps splice — the
    * classical test is about the move SEQUENCE); a run is a maximal
    * same-direction streak: R = 1 + Σ(sₜ ≠ sₜ₋₁). With n₁ ups and n₂
    * downs, E[R] = 1 + 2n₁n₂/n and Var[R] = 2n₁n₂(2n₁n₂−n)/(n²(n−1));
    * z = (R − E)/√Var, NULL when either side is empty (Var = 0).
    *
    * Parity: the daily y is the usual exact quantized mean, so the
    * strict > compares bit-identical doubles on both engines; run and
    * direction counts are exact integers; only the final per-series z
    * chain touches doubles, in a fixed operand order the oracle
    * mirrors.
    *
    * Scale posture: facts reduce to (series, day) once; directions
    * and run breaks are per-series lag windows over the calendar-
    * bounded daily table (partitioned by series — never a global
    * window); the readout is one counts-only hash aggregate. */
  def runsTest(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = dailyMeans(events)
    val w = Window.partitionBy(col("series")).orderBy(col("day"))
    val moves = daily
      .withColumn("prev", lag(col("y"), 1).over(w))
      .filter(col("prev").isNotNull)
      .withColumn("up", when(col("y") > col("prev"), 1L).otherwise(0L))
      .withColumn("brk",
        when(lag(col("up"), 1).over(w).isNull ||
          lag(col("up"), 1).over(w) =!= col("up"), 1L).otherwise(0L))
    val agg = moves.groupBy(col("series"))
      .agg((count(lit(1)) + 1L).as("n_days"),
        sum(col("up")).as("n_up"),
        (count(lit(1)) - sum(col("up"))).as("n_down"),
        sum(col("brk")).as("n_runs"))
    val n1 = col("n_up").cast("double")
    val n2 = col("n_down").cast("double")
    val nD = n1 + n2
    val eR = lit(1.0) + lit(2.0) * n1 * n2 / nD
    val varR = lit(2.0) * n1 * n2 * (lit(2.0) * n1 * n2 - nD) /
      (nD * nD * (nD - lit(1.0)))
    agg.select(col("series"), col("n_days"), col("n_up"), col("n_down"),
        col("n_runs"),
        halfUp(when(col("n_up") === 0L || col("n_down") === 0L,
            lit(null).cast("double"))
          .otherwise((col("n_runs").cast("double") - eR) / sqrt(varR)), 4)
          .as("z_runs"))
      .orderBy(col("series"))
  }

  /** CUSUM CHANGE-POINT locator per series: the day where the
    * running sum of deviations from the series mean attains its
    * maximum ABSOLUTE excursion — the classical single change-point
    * estimate (the argmax companion of [[Windows.cusumProfile]]'s
    * excursion heights: not "did the level shift" but WHERE). Over
    * the daily reduction; emitted per series: the located day index,
    * the signed CUSUM there, and how far through the series it sits
    * (a change point at 50% with a large |CUSUM| is the textbook
    * sustained shift; one at 2% is an initialization artifact).
    *
    * Float parity is by INTEGER construction: daily means come off
    * the quantized order-free sum, the series mean divides a second
    * 1e-6-quantized integer sum OF those rendered daily values, each
    * deviation re-quantizes to the 1e-6 grid as a BIGINT, and the
    * running sum accumulates longs. The argmax is the total
    * (|cusum|, earlier-day-wins) struct order — no tolerance
    * anywhere. Ties on |cusum| resolve to the EARLIEST day, and the
    * convention is replayed by the oracle.
    *
    * Scale posture: facts collapse to (series, day) in one map-side-
    * partial aggregate; the mean is a series-sized broadcast join
    * back; one series-key window shuffle carries a long. */
  def changePoint(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = dailyMeans(events)
    val means = daily.groupBy(col("series"))
      .agg((sum(floor(col("y") * lit(1e6) + lit(0.5)).cast("long"))
        .cast("double") / lit(1e6) / count(lit(1)).cast("double")).as("mu"),
        count(lit(1)).as("n_days"))
    val w = Window.partitionBy(col("series")).orderBy(col("day"))
    daily.join(broadcast(means), Seq("series"))
      .withColumn("devq",
        floor((col("y") - col("mu")) * lit(1e6) + lit(0.5)).cast("long"))
      .withColumn("cusumq", sum(col("devq")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rn", row_number().over(w))
      .groupBy(col("series"))
      .agg(max(col("n_days")).as("n_days"),
        max(struct(abs(col("cusumq")).as("a"), (-col("day")).as("nd"),
          col("cusumq").as("c"), col("rn").as("r"))).as("m"))
      .select(col("series"), col("n_days"),
        (-col("m.nd")).as("cp_day"),
        graft.halfUp(col("m.c").cast("double") / lit(1e6), 4).as("cusum_at"),
        graft.halfUp(col("m.r").cast("double") /
          col("n_days").cast("double"), 4).as("frac_through"))
      .orderBy(col("series"))
  }

  /** POISSON RATE SCREEN per series-day: each observed day's event
    * COUNT against the series' mean daily rate λ (total events /
    * calendar span), z = (n − λ)/√λ — the count-domain anomaly
    * screen next to the value-domain [[Aggregations.anomalyMad]]
    * ("was Tuesday's traffic a spike?" is a rate question, not a
    * value question). Days with NO events do not appear (the screen
    * flags spikes and sags among observed days; outage detection is
    * [[resampleDaily]]'s gap territory).
    *
    * Parity: counts and the span are exact BIGINTs; λ and z are one
    * fixed-order double chain per row over those longs (the √ is
    * IEEE exactly-rounded), halfUp-rendered; the flag compares the
    * UNRENDERED z against 3.0 — deterministic on both engines.
    *
    * Scale posture: one map-side-partial (series, day) count
    * aggregate; λ rides a series-sized broadcast join back. No
    * window, no second shuffle. */
  def poissonDays(events: DataFrame): DataFrame = {
    val daily = events.groupBy(seriesDay: _*).agg(count(lit(1)).as("n"))
    val lam = daily.groupBy(col("series"))
      .agg(sum(col("n")).as("tot"),
        (max(col("day")) - min(col("day")) + 1L).as("span"))
      .select(col("series"), col("span"),
        (col("tot").cast("double") / col("span").cast("double")).as("lam"))
    val z = (col("n").cast("double") - col("lam")) / sqrt(col("lam"))
    daily.join(broadcast(lam), Seq("series"))
      .select(col("series"), col("day"), col("n"),
        graft.halfUp(z, 4).as("z"),
        when(abs(z) >= lit(3.0), 1L).otherwise(0L).as("is_anomaly"))
      .orderBy(col("series"), col("day"))
  }

  /** BUSINESS-DAY SLA per order month: order-to-ship latency in
    * BUSINESS days (weekends excluded) — the delta every ops
    * dashboard reports, which calendar datediff over-counts by the
    * weekend share. Weekday math is PURE INTEGER arithmetic off a
    * fixed Monday anchor (1970-01-05): bd(d) = business days in
    * [anchor, d) = (Δ div 7)·5 + min(Δ mod 7, 5); the latency is
    * bd(ship) − bd(order) — no calendar function whose week
    * numbering/locale could differ between engines.
    *
    * Scale posture: one orderkey equi join (the standard lineitem ⋈
    * orders shuffle), then one map-side-partial month aggregate; the
    * mean is a fixed division over exact longs, halfUp 4. */
  def businessDaySla(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    def bd(d: Column): Column = {
      val dl = datediff(d, to_date(lit("1970-01-05"))).cast("long")
      val m = pmod(dl, lit(7L))
      ((dl - m) / lit(7L)).cast("long") * 5L + least(m, lit(5L))
    }
    lineitem.select(col("l_orderkey"), to_date(col("l_shipdate")).as("ship"))
      .join(orders.select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .cast("long").as("ym"),
        (bd(col("ship")) - bd(to_date(col("o_orderdate")))).as("bd"))
      .groupBy(col("ym"))
      .agg(count(lit(1)).as("n_items"),
        graft.halfUp(sum(col("bd")).cast("double") /
          count(lit(1)).cast("double"), 4).as("mean_bd"),
        min(col("bd")).as("min_bd"), max(col("bd")).as("max_bd"))
      .orderBy(col("ym"))
  }

  /** Euler–Mascheroni constant, √6/π, and the 10-period Gumbel
    * reduced variate −ln(−ln(0.9)) — computed ONCE here and emitted
    * as the same full-precision literals into both the Spark plan and
    * the generated DuckDB oracle, so no engine's `ln` implementation
    * is on the parity path. */
  private[graft] val GumbelGamma = 0.5772156649015329
  private[graft] val GumbelC = math.sqrt(6.0) / math.Pi
  private[graft] val GumbelZ10 = -math.log(-math.log(0.9))

  /** GUMBEL EXTREME-VALUE fit per series by the method of moments
    * over MONTHLY BLOCK MAXIMA — the return-level analysis every
    * climate/risk pipeline runs on extremes ("what monthly maximum
    * does a 10-period event reach?"): location/scale from the block
    * maxima's mean and std (scale = std·√6/π, loc = mean − γ·scale),
    * plus the 10-period return level loc + scale·(−ln(−ln(0.9))).
    * Degenerate series (< 2 blocks or zero variance) yield NULL fit
    * columns, never an error.
    *
    * Parity: block maxima are raw values (max = comparison only);
    * their mean/std come off 1e-4-grid integer sums (Σq, Σq² as
    * order-free BIGINTs); the fit is one fixed-order double chain
    * whose three transcendental constants are SCALA-SIDE literals
    * emitted identically into both engines (see [[GumbelGamma]]) —
    * no ln/π/γ evaluation happens in either engine.
    *
    * Scale posture: two map-side-partial hash aggregates (raw →
    * blocks → series moments); nothing else moves. */
  def gumbelExtremes(events: DataFrame): DataFrame = {
    val blocks = events.filter(col("value").isNotNull)
      .groupBy(col("event_type").as("series"),
        (year(col("ts")) * 100 + month(col("ts"))).cast("long").as("ym"))
      .agg(max(col("value")).as("bmax"))
    val q = floor(col("bmax") * lit(1e4) + lit(0.5)).cast("long")
    val agg = blocks.groupBy(col("series"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(q).as("s1"), sum(q * q).as("s2"))
    val nd = col("n_blocks").cast("double")
    val s1d = col("s1").cast("double")
    val s2d = col("s2").cast("double")
    val mean = s1d / nd / lit(1e4)
    val vq = (s2d - s1d * s1d / nd) / (nd - lit(1.0))
    val std = sqrt(vq) / lit(1e4)
    val scale = std * lit(GumbelC)
    val loc = mean - lit(GumbelGamma) * scale
    val rl10 = loc + scale * lit(GumbelZ10)
    val ok = col("n_blocks") >= 2L && vq > lit(0.0)
    agg.select(col("series"), col("n_blocks"),
        graft.halfUp(when(ok, loc), 4).as("gum_loc"),
        graft.halfUp(when(ok, scale), 4).as("gum_scale"),
        graft.halfUp(when(ok, rl10), 4).as("rl10"))
      .orderBy(col("series"))
  }

  /** Generated DuckDB twin of [[gumbelExtremes]] — the same quantized
    * moments and the same fixed fit chain with the SAME three
    * constant literals interpolated from the Scala values. */
  private[graft] def gumbelOracleSql: String = {
    val g = GumbelGamma.toString
    val c = GumbelC.toString
    val z = GumbelZ10.toString
    s"""WITH b AS (
       |  SELECT event_type AS series,
       |         CAST(year(CAST(ts AS TIMESTAMP)) * 100
       |              + month(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ym,
       |         max(value) AS bmax
       |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
       |a AS (
       |  SELECT series, CAST(count(*) AS BIGINT) AS n_blocks,
       |         CAST(sum(CAST(floor(bmax * 1e4 + 0.5) AS BIGINT)) AS BIGINT) AS s1,
       |         CAST(sum(CAST(floor(bmax * 1e4 + 0.5) AS BIGINT)
       |                  * CAST(floor(bmax * 1e4 + 0.5) AS BIGINT)) AS BIGINT) AS s2
       |  FROM b GROUP BY 1),
       |f AS (
       |  SELECT series, n_blocks,
       |         CAST(s1 AS DOUBLE) / CAST(n_blocks AS DOUBLE) / 1e4 AS mean,
       |         (CAST(s2 AS DOUBLE)
       |            - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
       |              / CAST(n_blocks AS DOUBLE))
       |           / (CAST(n_blocks AS DOUBLE) - 1.0) AS vq
       |  FROM a)
       |SELECT series, n_blocks,
       |       floor(CASE WHEN n_blocks >= 2 AND vq > 0.0
       |              THEN mean - $g * (sqrt(vq) / 1e4 * $c) END
       |             * 1e4 + 0.5) / 1e4 AS gum_loc,
       |       floor(CASE WHEN n_blocks >= 2 AND vq > 0.0
       |              THEN sqrt(vq) / 1e4 * $c END * 1e4 + 0.5) / 1e4
       |         AS gum_scale,
       |       floor(CASE WHEN n_blocks >= 2 AND vq > 0.0
       |              THEN (mean - $g * (sqrt(vq) / 1e4 * $c))
       |                   + (sqrt(vq) / 1e4 * $c) * $z END
       |             * 1e4 + 0.5) / 1e4 AS rl10
       |FROM f ORDER BY series""".stripMargin
  }

  /** Region-of-interest polygon for [[pointInPolygon]] — (lon, lat)
    * vertices, closed implicitly. Deliberately irregular and
    * off-grid (no vertex or edge passes through a 0.5°/0.625° cell
    * center), so no cell sits on a boundary tie. ONE definition
    * feeds both the Spark plan and the generated DuckDB oracle. */
  val roiPolygon: Seq[(Double, Double)] = Seq(
    (-60.17, -30.23), (0.37, -45.11), (60.29, -30.41),
    (40.13, 30.27), (-40.31, 35.17))

  /** POINT-IN-POLYGON classification of the grid — the
    * region-of-interest mask every spatial pipeline needs beyond the
    * rectangular [[q_filter_land_mask]]: which cells fall inside an
    * arbitrary (possibly concave) polygon, by even–odd ray casting
    * (a horizontal ray crosses the boundary an odd number of times
    * iff the point is inside).
    *
    * The crossing test is a SUM of integer indicators mod 2 — parity
    * in the integer domain — over per-edge conditions whose
    * arithmetic is a fixed-order double chain with Scala-side
    * pre-folded edge constants, emitted identically into both
    * engines. Horizontal-edge degeneracy is excluded by the (y₁>y)≠
    * (y₂>y) guard before the slope quotient matters (IEEE ±inf
    * compares safely — no error path either way).
    *
    * Scale posture: one (lat, lon) hash aggregate reduces the cube
    * to its grid; the polygon test is a codegen'd scalar over that
    * cells-sized table — no join, no second shuffle. A vertex-heavy
    * polygon stays a linear chain of scalar ops; a polygon TABLE
    * (many ROIs) would broadcast and explode instead. */
  def pointInPolygon(events: DataFrame,
      poly: Seq[(Double, Double)] = roiPolygon): DataFrame = {
    require(poly.size >= 3, s"need >= 3 vertices: ${poly.size}")
    val cells = syntheticGrid(events)
      .groupBy(col("lat"), col("lon")).agg(count(lit(1)).as("n_obs"))
    val x = col("lon")
    val y = col("lat")
    val crossings = poly.indices.map { i =>
      val (x1, y1) = poly(i)
      val (x2, y2) = poly((i + 1) % poly.size)
      val dx = x2 - x1
      val dy = y2 - y1
      when(((lit(y1) > y) =!= (lit(y2) > y)) &&
        (x < lit(dx) * (y - lit(y1)) / lit(dy) + lit(x1)), 1).otherwise(0)
    }.reduce(_ + _)
    cells.filter(crossings % 2 === 1)
      .select(col("lat"), col("lon"), col("n_obs"))
      .orderBy(col("lat"), col("lon"))
  }

  /** The generated DuckDB twin of [[pointInPolygon]]: the SAME vertex
    * list renders the same pre-folded edge constants (Double.toString
    * round-trips exactly; CAST AS DOUBLE pins DuckDB off its DECIMAL
    * literal default), the same indicator sum, the same parity test. */
  private[operators] def pipOracleSql(poly: Seq[(Double, Double)]): String = {
    val conds = poly.indices.map { i =>
      val (x1, y1) = poly(i)
      val (x2, y2) = poly((i + 1) % poly.size)
      val dx = x2 - x1
      val dy = y2 - y1
      s"""(CASE WHEN ((CAST($y1 AS DOUBLE) > lat) != (CAST($y2 AS DOUBLE) > lat))
         |  AND lon < CAST($dx AS DOUBLE) * (lat - CAST($y1 AS DOUBLE))
         |            / CAST($dy AS DOUBLE) + CAST($x1 AS DOUBLE)
         |  THEN 1 ELSE 0 END)""".stripMargin
    }.mkString("\n + ")
    s"""WITH cells AS (
       |  SELECT (event_id % 360) * 0.5 - 90.0 AS lat,
       |         ((event_id * 7) % 576) * 0.625 - 180.0 AS lon,
       |         CAST(count(*) AS BIGINT) AS n_obs
       |  FROM events GROUP BY 1, 2)
       |SELECT lat, lon, n_obs FROM cells
       |WHERE ($conds) % 2 = 1
       |ORDER BY lat, lon""".stripMargin
  }

  /** Heating / cooling DEGREE DAYS per cell-month — the standard
    * threshold-integrated climate index (energy-demand proxy): for a
    * base level b, HDD accumulates max(0, b − v) and CDD accumulates
    * max(0, v − b) over the month's observations. The reference stops
    * at monthly means; degree days are the canonical next index over
    * the identical grouping.
    *
    * Same scale shape as [[gridCoarsen]]: a codegen'd scalar clamp
    * feeding ONE hash aggregate on (cell, month) — partials are four
    * doubles, the exchange is cells×months wide, rows never move. */
  def degreeDays(events: DataFrame, base: Double): DataFrame =
    syntheticGrid(events).filter(col("value").isNotNull)
      .groupBy(col("lat"), col("lon"),
        year(col("ts")).cast("int").as("year"),
        month(col("ts")).cast("int").as("month"))
      .agg(count(lit(1)).as("n_obs"),
        round(sum(greatest(lit(0.0), lit(base) - col("value"))), 4).as("hdd"),
        round(sum(greatest(lit(0.0), col("value") - lit(base))), 4).as("cdd"))
      .orderBy(col("lat"), col("lon"), col("year"), col("month"))

  /** HEATWAVE / threshold-run detection per latitude band: maximal
    * runs of CONSECUTIVE DAYS whose daily max exceeds the threshold —
    * the standard climate-extremes index (warm-spell duration, WSDI
    * family), the temporal complement of [[degreeDays]]' integrated
    * magnitude. Output per band: run count, longest run, total hot
    * days.
    *
    * Gaps-and-islands over the DAILY REDUCTION: the 100 TB stream
    * first collapses to (band, day, daily max) — a plain hash
    * aggregate, counts-only shuffle — and the island window (run key
    * = day − per-band row number) runs over that bounded table
    * (bands × days rows), so the ordered window is never
    * relation-sized. Daily MAX (not mean) keeps the hot-day predicate
    * order-insensitive — no float-sum boundary for the oracle to
    * disagree on.
    *
    * All grouping/partitioning is on the INTEGER band index, never
    * the double latitude: a float partition key gets wrapped in
    * `knownfloatingpointnormalized(normalizenanandzero(…))` by the
    * window but not by the aggregates, the partitionings stop
    * matching, and the two-exchange plan silently doubles (observed:
    * 4 exchanges; pinned at 2 in PlanSpec). The latitude is derived
    * from the band for output only. */
  def heatwaveRuns(events: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events.filter(col("value").isNotNull)
      .groupBy((col("event_id") % 360).cast("int").as("band"),
        datediff(to_date(col("ts")), to_date(lit("1970-01-01"))).as("di"))
      .agg(max(col("value")).as("day_max"))
    val hot = daily.filter(col("day_max") > threshold)
    val w = Window.partitionBy(col("band")).orderBy(col("di"))
    val runs = hot
      .withColumn("grp", col("di") - row_number().over(w))
      .groupBy(col("band"), col("grp"))
      .agg(count(lit(1)).as("run_days"))
    runs.groupBy(col("band"))
      .agg(count(lit(1)).as("n_runs"),
        max(col("run_days")).as("max_run_days"),
        sum(col("run_days")).as("hot_days"))
      .select((col("band") * 0.5 - 90.0).as("lat"),
        col("n_runs"), col("max_run_days"), col("hot_days"))
      .orderBy(col("lat"))
  }

  /** Nearest-station assignment: every grid cell mapped to its
    * closest station by great-circle distance — the station-matching
    * join behind bias correction and in-situ/satellite comparison
    * (the geodesic analog of the reference's land-mask cell lookup).
    *
    * The station table is small BY NATURE (thousands at most), so the
    * assignment is a broadcast cross join + min_by per cell: the 100 TB
    * cell side never shuffles — one codegen'd distance per (cell,
    * station) and a map-side-combining hash aggregate on the cell key.
    * Ties break on station_id via the composite (dist, id) ordering. */
  def nearestStation(cells: DataFrame, stations: DataFrame): DataFrame = {
    val dist = haversineKm(col("lat"), col("lon"), col("slat"), col("slon"))
    cells.crossJoin(broadcast(stations))
      .select(col("lat"), col("lon"), col("station_id"), dist.as("dist"))
      .groupBy(col("lat"), col("lon"))
      .agg(min_by(struct(col("station_id"), col("dist")),
        struct(col("dist"), col("station_id"))).as("best"))
      .select(col("lat"), col("lon"),
        col("best.station_id").as("station_id"),
        round(col("best.dist"), 4).as("dist_km"))
      .orderBy(col("lat"), col("lon"))
  }

  /** Deterministic synthetic station set over `nation` (25 rows): the
    * registered stand-in for a real station table. */
  def syntheticStations(nation: DataFrame): DataFrame =
    nation.select(col("n_nationkey").as("station_id"),
      ((col("n_nationkey") * 7) % 36 * 5.0 - 87.5).as("slat"),
      ((col("n_nationkey") * 11) % 72 * 5.0 - 177.5).as("slon"))

  /** Linear gap interpolation along each series' time axis (xarray
    * `interpolate_na(dim='time')` — the reference drops NULL readings
    * outright, precipitation_pipeline.py:120; an archive-quality
    * pipeline fills interior gaps instead). Interior nulls get the
    * time-weighted linear blend of the nearest non-null neighbors;
    * leading/trailing gaps fall back to back-/forward-fill.
    *
    * Both neighbor lookups run as ignore-null `last` over an
    * UNBOUNDED-PRECEDING frame — the forward pass on the ascending
    * sort, the backward pass on the DESCENDING sort ("first non-null
    * after me" ≡ "last non-null before me, time-reversed"). The
    * running frame is Spark's incremental one (O(n) per partition,
    * constant state); the naive unbounded-FOLLOWING frame re-scans
    * the tail per row — O(n²) per partition, measured 7.4 s vs 1.5 s
    * at sf0.1. Cost: two sorts of the same shuffle partition instead
    * of one; still one shuffle on the series key, no self-join. */
  def interpolateGaps(events: DataFrame, series: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = events.select(col("event_id"), series.cast("int").as("series"),
      col("ts"), col("value"), unix_micros(col("ts")).as("t"))
    val pre = Window.partitionBy(col("series"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val post = Window.partitionBy(col("series"))
      .orderBy(col("ts").desc, col("event_id").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val obsV = when(col("value").isNotNull, col("value"))
    val obsT = when(col("value").isNotNull, col("t"))
    val pv = last(obsV, ignoreNulls = true).over(pre)
    val pt = last(obsT, ignoreNulls = true).over(pre)
    val nv = last(obsV, ignoreNulls = true).over(post)
    val nt = last(obsT, ignoreNulls = true).over(post)
    // nt == pt only when the bracketing non-null neighbors share one
    // timestamp (duplicate-ts series): the slope is undefined and
    // non-ANSI double division would yield NULL here but NaN in
    // IEEE engines (DuckDB) — pin the degenerate blend to pv so the
    // operator is engine-independent for duplicate-timestamp inputs
    val blend = when(nt === pt, pv).otherwise(pv + (nv - pv) *
      ((col("t") - pt).cast("double") / (nt - pt).cast("double")))
    g.select(col("event_id"), col("series"),
        round(coalesce(col("value"), blend, pv, nv), 4).as("filled"),
        when(col("value").isNotNull, "obs")
          .when(pv.isNotNull && nv.isNotNull, "interp")
          .when(pv.isNotNull, "ffill")
          .when(nv.isNotNull, "bfill")
          .otherwise("none").as("src"))
      .orderBy(col("event_id"))
  }

  val queries: Map[String, Q] = Map(
    "q_agg_group_monthly" -> (monthlyAgg _),
    // The full composite as ONE lazy plan (the precipitation
    // pipeline's frame) — fully hash-checked: the oracle replays scan →
    // mask → resolution → feature in SQL, byte-identical JSON included.
    "q_climate_composite" -> ((s, d) =>
      compositeFrame(s, d).orderBy(col("event_id"))),
    // The remaining two reference programs, composed end-to-end:
    // temperature (no lat/lon echo in properties) and humidity (cast +
    // parse-back validation lifecycle) — both fully hash-checked.
    "q_temperature_composite" -> (temperatureComposite _),
    "q_humidity_composite" -> (humidityComposite _),
    // Land mask over synthetic cells: probe = customers hashed onto a
    // 6×12-band grid, land lookup = supplier cells on the same grid —
    // pinned to the codegen'd BITMASK-expression form (no join in the
    // plan); the semi-join form stays available as [[landMask]].
    "q_filter_land_mask" -> ((s, d) => {
      val pts = Tables.customer(s, d).select(col("c_custkey"),
        cellIndex((col("c_acctbal") % 180 + 180) % 180 - 90, 90.0, 30.0).as("cell_lat"),
        cellIndex((col("c_acctbal") * 7 % 360 + 360) % 360 - 180, 180.0, 30.0).as("cell_lon"))
      landMaskExpr(pts, landCellMask(landCells(s, d))).orderBy(col("c_custkey"))
    }),
    "q_geojson_feature" -> ((s, d) =>
      syntheticGrid(Tables.events(s, d))
        .filter(col("value").isNotNull)
        .select(col("event_id"),
          geojsonFeature(col("lat"), col("lon"), round(col("value"), 4),
            "precipitation", col("ts"), lit(0.25), lit(0.3125)).as("feature"))
        .orderBy(col("event_id"))),
    // Monthly FeatureCollection documents (the reference's
    // file-per-month output, assembled in-engine; hash-checked against
    // a string_agg oracle, document format additionally golden-tested).
    "q_geojson_collection" -> ((s, d) => {
      val feats = withYearMonth(
        syntheticGrid(Tables.events(s, d)).filter(col("value").isNotNull), "ts")
        .select(col("year"), col("month"), col("event_id"),
          temperatureFeature(col("lat"), col("lon"), round(col("value"), 4),
            col("ts"), lit(0.25), lit(0.3125)).as("feature"))
      featureCollection(feats, "feature", "event_id")
        .orderBy(col("year"), col("month"), col("shard"))
    }),
    "q_filter_time_range" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .filter(timestampRange(col("l_shipdate"), 1996, 2, 1999, 10))
      withYearMonth(li, "l_shipdate")
        .select(col("l_orderkey"), col("l_linenumber"), col("year"), col("month"))
        // lineitem has no unique key in the harness data: total order over
        // every output column keeps the oracle compare deterministic.
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("year"), col("month"))
    }),
    "q_derive_year_month" -> ((s, d) => {
      withYearMonth(Tables.orders(s, d), "o_orderdate")
        .select(col("o_orderkey"), col("year"), col("month"))
        .orderBy(col("o_orderkey"))
    }),
    "q_agg_min_diff" -> ((s, d) =>
      gridResolution(Tables.customer(s, d), "c_acctbal", 0.5)),
    // Distance from every grid cell to a reference station at (0, 0).
    "q_fn_geo" -> ((s, d) =>
      syntheticGrid(Tables.events(s, d))
        .select(col("event_id"),
          round(haversineKm(col("lat"), col("lon"), lit(0.0), lit(0.0)), 4)
            .as("dist_km"))
        .orderBy(col("event_id"))),
    "q_agg_histogram" -> ((s, d) =>
      valueHistogram(Tables.events(s, d), "value", 25.0)),
    // per-cell monthly climatology + anomaly in one window pass
    "q_climate_anomaly" -> ((s, d) =>
      climatologyAnomaly(Tables.events(s, d))),
    // 2×2 cell-block downsample (xarray coarsen().mean())
    "q_grid_coarsen" -> ((s, d) =>
      gridCoarsen(Tables.events(s, d))),
    // linear gap-fill along each series' time axis. The harness
    // stream has no NULL readings, so gaps are PLANTED from a row
    // column inside the query (every 7th event) and the oracle
    // replays the identical construction — the q_text_pii_mask
    // pattern; the interpolation logic is what the oracle checks.
    "q_time_interpolate" -> ((s, d) =>
      interpolateGaps(
        Tables.events(s, d).withColumn("value",
          when(col("event_id") % 7 === 0, lit(null)).otherwise(col("value"))),
        col("event_id") % 64)),
    // cos(lat) area-weighted vs naive global daily mean
    "q_climate_weighted" -> ((s, d) =>
      areaWeightedDaily(Tables.events(s, d))),
    // complete day spine per series + forward fill. The harness
    // stream covers every day, so per-series missing DAYS are planted
    // (series s drops days ≡ s mod 8) and the oracle replays the
    // construction — real n_obs = 0 spine rows materialize.
    "q_time_resample" -> ((s, d) =>
      resampleDaily(
        Tables.events(s, d).filter(
          !(dayofmonth(col("ts")) % 8 === (col("event_id") % 16) % 8)),
        col("event_id") % 16)),
    // zero-order-hold time-weighted mean per sensor series — user_id
    // mod 16 gives irregular multi-observation series
    "q_time_weighted_avg" -> ((s, d) =>
      timeWeightedAvg(Tables.events(s, d), col("user_id") % 16)),
    // nearest station per distinct grid cell (broadcast NN assignment)
    "q_geo_nearest" -> ((s, d) =>
      nearestStation(
        syntheticGrid(Tables.events(s, d)).select(col("lat"), col("lon")).distinct(),
        syntheticStations(Tables.nation(s, d)))),
    "q_agg_histogram_eq" -> ((s, d) =>
      equiHeightHistogram(Tables.events(s, d), "value", "event_id", 16)),
    // per-cell OLS trend map (value/day over the observation window)
    "q_climate_trend" -> ((s, d) =>
      cellTrend(Tables.events(s, d))),
    // does the trend survive controlling for latitude? (per type)
    "q_stats_ols2" -> ((s, d) =>
      ols2(Tables.events(s, d))),
    // robust per-type trend: lower median of pairwise daily slopes
    "q_stats_theilsen" -> ((s, d) =>
      theilSenTrend(Tables.events(s, d))),
    // weekly-cycle strength per event-type daily series
    "q_stats_seasonality" -> ((s, d) =>
      weeklySeasonality(Tables.events(s, d))),
    // Holt level+trend smoothing per event-type daily series — the
    // engine and the generated oracle read the same HoltAlpha/HoltBeta
    // vals, so they can never drift
    "q_stats_holt" -> ((s, d) => holtTrend(Tables.events(s, d))),
    // grid cells inside the irregular ROI pentagon (even-odd rule)
    "q_geo_polygon" -> ((s, d) =>
      pointInPolygon(Tables.events(s, d))),
    // do views lead purchases? daily CCF at lags -7..7
    "q_stats_ccf" -> ((s, d) =>
      crossCorrelation(Tables.events(s, d), "view", "purchase")),
    // series memory: per-type daily ACF at lags 1..7
    "q_stats_acf" -> ((s, d) =>
      autocorrelation(Tables.events(s, d))),
    // rank (not magnitude) association between the CCF pair
    "q_stats_kendall" -> ((s, d) =>
      kendallTau(Tables.events(s, d), "view", "purchase")),
    "q_stats_spearman" -> ((s, d) =>
      spearmanRho(Tables.events(s, d), "view", "purchase")),
    "q_stats_holtwinters" -> ((s, d) => holtWinters(Tables.events(s, d))),
    "q_stats_wilcoxon" -> ((s, d) =>
      wilcoxonSignedRank(Tables.events(s, d), "view", "purchase")),
    "q_time_decompose" -> ((s, d) => seasonalDecompose(Tables.events(s, d))),
    "q_window_rolling_corr" -> ((s, d) =>
      rollingCorrelation(Tables.events(s, d), "view", "purchase")),
    // one whiteness scalar over the ACF curve per series
    "q_stats_ljungbox" -> ((s, d) =>
      ljungBox(Tables.events(s, d))),
    // error-free line-chart reduction: 4 points per (series, day)
    "q_time_m4" -> ((s, d) =>
      m4Downsample(Tables.events(s, d))),
    // day-over-day direction randomness screen per type
    "q_stats_runs" -> ((s, d) =>
      runsTest(Tables.events(s, d))),
    // where the level shifted: argmax |CUSUM| day per series
    "q_stats_changepoint" -> ((s, d) =>
      changePoint(Tables.events(s, d))),
    // count-domain anomaly screen: daily event counts vs Poisson rate
    "q_stats_poisson" -> ((s, d) =>
      poissonDays(Tables.events(s, d))),
    // Gumbel moment fit + 10-period return level over monthly maxima
    "q_climate_extreme" -> ((s, d) =>
      gumbelExtremes(Tables.events(s, d))),
    // order-to-ship latency in business days per order month
    "q_time_business_days" -> ((s, d) =>
      businessDaySla(Tables.orders(s, d), Tables.lineitem(s, d))),
    // heating/cooling degree days per cell-month, base 250 (mid-range
    // of the harness value distribution so both sides accumulate)
    "q_climate_degree_days" -> ((s, d) =>
      degreeDays(Tables.events(s, d), 250.0)),
    // consecutive hot-day runs per latitude band, threshold 150
    // (p90-ish of the harness distribution → many bands, real gaps)
    "q_climate_heatwave" -> ((s, d) =>
      heatwaveRuns(Tables.events(s, d), 150.0)),
    // GeoJSON document validation (humidity_pipeline.py:95-110): parse
    // the assembled FeatureCollection back and check it is non-empty —
    // expressed over the documents the engine just built, so the
    // validate path exercises real parse-after-serialize round trips.
    "q_geojson_validate" -> ((s, d) => {
      val feats = withYearMonth(
        syntheticGrid(Tables.events(s, d)).filter(col("value").isNotNull), "ts")
        .select(col("year"), col("month"), col("event_id"),
          temperatureFeature(col("lat"), col("lon"), round(col("value"), 4),
            col("ts"), lit(0.25), lit(0.3125)).as("feature"))
      validated(featureCollection(feats, "feature", "event_id")).drop("collection")
    }),
  )

  val oracle: Map[String, String] = Map(
    // generated from the SAME vertex list as the plan — same folded
    // edge constants, same indicator sum, same integer parity
    "q_geo_polygon" -> pipOracleSql(roiPolygon),
    // same quantized daily means, same quantized-term moment sums
    // (products quantized AFTER multiplication), same corr chain
    "q_stats_ccf" ->
      """WITH daily AS (
        |  SELECT event_type,
        |         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
        |         CAST(sum(CAST(floor(value * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |           / 1000000000.0 / count(*) AS y
        |  FROM events WHERE value IS NOT NULL AND event_type IN ('view', 'purchase')
        |  GROUP BY 1, 2),
        |a AS (SELECT day, y AS ya FROM daily WHERE event_type = 'view'),
        |b AS (SELECT day AS day_b, y AS yb FROM daily WHERE event_type = 'purchase'),
        |l AS (SELECT CAST(unnest(range(-7, 8)) AS BIGINT) AS lag),
        |g AS (
        |  SELECT l.lag, CAST(count(*) AS BIGINT) AS n_days,
        |         CAST(sum(CAST(floor(ya * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000.0 AS sx,
        |         CAST(sum(CAST(floor(yb * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000.0 AS sy,
        |         CAST(sum(CAST(floor(ya * ya * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sxx,
        |         CAST(sum(CAST(floor(yb * yb * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS syy,
        |         CAST(sum(CAST(floor(ya * yb * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sxy
        |  FROM a CROSS JOIN l JOIN b ON a.day + l.lag = b.day_b
        |  GROUP BY l.lag)
        |SELECT lag, n_days,
        |       floor((CASE WHEN CAST(n_days AS DOUBLE) * sxx - sx * sx <= 0.0
        |                     OR CAST(n_days AS DOUBLE) * syy - sy * sy <= 0.0 THEN NULL
        |              ELSE (CAST(n_days AS DOUBLE) * sxy - sx * sy)
        |                   / sqrt((CAST(n_days AS DOUBLE) * sxx - sx * sx)
        |                          * (CAST(n_days AS DOUBLE) * syy - sy * sy)) END)
        |             * 1000000.0 + 0.5) / 1000000.0 AS ccf
        |FROM g ORDER BY lag""".stripMargin,
    // same quantized daily mean, same lag join (self-series, lags
    // 1..7), same five-moment chain as the CCF oracle
    "q_stats_acf" ->
      """WITH daily AS (
        |  SELECT event_type AS series,
        |         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
        |         CAST(sum(CAST(floor(value * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |           / 1000000000.0 / count(*) AS y
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |l AS (SELECT CAST(unnest(range(1, 8)) AS BIGINT) AS lag),
        |g AS (
        |  SELECT a.series, l.lag, CAST(count(*) AS BIGINT) AS n_pairs,
        |         CAST(sum(CAST(floor(a.y * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000.0 AS sx,
        |         CAST(sum(CAST(floor(b.y * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000.0 AS sy,
        |         CAST(sum(CAST(floor(a.y * a.y * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sxx,
        |         CAST(sum(CAST(floor(b.y * b.y * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS syy,
        |         CAST(sum(CAST(floor(a.y * b.y * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sxy
        |  FROM daily a CROSS JOIN l
        |  JOIN daily b ON a.series = b.series AND a.day + l.lag = b.day
        |  GROUP BY 1, 2)
        |SELECT series, lag, n_pairs,
        |       floor((CASE WHEN CAST(n_pairs AS DOUBLE) * sxx - sx * sx <= 0.0
        |                     OR CAST(n_pairs AS DOUBLE) * syy - sy * sy <= 0.0 THEN NULL
        |              ELSE (CAST(n_pairs AS DOUBLE) * sxy - sx * sy)
        |                   / sqrt((CAST(n_pairs AS DOUBLE) * sxx - sx * sx)
        |                          * (CAST(n_pairs AS DOUBLE) * syy - sy * sy)) END)
        |             * 1000000.0 + 0.5) / 1000000.0 AS acf
        |FROM g ORDER BY series, lag""".stripMargin,
    // same (µs, event_id, value) total order via two window ranks
    // (struct min/max ≡ asc/desc rank-1 picks); values untouched
    "q_time_m4" ->
      """WITH b AS (
        |  SELECT event_type AS series,
        |         CAST(CAST(ts AS TIMESTAMP) AS DATE) AS bucket,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id, value
        |  FROM events WHERE value IS NOT NULL),
        |r AS (
        |  SELECT *,
        |         row_number() OVER (PARTITION BY series, bucket
        |           ORDER BY us, event_id, value) AS rf,
        |         row_number() OVER (PARTITION BY series, bucket
        |           ORDER BY us DESC, event_id DESC, value DESC) AS rl
        |  FROM b)
        |SELECT series, bucket,
        |       max(CASE WHEN rf = 1 THEN us END) AS first_us,
        |       max(CASE WHEN rf = 1 THEN value END) AS v_first,
        |       max(CASE WHEN rl = 1 THEN us END) AS last_us,
        |       max(CASE WHEN rl = 1 THEN value END) AS v_last,
        |       min(value) AS v_min, max(value) AS v_max,
        |       CAST(count(*) AS BIGINT) AS n_points
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // replays the FULL acf oracle (rendered 1e-6 r values), then the
    // same 1e-12-quantized term sum and fixed n(n+2)·Σ chain
    "q_stats_ljungbox" ->
      """WITH daily AS (
        |  SELECT event_type AS series,
        |         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
        |         CAST(sum(CAST(floor(value * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |           / 1000000000.0 / count(*) AS y
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |l AS (SELECT CAST(unnest(range(1, 8)) AS BIGINT) AS lag),
        |g AS (
        |  SELECT a.series, l.lag, CAST(count(*) AS BIGINT) AS n_pairs,
        |         CAST(sum(CAST(floor(a.y * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000.0 AS sx,
        |         CAST(sum(CAST(floor(b.y * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000.0 AS sy,
        |         CAST(sum(CAST(floor(a.y * a.y * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sxx,
        |         CAST(sum(CAST(floor(b.y * b.y * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS syy,
        |         CAST(sum(CAST(floor(a.y * b.y * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sxy
        |  FROM daily a CROSS JOIN l
        |  JOIN daily b ON a.series = b.series AND a.day + l.lag = b.day
        |  GROUP BY 1, 2),
        |acf AS (
        |  SELECT series, lag,
        |         floor((CASE WHEN CAST(n_pairs AS DOUBLE) * sxx - sx * sx <= 0.0
        |                       OR CAST(n_pairs AS DOUBLE) * syy - sy * sy <= 0.0 THEN NULL
        |                ELSE (CAST(n_pairs AS DOUBLE) * sxy - sx * sy)
        |                     / sqrt((CAST(n_pairs AS DOUBLE) * sxx - sx * sx)
        |                            * (CAST(n_pairs AS DOUBLE) * syy - sy * sy)) END)
        |               * 1000000.0 + 0.5) / 1000000.0 AS acf
        |  FROM g),
        |days AS (SELECT series, CAST(count(*) AS BIGINT) AS n_days
        |         FROM daily GROUP BY 1),
        |t AS (
        |  SELECT a.series, d.n_days,
        |         (a.acf * a.acf)
        |           / (CAST(d.n_days AS DOUBLE) - CAST(a.lag AS DOUBLE)) AS term
        |  FROM acf a JOIN days d ON a.series = d.series
        |  WHERE a.acf IS NOT NULL)
        |SELECT series, n_days, CAST(count(*) AS BIGINT) AS n_lags,
        |       floor(CAST(n_days AS DOUBLE) * CAST(n_days + 2 AS DOUBLE)
        |             * (CAST(sum(CAST(floor(term * 1000000000000.0 + 0.5) AS BIGINT))
        |                     AS DOUBLE) / 1000000000000.0)
        |             * 10000.0 + 0.5) / 10000.0 AS q_lb
        |FROM t GROUP BY 1, 2 ORDER BY series""".stripMargin,
    // same quantized paired daily means, same pair expansion (d1 <
    // d2), same integer C/D/tie counts and fixed-order tau chain
    "q_stats_kendall" ->
      """WITH daily AS (
        |  SELECT event_type,
        |         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
        |         CAST(sum(CAST(floor(value * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |           / 1000000000.0 / count(*) AS y
        |  FROM events WHERE value IS NOT NULL
        |    AND event_type IN ('view', 'purchase')
        |  GROUP BY 1, 2),
        |paired AS (
        |  SELECT a.day, a.y AS x, b.y AS yy
        |  FROM daily a JOIN daily b ON a.day = b.day
        |  WHERE a.event_type = 'view' AND b.event_type = 'purchase'),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM paired),
        |c AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n0,
        |         CAST(sum(CASE WHEN (p.x - q.x) * (p.yy - q.yy) > 0.0
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS nc,
        |         CAST(sum(CASE WHEN (p.x - q.x) * (p.yy - q.yy) < 0.0
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS nd_,
        |         CAST(sum(CASE WHEN p.x = q.x THEN 1 ELSE 0 END) AS BIGINT) AS tx,
        |         CAST(sum(CASE WHEN p.yy = q.yy THEN 1 ELSE 0 END) AS BIGINT) AS ty
        |  FROM paired p JOIN paired q ON p.day < q.day)
        |SELECT n_days, nc AS n_concordant, nd_ AS n_discordant,
        |       floor((CASE WHEN n0 = tx OR n0 = ty THEN NULL
        |              ELSE CAST(nc - nd_ AS DOUBLE)
        |                   / sqrt(CAST(n0 - tx AS DOUBLE)
        |                          * CAST(n0 - ty AS DOUBLE)) END)
        |             * 1000000.0 + 0.5) / 1000000.0 AS tau_b
        |FROM c CROSS JOIN nd""".stripMargin,
    // same quantized paired daily means, same doubled-average-rank
    // integers (2*rank + ties - 1), same exact BIGINT moments and
    // fixed-order Pearson chain over them
    "q_stats_spearman" ->
      """WITH daily AS (
        |  SELECT event_type,
        |         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
        |         CAST(sum(CAST(floor(value * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |           / 1000000000.0 / count(*) AS y
        |  FROM events WHERE value IS NOT NULL
        |    AND event_type IN ('view', 'purchase')
        |  GROUP BY 1, 2),
        |paired AS (
        |  SELECT a.day, a.y AS x, b.y AS yy
        |  FROM daily a JOIN daily b ON a.day = b.day
        |  WHERE a.event_type = 'view' AND b.event_type = 'purchase'),
        |rk AS (
        |  SELECT 2 * rank() OVER (ORDER BY x)
        |           + count(*) OVER (PARTITION BY x) - 1 AS rx,
        |         2 * rank() OVER (ORDER BY yy)
        |           + count(*) OVER (PARTITION BY yy) - 1 AS ry
        |  FROM paired),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_days,
        |         CAST(sum(rx) AS BIGINT) AS sx, CAST(sum(ry) AS BIGINT) AS sy,
        |         CAST(sum(rx * rx) AS BIGINT) AS sxx,
        |         CAST(sum(ry * ry) AS BIGINT) AS syy,
        |         CAST(sum(rx * ry) AS BIGINT) AS sxy
        |  FROM rk)
        |SELECT n_days,
        |       floor((CASE WHEN CAST(n_days AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx = 0.0
        |                     OR CAST(n_days AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy = 0.0
        |              THEN NULL
        |              ELSE (CAST(n_days AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |                   / sqrt((CAST(n_days AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
        |                          * (CAST(n_days AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)) END)
        |             * 1000000.0 + 0.5) / 1000000.0 AS rho
        |FROM m""".stripMargin,
    // same quantized paired daily means, same nonzero-diff filter and
    // doubled-average-rank integers over |d|, same exact tie term and
    // fixed z chain
    "q_stats_wilcoxon" ->
      """WITH daily AS (
        |  SELECT event_type,
        |         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
        |         CAST(sum(CAST(floor(value * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |           / 1000000000.0 / count(*) AS y
        |  FROM events WHERE value IS NOT NULL
        |    AND event_type IN ('view', 'purchase')
        |  GROUP BY 1, 2),
        |diffs AS (
        |  SELECT a.y - b.y AS d, abs(a.y - b.y) AS ad
        |  FROM daily a JOIN daily b ON a.day = b.day
        |  WHERE a.event_type = 'view' AND b.event_type = 'purchase'
        |    AND a.y - b.y <> 0.0),
        |rk AS (
        |  SELECT d,
        |         2 * rank() OVER (ORDER BY ad)
        |           + count(*) OVER (PARTITION BY ad) - 1 AS r2
        |  FROM diffs),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |         CAST(sum(CASE WHEN d > 0.0 THEN r2 ELSE 0 END) AS BIGINT) AS w2
        |  FROM rk),
        |tt AS (
        |  SELECT coalesce(CAST(sum(t * t * t - t) AS BIGINT), 0) AS tsum
        |  FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM diffs GROUP BY ad))
        |SELECT n_pairs,
        |       floor(CAST(w2 AS DOUBLE) / 2.0 * 10.0 + 0.5) / 10.0 AS w_plus,
        |       floor((CASE WHEN CAST(n_pairs AS DOUBLE) * (CAST(n_pairs AS DOUBLE) + 1.0)
        |                        * (2.0 * CAST(n_pairs AS DOUBLE) + 1.0) / 24.0
        |                        - CAST(tsum AS DOUBLE) / 48.0 <= 0.0
        |              THEN NULL
        |              ELSE (CAST(w2 AS DOUBLE) / 2.0
        |                    - CAST(n_pairs AS DOUBLE) * (CAST(n_pairs AS DOUBLE) + 1.0) / 4.0)
        |                   / sqrt(CAST(n_pairs AS DOUBLE) * (CAST(n_pairs AS DOUBLE) + 1.0)
        |                          * (2.0 * CAST(n_pairs AS DOUBLE) + 1.0) / 24.0
        |                          - CAST(tsum AS DOUBLE) / 48.0) END)
        |             * 1000000.0 + 0.5) / 1000000.0 AS z
        |FROM m CROSS JOIN tt""".stripMargin,
    // same quantized paired daily means re-quantized to the 1e-4
    // grid, same trailing frame of exact BIGINT moments, same
    // fixed-order per-row r chain
    "q_window_rolling_corr" ->
      """WITH daily AS (
        |  SELECT event_type,
        |         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
        |         CAST(sum(CAST(floor(value * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |           / 1000000000.0 / count(*) AS y
        |  FROM events WHERE value IS NOT NULL
        |    AND event_type IN ('view', 'purchase')
        |  GROUP BY 1, 2),
        |paired AS (
        |  SELECT a.day,
        |         CAST(floor(a.y * 10000.0 + 0.5) AS BIGINT) AS xq,
        |         CAST(floor(b.y * 10000.0 + 0.5) AS BIGINT) AS yq
        |  FROM daily a JOIN daily b ON a.day = b.day
        |  WHERE a.event_type = 'view' AND b.event_type = 'purchase'),
        |r AS (
        |  SELECT day,
        |         CAST(count(*) OVER w AS BIGINT) AS n_window,
        |         CAST(sum(xq) OVER w AS BIGINT) AS sx,
        |         CAST(sum(yq) OVER w AS BIGINT) AS sy,
        |         CAST(sum(xq * xq) OVER w AS BIGINT) AS sxx,
        |         CAST(sum(yq * yq) OVER w AS BIGINT) AS syy,
        |         CAST(sum(xq * yq) OVER w AS BIGINT) AS sxy
        |  FROM paired WINDOW w AS (ORDER BY day
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT day, n_window,
        |       floor((CASE WHEN n_window < 2
        |                     OR CAST(n_window AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx = 0.0
        |                     OR CAST(n_window AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy = 0.0
        |              THEN NULL
        |              ELSE (CAST(n_window AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |                   / sqrt((CAST(n_window AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
        |                          * (CAST(n_window AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)) END)
        |             * 1000000.0 + 0.5) / 1000000.0 AS r
        |FROM r ORDER BY day""".stripMargin,
    // same quantized daily mean, same strict-> direction, same
    // lag-break run count, same fixed-order z chain
    "q_stats_runs" ->
      """WITH daily AS (
        |  SELECT event_type AS series,
        |         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
        |         CAST(sum(CAST(floor(value * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |           / 1000000000.0 / count(*) AS y
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |mv AS (
        |  SELECT series, day, y,
        |         lag(y) OVER (PARTITION BY series ORDER BY day) AS prev
        |  FROM daily),
        |dir AS (
        |  SELECT series, day,
        |         CASE WHEN y > prev THEN 1 ELSE 0 END AS up
        |  FROM mv WHERE prev IS NOT NULL),
        |brk AS (
        |  SELECT series, up,
        |         CASE WHEN lag(up) OVER (PARTITION BY series ORDER BY day)
        |                IS DISTINCT FROM up THEN 1 ELSE 0 END AS b
        |  FROM dir),
        |agg AS (
        |  SELECT series, CAST(count(*) + 1 AS BIGINT) AS n_days,
        |         CAST(sum(up) AS BIGINT) AS n_up,
        |         CAST(count(*) - sum(up) AS BIGINT) AS n_down,
        |         CAST(sum(b) AS BIGINT) AS n_runs
        |  FROM brk GROUP BY series)
        |SELECT series, n_days, n_up, n_down, n_runs,
        |       floor((CASE WHEN n_up = 0 OR n_down = 0 THEN NULL
        |              ELSE (CAST(n_runs AS DOUBLE)
        |                    - (1.0 + 2.0 * CAST(n_up AS DOUBLE) * CAST(n_down AS DOUBLE)
        |                             / (CAST(n_up AS DOUBLE) + CAST(n_down AS DOUBLE))))
        |                   / sqrt(2.0 * CAST(n_up AS DOUBLE) * CAST(n_down AS DOUBLE)
        |                          * (2.0 * CAST(n_up AS DOUBLE) * CAST(n_down AS DOUBLE)
        |                             - (CAST(n_up AS DOUBLE) + CAST(n_down AS DOUBLE)))
        |                          / ((CAST(n_up AS DOUBLE) + CAST(n_down AS DOUBLE))
        |                             * (CAST(n_up AS DOUBLE) + CAST(n_down AS DOUBLE))
        |                             * (CAST(n_up AS DOUBLE) + CAST(n_down AS DOUBLE) - 1.0)))
        |              END) * 10000.0 + 0.5) / 10000.0 AS z_runs
        |FROM agg ORDER BY series""".stripMargin,
    // same quantized daily means, same 1e-6 re-quantized mean +
    // deviation grid, same integer running sum; argmax replayed as a
    // (|cusum| DESC, day ASC) rank pick ≡ the engine's struct order
    "q_stats_changepoint" ->
      """WITH daily AS (
        |  SELECT event_type AS series,
        |         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
        |         CAST(sum(CAST(floor(value * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |           / 1000000000.0 / count(*) AS y
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |mu AS (
        |  SELECT series,
        |         CAST(sum(CAST(floor(y * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
        |           / 1e6 / count(*) AS mu,
        |         CAST(count(*) AS BIGINT) AS n_days
        |  FROM daily GROUP BY 1),
        |cs AS (
        |  SELECT d.series, d.day, mu.n_days,
        |         CAST(sum(CAST(floor((d.y - mu.mu) * 1e6 + 0.5) AS BIGINT))
        |           OVER (PARTITION BY d.series ORDER BY d.day
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS BIGINT) AS cusumq,
        |         CAST(row_number() OVER (PARTITION BY d.series ORDER BY d.day)
        |           AS BIGINT) AS rn
        |  FROM daily d JOIN mu ON d.series = mu.series),
        |pick AS (
        |  SELECT *, row_number() OVER (PARTITION BY series
        |           ORDER BY abs(cusumq) DESC, day ASC) AS rk
        |  FROM cs)
        |SELECT series, n_days, day AS cp_day,
        |       floor(CAST(cusumq AS DOUBLE) / 1e6 * 1e4 + 0.5) / 1e4 AS cusum_at,
        |       floor(CAST(rn AS DOUBLE) / CAST(n_days AS DOUBLE) * 1e4 + 0.5)
        |         / 1e4 AS frac_through
        |FROM pick WHERE rk = 1 ORDER BY series""".stripMargin,
    // same integer counts and span, same fixed λ/z chain; flag
    // compares the UNRENDERED z, mirroring the engine
    "q_stats_poisson" ->
      """WITH daily AS (
        |  SELECT event_type AS series,
        |         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |lam AS (
        |  SELECT series,
        |         CAST(sum(n) AS DOUBLE)
        |           / CAST(max(day) - min(day) + 1 AS DOUBLE) AS lam
        |  FROM daily GROUP BY 1)
        |SELECT d.series, d.day, d.n,
        |       floor((CAST(d.n AS DOUBLE) - l.lam) / sqrt(l.lam)
        |             * 1e4 + 0.5) / 1e4 AS z,
        |       CAST(CASE WHEN abs((CAST(d.n AS DOUBLE) - l.lam) / sqrt(l.lam))
        |              >= 3.0 THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
        |FROM daily d JOIN lam l ON d.series = l.series
        |ORDER BY d.series, d.day""".stripMargin,
    // generated twin with the same three constant literals — see
    // gumbelOracleSql
    "q_climate_extreme" -> gumbelOracleSql,
    // same Monday-anchor integer weekday chain on both date columns
    "q_time_business_days" ->
      """WITH j AS (
        |  SELECT CAST(year(o.o_orderdate) * 100 + month(o.o_orderdate)
        |              AS BIGINT) AS ym,
        |         CAST(date_diff('day', DATE '1970-01-05',
        |              CAST(l.l_shipdate AS DATE)) AS BIGINT) AS a2,
        |         CAST(date_diff('day', DATE '1970-01-05', o.o_orderdate)
        |              AS BIGINT) AS a1
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |b AS (
        |  SELECT ym,
        |         (CAST((a2 - ((a2 % 7) + 7) % 7) / 7 AS BIGINT) * 5
        |            + least(((a2 % 7) + 7) % 7, 5))
        |         - (CAST((a1 - ((a1 % 7) + 7) % 7) / 7 AS BIGINT) * 5
        |            + least(((a1 % 7) + 7) % 7, 5)) AS bd
        |  FROM j)
        |SELECT ym, CAST(count(*) AS BIGINT) AS n_items,
        |       floor(CAST(sum(bd) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |             * 1e4 + 0.5) / 1e4 AS mean_bd,
        |       CAST(min(bd) AS BIGINT) AS min_bd,
        |       CAST(max(bd) AS BIGINT) AS max_bd
        |FROM b GROUP BY 1 ORDER BY ym""".stripMargin,
    // same quantized daily mean, same pair expansion, same rank-picked
    // lower median (an actual slope value — no interpolation)
    // same quantized-term two-pass over the daily reduction; peak via
    // (mean DESC, dow ASC) rank pick ≡ the engine's struct argmax
    "q_stats_seasonality" ->
      """WITH daily AS (
        |  SELECT event_type AS series,
        |         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
        |         CAST(sum(CAST(floor(value * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |           / 1000000000.0 / count(*) AS y
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |d2 AS (
        |  SELECT series, y,
        |         CAST(floor(y * 1000000000.0 + 0.5) AS BIGINT) AS qy,
        |         ((day % 7) + 7) % 7 AS dow
        |  FROM daily),
        |tot AS (
        |  SELECT series, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(qy) AS DOUBLE) / 1000000000.0 / count(*) AS mean
        |  FROM d2 GROUP BY series),
        |sst AS (
        |  SELECT d2.series,
        |         CAST(sum(CAST(floor((y - mean) * (y - mean)
        |           * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sstq
        |  FROM d2 JOIN tot ON d2.series = tot.series GROUP BY 1),
        |dowg AS (
        |  SELECT series, dow, CAST(count(*) AS BIGINT) AS ng,
        |         CAST(sum(qy) AS DOUBLE) / 1000000000.0 / count(*) AS mg
        |  FROM d2 GROUP BY series, dow),
        |ssb AS (
        |  SELECT g.series,
        |         CAST(sum(CAST(floor(CAST(ng AS DOUBLE) * (mg - mean)
        |           * (mg - mean) * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT)
        |           AS ssbq
        |  FROM dowg g JOIN tot ON g.series = tot.series GROUP BY 1),
        |peak AS (
        |  SELECT series, dow AS peak_dow, mg AS peak_mean FROM (
        |    SELECT series, dow, mg,
        |           row_number() OVER (PARTITION BY series
        |             ORDER BY mg DESC, dow ASC) AS rn
        |    FROM dowg) WHERE rn = 1)
        |SELECT tot.series, tot.n AS n_days, peak.peak_dow,
        |       floor(peak.peak_mean * 10000.0 + 0.5) / 10000.0 AS peak_mean,
        |       CASE WHEN sstq = 0 THEN NULL
        |            ELSE floor(CAST(ssbq AS DOUBLE) / CAST(sstq AS DOUBLE)
        |                   * 1000000.0 + 0.5) / 1000000.0 END AS eta2
        |FROM tot JOIN sst ON tot.series = sst.series
        |JOIN ssb ON tot.series = ssb.series
        |JOIN peak ON tot.series = peak.series
        |ORDER BY tot.series""".stripMargin,
    // generated recursive-CTE twin — see holtOracleSql
    "q_stats_holt" -> holtOracleSql,
    // generated recursive-CTE twin with the rotating seasonal LIST
    // as CTE state — see holtWintersOracleSql
    "q_stats_holtwinters" -> holtWintersOracleSql,
    // same quantized daily means, same exact-long centered frame sum
    // (NULL at partial edges), same re-quantized detrended dow means,
    // same fixed render chains
    "q_time_decompose" ->
      """WITH daily AS (
        |  SELECT event_type AS series,
        |         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
        |         CAST(sum(CAST(floor(value * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |           / 1000000000.0 / count(*) AS y
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |tr AS (
        |  SELECT series, day, y, day % 7 AS dow,
        |         CASE WHEN CAST(count(*) OVER w AS BIGINT) = 7
        |              THEN CAST(sum(CAST(floor(y * 1000000000.0 + 0.5) AS BIGINT)) OVER w
        |                        AS DOUBLE) / 7.0 / 1000000000.0 END AS trend
        |  FROM daily WINDOW w AS (PARTITION BY series ORDER BY day
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |dq AS (
        |  SELECT series, day, y, dow, trend,
        |         CASE WHEN trend IS NOT NULL
        |              THEN CAST(floor((y - trend) * 1000000000.0 + 0.5) AS BIGINT)
        |         END AS dq
        |  FROM tr),
        |seas AS (
        |  SELECT series, dow,
        |         CAST(sum(dq) AS DOUBLE) / 1000000000.0 / count(*) AS seasonal
        |  FROM dq WHERE dq IS NOT NULL GROUP BY 1, 2)
        |SELECT d.series, d.day,
        |       floor(d.y * 10000.0 + 0.5) / 10000.0 AS y,
        |       floor(d.trend * 10000.0 + 0.5) / 10000.0 AS trend,
        |       floor(s.seasonal * 10000.0 + 0.5) / 10000.0 AS seasonal,
        |       floor((d.y - d.trend - s.seasonal) * 10000.0 + 0.5) / 10000.0 AS residual
        |FROM dq d LEFT JOIN seas s ON d.series = s.series AND d.dow = s.dow
        |ORDER BY d.series, d.day""".stripMargin,
    // same exact-integer design moments, same Cramer chain operand
    // for operand, same unit conversions at the chain's end
    "q_stats_ols2" ->
      """WITH g AS (
        |  SELECT event_type AS series,
        |         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS x1,
        |         (event_id % 360) - 180 AS x2,
        |         CAST(round(value * 100) AS BIGINT) AS yc
        |  FROM events WHERE value IS NOT NULL),
        |m AS (
        |  SELECT series, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
        |         CAST(sum(x1 * x1) AS BIGINT) AS s11,
        |         CAST(sum(x2 * x2) AS BIGINT) AS s22,
        |         CAST(sum(x1 * x2) AS BIGINT) AS s12,
        |         CAST(sum(yc) AS BIGINT) AS sy,
        |         CAST(sum(x1 * yc) AS BIGINT) AS s1y,
        |         CAST(sum(x2 * yc) AS BIGINT) AS s2y,
        |         CAST(sum(yc * yc) AS BIGINT) AS syy
        |  FROM g GROUP BY series),
        |d AS (
        |  SELECT series, n,
        |         CAST(n AS DOUBLE) AS nd, CAST(s1 AS DOUBLE) AS s1d,
        |         CAST(s2 AS DOUBLE) AS s2d, CAST(s11 AS DOUBLE) AS s11d,
        |         CAST(s22 AS DOUBLE) AS s22d, CAST(s12 AS DOUBLE) AS s12d,
        |         CAST(sy AS DOUBLE) AS syd, CAST(s1y AS DOUBLE) AS s1yd,
        |         CAST(s2y AS DOUBLE) AS s2yd, CAST(syy AS DOUBLE) AS syyd
        |  FROM m),
        |k AS (
        |  SELECT series, n, syd, s1yd, s2yd, syyd, nd,
        |         nd * (s11d * s22d - s12d * s12d)
        |           - s1d * (s1d * s22d - s12d * s2d)
        |           + s2d * (s1d * s12d - s11d * s2d) AS det,
        |         syd * (s11d * s22d - s12d * s12d)
        |           - s1d * (s1yd * s22d - s12d * s2yd)
        |           + s2d * (s1yd * s12d - s11d * s2yd) AS det0,
        |         nd * (s1yd * s22d - s12d * s2yd)
        |           - syd * (s1d * s22d - s12d * s2d)
        |           + s2d * (s1d * s2yd - s1yd * s2d) AS det1,
        |         nd * (s11d * s2yd - s1yd * s12d)
        |           - s1d * (s1d * s2yd - s1yd * s2d)
        |           + syd * (s1d * s12d - s11d * s2d) AS det2
        |  FROM d),
        |b AS (
        |  SELECT series, n, det,
        |         det0 / det AS b0c, det1 / det AS b1c, det2 / det AS b2c,
        |         syyd - (det0 / det) * syd - (det1 / det) * s1yd
        |           - (det2 / det) * s2yd AS sse,
        |         syyd - syd * syd / nd AS sst
        |  FROM k)
        |SELECT series, n,
        |       floor(CASE WHEN det = 0.0 THEN NULL ELSE b0c / 100.0 END
        |             * 10000.0 + 0.5) / 10000.0 AS b0,
        |       floor(CASE WHEN det = 0.0 THEN NULL ELSE b1c / 100.0 END
        |             * 1000000.0 + 0.5) / 1000000.0 AS b1_per_day,
        |       floor(CASE WHEN det = 0.0 THEN NULL ELSE b2c / 50.0 END
        |             * 1000000.0 + 0.5) / 1000000.0 AS b2_per_degree,
        |       floor(CASE WHEN det = 0.0 OR sst <= 0.0 THEN NULL
        |                  ELSE 1.0 - sse / sst END
        |             * 1000000.0 + 0.5) / 1000000.0 AS r2
        |FROM b ORDER BY series""".stripMargin,
    "q_stats_theilsen" ->
      """WITH daily AS (
        |  SELECT event_type AS series,
        |         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
        |         CAST(sum(CAST(floor(value * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |           / 1000000000.0 / count(*) AS y
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |days AS (SELECT series, CAST(count(*) AS BIGINT) AS n_days
        |         FROM daily GROUP BY series),
        |sl AS (
        |  SELECT a.series, a.day AS d1, b.day AS d2,
        |         (b.y - a.y) / CAST(b.day - a.day AS DOUBLE) AS slope
        |  FROM daily a JOIN daily b ON a.series = b.series AND a.day < b.day),
        |r AS (
        |  SELECT series, slope,
        |         CAST(row_number() OVER (PARTITION BY series
        |           ORDER BY slope, d1, d2) AS BIGINT) AS rn,
        |         CAST(count(*) OVER (PARTITION BY series) AS BIGINT) AS np
        |  FROM sl)
        |SELECT r.series, days.n_days, r.np AS n_pairs,
        |       floor(slope * 1000000.0 + 0.5) / 1000000.0 AS ts_slope
        |FROM r JOIN days ON r.series = days.series
        |WHERE rn = CAST(floor(CAST(np + 1 AS DOUBLE) / 2.0) AS BIGINT)
        |ORDER BY r.series""".stripMargin,
    // same explicit covar_pop/var_pop quotient with the same
    // zero-variance guard — NULL-slope semantics match by construction
    "q_climate_trend" ->
      """WITH g AS (
        |  SELECT (event_id % 360) * 0.5 - 90.0 AS lat,
        |         ((event_id * 7) % 576) * 0.625 - 180.0 AS lon,
        |         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS DOUBLE) AS x,
        |         value AS y
        |  FROM events WHERE value IS NOT NULL),
        |a AS (
        |  SELECT lat, lon, count(*) AS n_obs,
        |         covar_pop(y, x) AS cxy, var_pop(x) AS vx,
        |         avg(x) AS mx, avg(y) AS my
        |  FROM g GROUP BY lat, lon)
        |SELECT lat, lon, n_obs,
        |       round(CASE WHEN vx = 0.0 THEN NULL ELSE cxy / vx END, 6) AS slope_per_day,
        |       round(my - (CASE WHEN vx = 0.0 THEN NULL ELSE cxy / vx END) * mx, 4) AS intercept,
        |       round(my, 4) AS mean_value
        |FROM a ORDER BY lat, lon""".stripMargin,
    "q_climate_heatwave" ->
      """WITH daily AS (
        |  SELECT (event_id % 360) * 0.5 - 90.0 AS lat,
        |         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS di,
        |         max(value) AS day_max
        |  FROM events WHERE value IS NOT NULL
        |  GROUP BY 1, 2),
        |hot AS (SELECT lat, di FROM daily WHERE day_max > 150.0),
        |runs AS (
        |  SELECT lat, di - row_number() OVER (PARTITION BY lat ORDER BY di) AS grp
        |  FROM hot),
        |r AS (SELECT lat, grp, count(*) AS run_days FROM runs GROUP BY 1, 2)
        |SELECT lat, count(*) AS n_runs, max(run_days) AS max_run_days,
        |       CAST(sum(run_days) AS BIGINT) AS hot_days
        |FROM r GROUP BY lat ORDER BY lat""".stripMargin,
    "q_climate_degree_days" ->
      """SELECT (event_id % 360) * 0.5 - 90.0 AS lat,
        |       ((event_id * 7) % 576) * 0.625 - 180.0 AS lon,
        |       CAST(year(CAST(ts AS TIMESTAMP)) AS INT) AS year,
        |       CAST(month(CAST(ts AS TIMESTAMP)) AS INT) AS month,
        |       count(*) AS n_obs,
        |       round(sum(greatest(0.0, 250.0 - value)), 4) AS hdd,
        |       round(sum(greatest(0.0, value - 250.0)), 4) AS cdd
        |FROM events WHERE value IS NOT NULL
        |GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""".stripMargin,
    "q_filter_land_mask" ->
      """WITH pts AS (
        |  SELECT c_custkey,
        |         CAST(floor((((c_acctbal % 180) + 180) % 180 - 90 + 90) / 30) AS INT) AS cell_lat,
        |         CAST(floor(((((c_acctbal * 7) % 360) + 360) % 360 - 180 + 180) / 30) AS INT) AS cell_lon
        |  FROM customer),
        |land AS (
        |  SELECT DISTINCT
        |         CAST(floor((((s_acctbal % 180) + 180) % 180 - 90 + 90) / 30) AS INT) AS cell_lat,
        |         CAST(floor(((((s_acctbal * 7) % 360) + 360) % 360 - 180 + 180) / 30) AS INT) AS cell_lon
        |  FROM supplier)
        |SELECT p.c_custkey, p.cell_lat, p.cell_lon FROM pts p
        |WHERE EXISTS (SELECT 1 FROM land l
        |              WHERE l.cell_lat = p.cell_lat AND l.cell_lon = p.cell_lon)
        |ORDER BY c_custkey""".stripMargin,
    "q_agg_group_monthly" ->
      """SELECT CAST(year(l_shipdate) AS INT) AS year, CAST(month(l_shipdate) AS INT) AS month,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice), 2) AS sum_price,
        |       count(*) AS n_rows
        |FROM lineitem
        |WHERE l_quantity IS NOT NULL
        |  AND ((year(l_shipdate) > 1996 OR (year(l_shipdate) = 1996 AND month(l_shipdate) >= 2))
        |   AND (year(l_shipdate) < 1999 OR (year(l_shipdate) = 1999 AND month(l_shipdate) <= 10)))
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_filter_time_range" ->
      """SELECT l_orderkey, l_linenumber, CAST(year(l_shipdate) AS INT) AS year, CAST(month(l_shipdate) AS INT) AS month
        |FROM lineitem
        |WHERE ((year(l_shipdate) > 1996 OR (year(l_shipdate) = 1996 AND month(l_shipdate) >= 2))
        |   AND (year(l_shipdate) < 1999 OR (year(l_shipdate) = 1999 AND month(l_shipdate) <= 10)))
        |ORDER BY 1, 2, 3, 4""".stripMargin,
    "q_derive_year_month" ->
      """SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS year, CAST(month(o_orderdate) AS INT) AS month
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_agg_min_diff" ->
      """SELECT coalesce(round(min(gap), 4), 0.5) AS resolution FROM (
        |  SELECT abs(c_acctbal - lag(c_acctbal) OVER (ORDER BY c_acctbal)) AS gap
        |  FROM (SELECT DISTINCT c_acctbal FROM customer))""".stripMargin,
    // rebuilds the collection the same way the q_geojson_collection
    // oracle does, then validates it through DuckDB's JSON parser —
    // an independent parse of the engine-shaped document
    "q_geojson_validate" ->
      """WITH g AS (
        |  SELECT event_id, CAST(ts AS TIMESTAMP) AS tts,
        |         (event_id % 360) * 0.5 - 90.0 AS lat,
        |         ((event_id * 7) % 576) * 0.625 - 180.0 AS lon,
        |         round(value, 4) AS v
        |  FROM events WHERE value IS NOT NULL),
        |f AS (
        |  SELECT event_id, CAST(year(tts) AS INT) AS year, CAST(month(tts) AS INT) AS month,
        |    CAST(json_object(
        |      'type', 'Feature',
        |      'geometry', json_object(
        |        'type', 'Polygon',
        |        'coordinates', [[
        |          [lon - 0.3125, lat - 0.25],
        |          [lon + 0.3125, lat - 0.25],
        |          [lon + 0.3125, lat + 0.25],
        |          [lon - 0.3125, lat + 0.25],
        |          [lon - 0.3125, lat - 0.25]]]),
        |      'properties', json_object(
        |        'temperature', v,
        |        'time', CAST(tts AS VARCHAR))) AS VARCHAR) AS feature
        |  FROM g),
        |c AS (
        |  SELECT year, month,
        |    '{"type":"FeatureCollection","features":[' ||
        |    string_agg(feature, ',' ORDER BY event_id) || ']}' AS collection
        |  FROM f GROUP BY year, month)
        |SELECT year, month, CAST(0 AS INT) AS shard,
        |       CAST(json_array_length(collection, '$.features') AS BIGINT) AS n_features,
        |       json_array_length(collection, '$.features') > 0 AS valid
        |FROM c ORDER BY year, month""".stripMargin,
    "q_fn_geo" ->
      """SELECT event_id,
        |       round(2 * 6371.0 * asin(sqrt(
        |         pow(sin(radians(0.0 - ((event_id % 360) * 0.5 - 90.0)) / 2), 2) +
        |         cos(radians((event_id % 360) * 0.5 - 90.0)) * cos(radians(0.0)) *
        |         pow(sin(radians(0.0 - (((event_id * 7) % 576) * 0.625 - 180.0)) / 2), 2))), 4)
        |         AS dist_km
        |FROM events ORDER BY event_id""".stripMargin,
    "q_agg_histogram" ->
      """SELECT CAST(floor(value / 25.0) AS INT) AS bucket, count(*) AS n,
        |       round(min(value), 4) AS lo, round(max(value), 4) AS hi
        |FROM events WHERE value IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the engine's distributed (rn, N) arithmetic must reproduce the
    // oracle's single ntile() window exactly
    "q_agg_histogram_eq" ->
      """SELECT bucket, count(*) AS n,
        |       round(min(value), 4) AS lo, round(max(value), 4) AS hi
        |FROM (SELECT value,
        |             CAST(ntile(16) OVER (ORDER BY value, event_id) AS INT) AS bucket
        |      FROM events WHERE value IS NOT NULL)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // DuckDB json_object emits the same compact separators, key order,
    // shortest-round-trip doubles, and trailing-zero-trimmed µs
    // timestamps as Spark's to_json — verified byte-identical at
    // sf0.001 and sf0.01, which upgrades all three feature builders
    // from rows-only to full hash-checked rows.
    "q_geojson_feature" ->
      """WITH g AS (
        |  SELECT event_id, CAST(ts AS TIMESTAMP) AS tts,
        |         (event_id % 360) * 0.5 - 90.0 AS lat,
        |         ((event_id * 7) % 576) * 0.625 - 180.0 AS lon,
        |         round(value, 4) AS v
        |  FROM events WHERE value IS NOT NULL)
        |SELECT event_id,
        |  CAST(json_object(
        |    'type', 'Feature',
        |    'geometry', json_object(
        |      'type', 'Polygon',
        |      'coordinates', [[
        |        [lon - 0.3125, lat - 0.25],
        |        [lon + 0.3125, lat - 0.25],
        |        [lon + 0.3125, lat + 0.25],
        |        [lon - 0.3125, lat + 0.25],
        |        [lon - 0.3125, lat - 0.25]]]),
        |    'properties', json_object(
        |      'precipitation', v,
        |      'time', CAST(tts AS VARCHAR),
        |      'lat', lat,
        |      'lon', lon)) AS VARCHAR) AS feature
        |FROM g ORDER BY event_id""".stripMargin,
    "q_climate_composite" ->
      """WITH grid AS (
        |  SELECT event_id, CAST(ts AS TIMESTAMP) AS tts,
        |         (event_id % 360) * 0.5 - 90.0 AS lat,
        |         ((event_id * 7) % 576) * 0.625 - 180.0 AS lon,
        |         value
        |  FROM events
        |  WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-01'
        |    AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2025-01-01'
        |    AND value IS NOT NULL),
        |land AS (
        |  SELECT DISTINCT
        |         CAST(floor((((s_acctbal % 180) + 180) % 180 - 90 + 90) / 30) AS INT) AS cell_lat,
        |         CAST(floor(((((s_acctbal * 7) % 360) + 360) % 360 - 180 + 180) / 30) AS INT) AS cell_lon
        |  FROM supplier),
        |masked AS (
        |  SELECT g.* FROM grid g
        |  WHERE EXISTS (SELECT 1 FROM land l
        |                WHERE l.cell_lat = CAST(floor((g.lat + 90) / 30) AS INT)
        |                  AND l.cell_lon = CAST(floor((g.lon + 180) / 30) AS INT))),
        |res AS (
        |  SELECT
        |    coalesce(round((SELECT min(gap) FROM (
        |      SELECT v - lag(v) OVER (ORDER BY v) AS gap
        |      FROM (SELECT DISTINCT lat AS v FROM masked))), 4), 0.5) AS lat_res,
        |    coalesce(round((SELECT min(gap) FROM (
        |      SELECT v - lag(v) OVER (ORDER BY v) AS gap
        |      FROM (SELECT DISTINCT lon AS v FROM masked))), 4), 0.625) AS lon_res)
        |SELECT event_id,
        |  CAST(year(tts) AS INT) AS year, CAST(month(tts) AS INT) AS month,
        |  CAST(json_object(
        |    'type', 'Feature',
        |    'geometry', json_object(
        |      'type', 'Polygon',
        |      'coordinates', [[
        |        [lon - lon_res/2, lat - lat_res/2],
        |        [lon + lon_res/2, lat - lat_res/2],
        |        [lon + lon_res/2, lat + lat_res/2],
        |        [lon - lon_res/2, lat + lat_res/2],
        |        [lon - lon_res/2, lat - lat_res/2]]]),
        |    'properties', json_object(
        |      'precipitation', round(value, 4),
        |      'time', CAST(tts AS VARCHAR),
        |      'lat', lat,
        |      'lon', lon)) AS VARCHAR) AS feature
        |FROM masked, res ORDER BY event_id""".stripMargin,
    // both composites share the masked-grid + per-month-resolution
    // CTEs; they differ exactly where the reference pipelines differ —
    // the properties object and the humidity validation columns
    "q_temperature_composite" ->
      """WITH grid AS (
        |  SELECT event_id, CAST(ts AS TIMESTAMP) AS tts,
        |         (event_id % 360) * 0.5 - 90.0 AS lat,
        |         ((event_id * 7) % 576) * 0.625 - 180.0 AS lon,
        |         value
        |  FROM events
        |  WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2022-01-01'
        |    AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2025-06-01'
        |    AND value IS NOT NULL),
        |land AS (
        |  SELECT DISTINCT
        |         CAST(floor((((s_acctbal % 180) + 180) % 180 - 90 + 90) / 30) AS INT) AS cell_lat,
        |         CAST(floor(((((s_acctbal * 7) % 360) + 360) % 360 - 180 + 180) / 30) AS INT) AS cell_lon
        |  FROM supplier),
        |masked AS (
        |  SELECT g.*, CAST(year(tts) AS INT) AS year, CAST(month(tts) AS INT) AS month
        |  FROM grid g
        |  WHERE EXISTS (SELECT 1 FROM land l
        |                WHERE l.cell_lat = CAST(floor((g.lat + 90) / 30) AS INT)
        |                  AND l.cell_lon = CAST(floor((g.lon + 180) / 30) AS INT))),
        |res AS (
        |  SELECT year, month,
        |         coalesce(round(min(CASE WHEN axis = 'lat' THEN gap END), 4), 0.5) AS lat_res,
        |         coalesce(round(min(CASE WHEN axis = 'lon' THEN gap END), 4), 0.625) AS lon_res
        |  FROM (
        |    SELECT year, month, axis,
        |           v - lag(v) OVER (PARTITION BY year, month, axis ORDER BY v) AS gap
        |    FROM (SELECT DISTINCT year, month, 'lat' AS axis, lat AS v FROM masked
        |          UNION SELECT DISTINCT year, month, 'lon' AS axis, lon AS v FROM masked))
        |  GROUP BY year, month),
        |f AS (
        |  SELECT m.event_id, m.year, m.month,
        |    CAST(json_object(
        |      'type', 'Feature',
        |      'geometry', json_object(
        |        'type', 'Polygon',
        |        'coordinates', [[
        |          [lon - lon_res/2, lat - lat_res/2],
        |          [lon + lon_res/2, lat - lat_res/2],
        |          [lon + lon_res/2, lat + lat_res/2],
        |          [lon - lon_res/2, lat + lat_res/2],
        |          [lon - lon_res/2, lat - lat_res/2]]]),
        |      'properties', json_object(
        |        'temperature', round(value, 4),
        |        'time', CAST(tts AS VARCHAR))) AS VARCHAR) AS feature
        |  FROM masked m JOIN res USING (year, month))
        |SELECT year, month, CAST(0 AS INT) AS shard,
        |  '{"type":"FeatureCollection","features":[' ||
        |  string_agg(feature, ',' ORDER BY event_id) || ']}' AS collection
        |FROM f GROUP BY year, month ORDER BY year, month""".stripMargin,
    "q_humidity_composite" ->
      """WITH grid AS (
        |  SELECT event_id, CAST(ts AS TIMESTAMP) AS tts,
        |         (event_id % 360) * 0.5 - 90.0 AS lat,
        |         ((event_id * 7) % 576) * 0.625 - 180.0 AS lon,
        |         value
        |  FROM events
        |  WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2022-01-01'
        |    AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2025-06-01'
        |    AND value IS NOT NULL),
        |land AS (
        |  SELECT DISTINCT
        |         CAST(floor((((s_acctbal % 180) + 180) % 180 - 90 + 90) / 30) AS INT) AS cell_lat,
        |         CAST(floor(((((s_acctbal * 7) % 360) + 360) % 360 - 180 + 180) / 30) AS INT) AS cell_lon
        |  FROM supplier),
        |masked AS (
        |  SELECT g.*, CAST(year(tts) AS INT) AS year, CAST(month(tts) AS INT) AS month
        |  FROM grid g
        |  WHERE EXISTS (SELECT 1 FROM land l
        |                WHERE l.cell_lat = CAST(floor((g.lat + 90) / 30) AS INT)
        |                  AND l.cell_lon = CAST(floor((g.lon + 180) / 30) AS INT))),
        |res AS (
        |  SELECT year, month,
        |         coalesce(round(min(CASE WHEN axis = 'lat' THEN gap END), 4), 0.5) AS lat_res,
        |         coalesce(round(min(CASE WHEN axis = 'lon' THEN gap END), 4), 0.625) AS lon_res
        |  FROM (
        |    SELECT year, month, axis,
        |           v - lag(v) OVER (PARTITION BY year, month, axis ORDER BY v) AS gap
        |    FROM (SELECT DISTINCT year, month, 'lat' AS axis, lat AS v FROM masked
        |          UNION SELECT DISTINCT year, month, 'lon' AS axis, lon AS v FROM masked))
        |  GROUP BY year, month),
        |f AS (
        |  SELECT m.event_id, m.year, m.month,
        |    CAST(json_object(
        |      'type', 'Feature',
        |      'geometry', json_object(
        |        'type', 'Polygon',
        |        'coordinates', [[
        |          [lon - lon_res/2, lat - lat_res/2],
        |          [lon + lon_res/2, lat - lat_res/2],
        |          [lon + lon_res/2, lat + lat_res/2],
        |          [lon - lon_res/2, lat + lat_res/2],
        |          [lon - lon_res/2, lat - lat_res/2]]]),
        |      'properties', json_object(
        |        'humidity', round(value, 4),
        |        'time', CAST(tts AS VARCHAR),
        |        'lat', lat,
        |        'lon', lon)) AS VARCHAR) AS feature
        |  FROM masked m JOIN res USING (year, month)),
        |c AS (
        |  SELECT year, month,
        |    '{"type":"FeatureCollection","features":[' ||
        |    string_agg(feature, ',' ORDER BY event_id) || ']}' AS collection
        |  FROM f GROUP BY year, month)
        |SELECT year, month, CAST(0 AS INT) AS shard, collection,
        |       CAST(json_array_length(collection, '$.features') AS BIGINT) AS n_features,
        |       json_array_length(collection, '$.features') > 0 AS valid
        |FROM c ORDER BY year, month""".stripMargin,
    "q_geojson_collection" ->
      """WITH g AS (
        |  SELECT event_id, CAST(ts AS TIMESTAMP) AS tts,
        |         (event_id % 360) * 0.5 - 90.0 AS lat,
        |         ((event_id * 7) % 576) * 0.625 - 180.0 AS lon,
        |         round(value, 4) AS v
        |  FROM events WHERE value IS NOT NULL),
        |f AS (
        |  SELECT event_id, CAST(year(tts) AS INT) AS year, CAST(month(tts) AS INT) AS month,
        |    CAST(json_object(
        |      'type', 'Feature',
        |      'geometry', json_object(
        |        'type', 'Polygon',
        |        'coordinates', [[
        |          [lon - 0.3125, lat - 0.25],
        |          [lon + 0.3125, lat - 0.25],
        |          [lon + 0.3125, lat + 0.25],
        |          [lon - 0.3125, lat + 0.25],
        |          [lon - 0.3125, lat - 0.25]]]),
        |      'properties', json_object(
        |        'temperature', v,
        |        'time', CAST(tts AS VARCHAR))) AS VARCHAR) AS feature
        |  FROM g)
        |SELECT year, month, CAST(0 AS INT) AS shard,
        |  '{"type":"FeatureCollection","features":[' ||
        |  string_agg(feature, ',' ORDER BY event_id) || ']}' AS collection
        |FROM f GROUP BY year, month ORDER BY year, month""".stripMargin,
    "q_climate_anomaly" ->
      """WITH g AS (
        |  SELECT event_id, CAST(ts AS TIMESTAMP) AS tts,
        |         (event_id % 360) * 0.5 - 90.0 AS lat,
        |         ((event_id * 7) % 576) * 0.625 - 180.0 AS lon,
        |         value
        |  FROM events WHERE value IS NOT NULL)
        |SELECT event_id, lat, lon, CAST(month(tts) AS INT) AS month,
        |       round(value, 4) AS value,
        |       round(avg(value) OVER cell, 4) AS climatology,
        |       round(value - avg(value) OVER cell, 4) AS anomaly
        |FROM g WINDOW cell AS (PARTITION BY lat, lon, month(tts))
        |ORDER BY event_id""".stripMargin,
    "q_grid_coarsen" ->
      """WITH g AS (
        |  SELECT (event_id % 360) * 0.5 - 90.0 AS lat,
        |         ((event_id * 7) % 576) * 0.625 - 180.0 AS lon,
        |         value
        |  FROM events WHERE value IS NOT NULL)
        |SELECT CAST(floor((lat + 90.0) / 1.0) AS INT) AS bin_lat,
        |       CAST(floor((lon + 180.0) / 1.25) AS INT) AS bin_lon,
        |       count(*) AS n,
        |       round(avg(value), 4) AS mean_value,
        |       round(min(value), 4) AS min_value,
        |       round(max(value), 4) AS max_value
        |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_climate_weighted" ->
      """WITH g AS (
        |  SELECT CAST(ts AS TIMESTAMP) AS tts,
        |         (event_id % 360) * 0.5 - 90.0 AS lat,
        |         value
        |  FROM events WHERE value IS NOT NULL)
        |SELECT CAST(year(tts) AS INT) AS year, CAST(month(tts) AS INT) AS month,
        |       CAST(day(tts) AS INT) AS day,
        |       count(*) AS n,
        |       round(sum(value * cos(radians(lat))) / sum(cos(radians(lat))), 4)
        |         AS weighted_mean,
        |       round(avg(value), 4) AS naive_mean
        |FROM g GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    // ZOH weights are exact integer µs; the zero-denominator guard is
    // mirrored so both engines agree on degenerate series (NULL, not
    // 0/0's engine-dependent NULL-vs-NaN)
    "q_time_weighted_avg" ->
      """WITH o AS (
        |  SELECT user_id % 16 AS series, event_id,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us, value,
        |         lead(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
        |           PARTITION BY user_id % 16
        |           ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)
        |           - epoch_us(CAST(ts AS TIMESTAMP)) AS dt_us
        |  FROM events)
        |SELECT series, count(*) AS n_obs,
        |       floor((CASE WHEN coalesce(sum(dt_us), 0) = 0 THEN NULL
        |             ELSE sum(CAST(dt_us AS DOUBLE) * value)
        |                  / CAST(sum(dt_us) AS DOUBLE) END)
        |         * 10000.0 + 0.5) / 10000.0 AS twa,
        |       floor(avg(value) * 10000.0 + 0.5) / 10000.0 AS mean_value
        |FROM o GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_time_resample" ->
      """WITH e AS (
        |  SELECT CAST(event_id % 16 AS INT) AS series,
        |         CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE)
        |              - DATE '1970-01-01' AS BIGINT) AS di,
        |         value
        |  FROM events
        |  WHERE NOT (day(CAST(ts AS TIMESTAMP)) % 8 = (event_id % 16) % 8)),
        |daily AS (SELECT series, di, CAST(count(value) AS BIGINT) AS n_obs,
        |                 round(avg(value), 4) AS mean_value
        |          FROM e GROUP BY 1, 2),
        |span AS (SELECT series, min(di) AS di0, max(di) AS di1 FROM e GROUP BY 1),
        |spine AS (SELECT s.series, s.di0 + g.generate_series AS di
        |          FROM span s, generate_series(0, 40000) g
        |          WHERE s.di0 + g.generate_series <= s.di1),
        |j AS (SELECT sp.series, sp.di, coalesce(m.n_obs, 0) AS n_obs, m.mean_value
        |      FROM spine sp LEFT JOIN daily m
        |        ON sp.series = m.series AND sp.di = m.di),
        |f AS (SELECT series, DATE '1970-01-01' + CAST(di AS INT) AS d, di,
        |             n_obs, mean_value,
        |             last_value(mean_value IGNORE NULLS)
        |               OVER (PARTITION BY series ORDER BY di
        |                     ROWS UNBOUNDED PRECEDING) AS filled
        |      FROM j)
        |SELECT series, CAST(year(d) AS INT) AS year, CAST(month(d) AS INT) AS month,
        |       CAST(day(d) AS INT) AS day, n_obs, mean_value, filled
        |FROM f ORDER BY series, di""".stripMargin,
    // same haversine operand order as the engine's haversineKm (parity
    // already proven by q_fn_geo); composite (dist, id) tie-break via
    // window rank (installed DuckDB's arg_min takes no composite key)
    "q_geo_nearest" ->
      """WITH cells AS (
        |  SELECT DISTINCT (event_id % 360) * 0.5 - 90.0 AS lat,
        |         ((event_id * 7) % 576) * 0.625 - 180.0 AS lon
        |  FROM events),
        |st AS (
        |  SELECT n_nationkey AS station_id,
        |         (n_nationkey * 7) % 36 * 5.0 - 87.5 AS slat,
        |         (n_nationkey * 11) % 72 * 5.0 - 177.5 AS slon
        |  FROM nation),
        |d AS (
        |  SELECT lat, lon, station_id,
        |         2 * 6371.0 * asin(sqrt(
        |           power(sin(radians(slat - lat) / 2), 2) +
        |           cos(radians(lat)) * cos(radians(slat))
        |             * power(sin(radians(slon - lon) / 2), 2))) AS dist
        |  FROM cells CROSS JOIN st),
        |r AS (SELECT lat, lon, station_id, dist,
        |             row_number() OVER (PARTITION BY lat, lon
        |                                ORDER BY dist, station_id) AS rn
        |      FROM d)
        |SELECT lat, lon, station_id, round(dist, 4) AS dist_km
        |FROM r WHERE rn = 1 ORDER BY lat, lon""".stripMargin,
    "q_time_interpolate" ->
      """WITH g AS (
        |  SELECT event_id, CAST(event_id % 64 AS INT) AS series,
        |         CAST(ts AS TIMESTAMP) AS tts,
        |         CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS value
        |  FROM events),
        |w AS (
        |  SELECT event_id, series, value, epoch_us(tts) AS t,
        |    last_value(CASE WHEN value IS NOT NULL THEN value END IGNORE NULLS)
        |      OVER pre AS pv,
        |    last_value(CASE WHEN value IS NOT NULL THEN epoch_us(tts) END IGNORE NULLS)
        |      OVER pre AS pt,
        |    first_value(CASE WHEN value IS NOT NULL THEN value END IGNORE NULLS)
        |      OVER post AS nv,
        |    first_value(CASE WHEN value IS NOT NULL THEN epoch_us(tts) END IGNORE NULLS)
        |      OVER post AS nt
        |  FROM g WINDOW
        |    pre AS (PARTITION BY series ORDER BY tts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    post AS (PARTITION BY series ORDER BY tts, event_id
        |             ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
        |SELECT event_id, series,
        |  round(coalesce(value,
        |    CASE WHEN nt = pt THEN pv ELSE
        |      pv + (nv - pv) * (CAST(t - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))
        |    END,
        |    pv, nv), 4) AS filled,
        |  CASE WHEN value IS NOT NULL THEN 'obs'
        |       WHEN pv IS NOT NULL AND nv IS NOT NULL THEN 'interp'
        |       WHEN pv IS NOT NULL THEN 'ffill'
        |       WHEN nv IS NOT NULL THEN 'bfill'
        |       ELSE 'none' END AS src
        |FROM w ORDER BY event_id""".stripMargin,
  )
}
