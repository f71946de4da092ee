package object graft {
  /** Every operator in the engine is exposed as a pure query:
    * (session, scale-factor dir) => DataFrame. Registered in
    * [[graft.SparkEntry.queries]]; driver-verified against DuckDB.
    */
  type Q = (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame

  /** The engine's session shape: the graft SQL extensions, `local[cores]`
    * with as many shuffle partitions, UTC, nanosecond parquet timestamps
    * read as longs ([[Tables.NanosConf]]) and no UI. Returns the builder,
    * so a caller can add an app name or its own settings before
    * `getOrCreate()`. */
  def sessionBuilder(cores: String): org.apache.spark.sql.SparkSession.Builder =
    org.apache.spark.sql.SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config(Tables.NanosConf, "true")
      .config("spark.ui.enabled", "false")

  /** Engine-independent half-up decimal rendering:
    * `floor(x·10ⁿ + ½)/10ⁿ`. `round(double, n)` is NOT portable at .5
    * boundaries even on bit-identical inputs (Spark rounds the
    * shortest decimal repr, DuckDB the binary value — q_anomaly_mad
    * caught a one-ulp flip at sf0.1); this form uses only
    * exact-rounded IEEE ops, so any engine that mirrors the formula
    * (the oracles do) renders the same digits. Use for every
    * hash-checked double output; nulls pass through. */
  def halfUp(c: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{floor, lit}
    val p = math.pow(10.0, n)
    floor(c * lit(p) + lit(0.5)) / lit(p)
  }

  /** Spread CPU-heavy narrow work across cores before it runs.
    *
    * The harness tables arrive as ONE parquet split, which pins any
    * narrow pipeline downstream of the scan — regex projections, JSON
    * rendering, signature hashing, aggregation partials, sink writes —
    * to a single core (observed 1-of-32 utilization). An explicit
    * numPartitions is used because REPARTITION_BY_NUM is exempt from
    * AQE partition coalescing, which would otherwise fold a
    * small-by-BYTES but CPU-expensive dataset back onto one core.
    *
    * At production scale a scan arrives as thousands of splits and this
    * exchange is unnecessary — it corrects the single-file-source
    * artifact, not the plan shape. The shuffled rows are narrow; the
    * shuffle is trivial next to the per-row CPU it parallelizes.
    */
  def spread(df: org.apache.spark.sql.DataFrame,
      keys: org.apache.spark.sql.Column*): org.apache.spark.sql.DataFrame = {
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    df.repartition(n, keys: _*)
  }

  /** [[spread]] only when the input's PLANNED partition count is below
    * the session parallelism (r17, guide §2.5 "input skew: one huge
    * unsplittable file … repartition immediately after the read"):
    * the harness tables arrive as ONE parquet row group, so any
    * CPU-heavy narrow stage directly over a scan runs on one core
    * locally — but an unconditional repartition would add a full
    * shuffle of the same rows on a real archive, whose scans already
    * arrive in thousands of splits. The partition count comes from the
    * planned RDD DAG (no job runs); at scale the condition is false
    * and the plan is untouched, so the exchange exists exactly where
    * the parallelism deficit exists. */
  def spreadIfNarrow(df: org.apache.spark.sql.DataFrame,
      keys: org.apache.spark.sql.Column*): org.apache.spark.sql.DataFrame = {
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    if (df.rdd.getNumPartitions < n) spread(df, keys: _*) else df
  }
}
