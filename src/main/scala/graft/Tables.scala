package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet scans over the harness tables (TESTDATA.md).
  *
  * Columnar scan with Catalyst pushdown is the engine's ingestion
  * contract — the Spark-native analog of the reference's chunked zarr
  * read + variable selection (reference:
  * pipelines/precipitation_pipeline.py:79-101, which slices time and
  * reads a single variable). Here filter pushdown + column pruning
  * reach the parquet reader automatically; at 100 TB this is the
  * difference between scanning a column subset of pruned row groups
  * and scanning everything.
  */
object Tables {
  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(path(dir, name))

  /** The file path of table `name` under `dir`. */
  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  /** events.ts has shipped in THREE physical representations across
    * harness regenerations: parquet TIMESTAMP(NANOS) (readable only as
    * long nanos via `spark.sql.legacy.parquet.nanosAsLong`),
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) (arrives as
    * TIMESTAMP_NTZ), and plain session-TZ TIMESTAMP. Normalize all
    * three to session-TZ TIMESTAMP by the STORED type, not by
    * convention — the session TZ is pinned UTC at every entry point, so
    * the NTZ cast re-labels the same instant.
    *
    * Nanos → micros uses integer `div` (the harness data is µs-grained,
    * so it is lossless); double division would corrupt epoch-nanos
    * (~1.7e18 > 2^53). The nanosAsLong guard only covers
    * externally-built sessions and writes a constant, so it is
    * idempotent (no order sensitivity, no race).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    if (!s.conf.getOption(NanosConf).contains("true")) s.conf.set(NanosConf, "true")
    val raw = t(s, d, "events")
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.col("ts").cast(TimestampType))
      case TimestampType => raw
      // a FOURTH physical encoding fails here with a diagnostic, not
      // in whichever downstream query happens to trip over it first
      case other => throw new IllegalStateException(
        s"events.ts stored as ${other.simpleString} — not one of the three " +
          "recorded harness encodings (INT64 nanos [read as long under " +
          s"$NanosConf], TIMESTAMP_NTZ micros, session-TZ TIMESTAMP). " +
          "A harness regeneration introduced a new representation: teach " +
          "Tables.events to normalize it before any query runs.")
    }
  }
  val NanosConf = "spark.sql.legacy.parquet.nanosAsLong"
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}
