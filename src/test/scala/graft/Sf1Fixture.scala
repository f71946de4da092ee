package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The "sf1" scale fixture: 10 referentially-consistent id-shifted
  * copies of every sf0.1 table (see ScaleSweepSpec's scaladoc for the
  * per-table shifting rationale). Extracted so BOTH the opt-in sweep
  * spec and ad-hoc profiling runs (`Test/runMain graft.Sf1Fixture
  * <dir>`) build the identical dataset — perf work on the sweep's
  * slow tail must measure against the same fixture the sweep timed.
  */
object Sf1Fixture {

  def build(spark: SparkSession, src: String, dir: String): Unit = {
    val copies = spark.range(10).select(col("id").as("c"))
    def scale(name: String, df: DataFrame)(cols: DataFrame => Seq[org.apache.spark.sql.Column]): Unit =
      df.crossJoin(copies).select(cols(df): _*)
        .repartition(16).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    // fixed-size dims: copied once, like real dimension tables
    spark.read.parquet(s"$src/region.parquet")
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    spark.read.parquet(s"$src/nation.parquet")
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    scale("customer", spark.read.parquet(s"$src/customer.parquet")) { _ => Seq(
      (col("c_custkey") + col("c") * 1000000L).as("c_custkey"), col("c_name"),
      col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")) }
    scale("supplier", spark.read.parquet(s"$src/supplier.parquet")) { _ => Seq(
      (col("s_suppkey") + col("c") * 1000000L).as("s_suppkey"), col("s_name"),
      col("s_nationkey"), col("s_acctbal")) }
    scale("part", spark.read.parquet(s"$src/part.parquet")) { _ => Seq(
      (col("p_partkey") + col("c") * 1000000L).as("p_partkey"), col("p_name"),
      col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice")) }
    scale("orders", spark.read.parquet(s"$src/orders.parquet")) { _ => Seq(
      (col("o_orderkey") + col("c") * 10000000L).as("o_orderkey"),
      (col("o_custkey") + col("c") * 1000000L).as("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority")) }
    scale("lineitem", spark.read.parquet(s"$src/lineitem.parquet")) { _ => Seq(
      (col("l_orderkey") + col("c") * 10000000L).as("l_orderkey"),
      (col("l_partkey") + col("c") * 1000000L).as("l_partkey"),
      (col("l_suppkey") + col("c") * 1000000L).as("l_suppkey"),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"),
      col("l_linestatus"), col("l_shipdate")) }
    // events through the adaptive read → stored as plain TIMESTAMP
    // (one of the three recorded encodings, TablesSpec)
    scale("events", Tables.events(spark, src)) { _ => Seq(
      (col("event_id") + col("c") * 10000000L).as("event_id"), col("ts"),
      (col("user_id") + col("c") * 10000000L).as("user_id"),
      col("event_type"), col("value"), col("props")) }
    scale("documents", spark.read.parquet(s"$src/documents.parquet")) { _ =>
      val text = when(col("c") === 0, col("text"))
        .otherwise(concat(col("text"), lit(" c"), col("c")))
      Seq((col("doc_id") + col("c") * 1000000L).as("doc_id"), text.as("text"),
        col("lang"), col("source"), length(text).cast("long").as("n_chars")) }
    scale("embeddings", spark.read.parquet(s"$src/embeddings.parquet")) { _ => Seq(
      (col("vec_id") + col("c") * 1000000L).as("vec_id"), col("embedding"),
      (col("label") + col("c") * 100).cast("int").as("label")) }
  }

  /** Ad-hoc build: `Test/runMain graft.Sf1Fixture <dir> [cpus]`. */
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val cpus = if (args.length > 1) args(1) else "16"
    val spark = sessionBuilder(cpus).appName("graft-sf1-fixture").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    build(spark, "/root/testdata/sf0.1", dir)
    assert(spark.read.parquet(s"$dir/lineitem.parquet").count() == 6000000L)
    println(s"sf1 fixture built at $dir")
    spark.stop()
  }
}
