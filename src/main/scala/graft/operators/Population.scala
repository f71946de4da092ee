package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's second program, end-to-end
  * (pipelines/population_pipeline.py): wide World-Bank-style CSV →
  * single-year column extraction → numeric-string gate → inner join
  * against a countries table (drop on miss) → feature enrichment with
  * {population, year} properties → GeoJSON.
  *
  * The reference implements the join by hand: build a country→pop dict
  * (population_pipeline.py:38-45), probe per feature and `continue` on
  * miss (:57-65). Here the dict build + probe IS a broadcast hash
  * join, the isdigit() gate (:44) is an rlike filter ahead of a cast,
  * and the per-feature enrichment loop is one to_json projection.
  *
  * The wide CSV fixture is synthesized deterministically from `nation`
  * (the harness has no World Bank file) with planted junk: non-numeric
  * population strings (the gate must drop them) and a country missing
  * from the countries table (the inner join must drop it) — the same
  * hostile rows the reference defends against.
  *
  * Scale posture: the countries side broadcasts (bounded dim); the
  * fact side streams through BroadcastHashJoin with no shuffle; the
  * one orderBy is for oracle determinism.
  */
object Population {

  /** Write the wide CSV fixture once per version of `nation`; returns
    * its directory (under the IO scratch root, deleted at JVM exit). */
  def wideCsvFixture(s: SparkSession, d: String): String =
    graft.ProcessCache.get(s, "population_csv:" + d, Tables.path(d, "nation")) {
      val out = graft.sources.IO.tmp("graft_pop_")
      val real = Tables.nation(s, d).select(
        col("n_name").as("Country Name"),
        ((col("n_nationkey") + 1) * 1000 + 17).cast("string").as("2023"),
        ((col("n_nationkey") + 1) * 1250 + 3).cast("string").as("2024"))
      val junk = s.createDataFrame(Seq(
        ("ATLANTIS", "12345", ".."),       // 2024 non-numeric → gated out
        ("ARRAKIS", "n/a", "99x"),         // non-numeric → gated out
        ("NUMENOR", "1000", "2000")        // numeric but not in countries → join-dropped
      )).toDF("Country Name", "2023", "2024")
      real.unionByName(junk).coalesce(1)
        .write.mode("overwrite").option("header", true).csv(out)
      out
    }

  /** countries lookup: name + deterministic cell-center coordinates
    * (stand-in for the countries.geojson geometries). */
  private def countries(s: SparkSession, d: String): DataFrame =
    Tables.nation(s, d).select(col("n_name"),
      ((col("n_nationkey") % 18) * 10.0 - 85.0).as("lat"),
      ((col("n_nationkey") % 36) * 10.0 - 175.0).as("lon"))

  /** `wideIn` lets a caller feed the wide table from another source —
    * the reference's real entry is a downloaded ZIP (its CSV expanded
    * via [[graft.sources.Zip.readZippedCsv]], proven equivalent in
    * PopulationSpec); default is the plain CSV fixture. */
  def populationPipeline(s: SparkSession, d: String, year: Int = 2024,
                         wideIn: Option[DataFrame] = None): DataFrame = {
    val wide = wideIn.getOrElse(
      s.read.option("header", true).csv(wideCsvFixture(s, d)))
    val gated = wide
      .select(col("Country Name").as("country"),
        col(year.toString).as("pop_str"))
      .filter(col("pop_str").rlike("^[0-9]+$")) // isdigit() gate (:44)
      .withColumn("population", col("pop_str").cast("long"))
    gated
      .join(broadcast(countries(s, d)),
        gated("country") === col("n_name"), "inner") // drop on miss (:60-62)
      .select(col("country"), col("population"), lit(year).as("year"),
        Climate.geojsonFeatureWith(col("lat"), col("lon"), lit(0.5), lit(0.5),
          struct(col("country").as("name"), col("population"),
            lit(year).as("year"))).as("feature"))
      .orderBy(col("country"))
  }

  val queries: Map[String, Q] = Map(
    "q_population_composite" -> ((s, d) => populationPipeline(s, d)),
  )

  // Full oracle: the CSV fixture is a deterministic function of
  // `nation` and every junk row is gated (non-numeric) or join-dropped
  // (unknown country), so the oracle reconstructs the surviving rows
  // straight from nation — including the feature JSON, which DuckDB
  // json_object renders byte-identically to to_json (same key order,
  // compact separators, shortest-round-trip doubles; the gate/drop
  // semantics themselves are additionally pinned in PopulationSpec).
  val oracle: Map[String, String] = Map(
    "q_population_composite" ->
      """WITH c AS (
        |  SELECT n_name,
        |         CAST((n_nationkey + 1) * 1250 + 3 AS BIGINT) AS population,
        |         (n_nationkey % 18) * 10.0 - 85.0 AS lat,
        |         (n_nationkey % 36) * 10.0 - 175.0 AS lon
        |  FROM nation)
        |SELECT n_name AS country, population, 2024 AS year,
        |  CAST(json_object(
        |    'type', 'Feature',
        |    'geometry', json_object(
        |      'type', 'Polygon',
        |      'coordinates', [[
        |        [lon - 0.5, lat - 0.5],
        |        [lon + 0.5, lat - 0.5],
        |        [lon + 0.5, lat + 0.5],
        |        [lon - 0.5, lat + 0.5],
        |        [lon - 0.5, lat - 0.5]]]),
        |    'properties', json_object(
        |      'name', n_name,
        |      'population', population,
        |      'year', 2024)) AS VARCHAR) AS feature
        |FROM c ORDER BY country""".stripMargin,
  )
}
