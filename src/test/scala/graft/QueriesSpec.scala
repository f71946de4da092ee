package graft

/** Smoke-level contract for every registered query: it must plan,
  * execute at sf0.001, and (for all but filters that legitimately
  * drain) return rows. Semantic assertions live in the per-module
  * specs; the DuckDB oracle (driver-run + tools/compare.py) is the
  * row-level correctness gate.
  */
class QueriesSpec extends SparkTestBase {

  // queries whose correct sf0.001 result may be empty (q_join_fuzzy:
  // ~200 parts hold no within-block Levenshtein-≤3 pair; sf0.01+ do)
  private val mayBeEmpty = Set("q_except", "q_join_anti", "q_join_fuzzy")

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name runs and returns rows") {
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty, "schema must be non-empty")
      val n = df.count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("every oracle entry has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("day-index queries: every oracle twin counts days from the engine's origin") {
    val origin = s"DATE '${operators.Climate.DayOrigin}'"
    val dayIndexed = Seq("q_climate_trend", "q_stats_ols2", "q_stats_theilsen",
      "q_stats_seasonality", "q_stats_holt", "q_stats_holtwinters", "q_time_decompose",
      "q_stats_ccf", "q_stats_acf", "q_stats_ljungbox", "q_stats_kendall",
      "q_stats_spearman", "q_stats_wilcoxon", "q_window_rolling_corr", "q_stats_runs",
      "q_stats_changepoint", "q_stats_poisson")
    val off = dayIndexed.filterNot(q => SparkEntry.oracleSql(q).contains(origin))
    assert(off.isEmpty, s"oracle twins without $origin: $off")
  }

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
