package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.{Climate, PipelineManager}

/** Climate composites: golden-file feature construction, land-mask
  * semantics on planted cells, and the end-to-end partitioned-sink
  * pipeline layout (FIXTURES.md §B.2/§B.4).
  */
class ClimateSpec extends SparkTestBase {
  import spark.implicits._

  test("geojsonFeature golden: compact JSON, closed 5-point ring, half-res offsets") {
    val df = Seq((1.5, 2.5, 3.25, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("lat", "lon", "v", "ts")
    val json = df.select(Climate.geojsonFeature(col("lat"), col("lon"), col("v"),
      "precipitation", col("ts"), lit(0.25), lit(0.3125)).as("f")).head.getString(0)
    val expected =
      """{"type":"Feature","geometry":{"type":"Polygon","coordinates":""" +
        """[[[2.1875,1.25],[2.8125,1.25],[2.8125,1.75],[2.1875,1.75],[2.1875,1.25]]]},""" +
        """"properties":{"precipitation":3.25,"time":"2024-01-01 00:00:00","lat":1.5,"lon":2.5}}"""
    assert(json == expected)
  }

  test("feature property variants match each pipeline's shape") {
    val df = Seq((1.5, 2.5, 3.25, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("lat", "lon", "v", "ts")
    val temp = df.select(Climate.temperatureFeature(col("lat"), col("lon"),
      col("v"), col("ts"), lit(0.25), lit(0.3125)).as("f")).head.getString(0)
    // temperature (temperature_pipeline.py:117): {temperature, time} only
    assert(temp.endsWith(""""properties":{"temperature":3.25,"time":"2024-01-01 00:00:00"}}"""), temp)
    assert(!temp.contains(""""lat""""))
    val hum = df.select(Climate.humidityFeature(col("lat"), col("lon"),
      col("v"), col("ts"), lit(0.25), lit(0.3125)).as("f")).head.getString(0)
    // humidity (humidity_pipeline.py:158-163): value + time + lat/lon casts
    assert(hum.endsWith(
      """"properties":{"humidity":3.25,"time":"2024-01-01 00:00:00","lat":1.5,"lon":2.5}}"""), hum)
  }

  test("featureCollection assembles one compact document per month, ordered") {
    val df = Seq(
      (2024, 1, 2L, "{\"b\":2}"),
      (2024, 1, 1L, "{\"a\":1}"),
      (2024, 2, 3L, "{\"c\":3}"),
    ).toDF("year", "month", "event_id", "feature")
    val out = Climate.featureCollection(df, "feature", "event_id")
      .orderBy(col("year"), col("month"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getString(3)))
    // schema is route-stable (year, month, shard, collection); in-bound
    // months always carry shard 0
    assert(out.toSeq == Seq(
      (2024, 1, 0, """{"type":"FeatureCollection","features":[{"a":1},{"b":2}]}"""),
      (2024, 2, 0, """{"type":"FeatureCollection","features":[{"c":3}]}""")))
  }

  test("landMask keeps exactly the points whose cell is in the lookup") {
    val pts = Seq((1L, 0, 0), (2L, 5, 5), (3L, 0, 1))
      .toDF("id", "cell_lat", "cell_lon")
    val land = Seq((0, 0), (0, 1)).toDF("cell_lat", "cell_lon")
    val kept = Climate.landMask(pts, land).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 3L))
  }

  test("land mask query partitions customers (semi ∪ anti = all)") {
    val masked = SparkEntry.queries("q_filter_land_mask")(spark, sf).count()
    val all = Tables.customer(spark, sf).count()
    assert(masked > 0 && masked < all)
  }

  test("gridResolutions (one pass, all axes) agrees with per-axis gridResolution") {
    val df = Seq((0.0, 10.0), (0.5, 12.5), (1.5, 20.0), (2.0, 11.25))
      .toDF("lat", "lon")
    val multi = Climate.gridResolutions(df, Seq("lat" -> 9.0, "lon" -> 9.0)).head
    val lat1 = Climate.gridResolution(df, "lat", 9.0).head.getDouble(0)
    val lon1 = Climate.gridResolution(df, "lon", 9.0).head.getDouble(0)
    assert(multi.getDouble(0) == lat1 && multi.getDouble(1) == lon1)
    // single-value axis falls back to its default
    val one = Seq((1.0, 3.25)).toDF("lat", "lon")
    val r = Climate.gridResolutions(one, Seq("lat" -> 0.5, "lon" -> 0.625)).head
    assert(r.getDouble(0) == 0.5 && r.getDouble(1) == 0.625)
  }

  test("axisResolutions (one aggregate) equals gridResolutions on every input shape") {
    val axes = Seq("lat" -> 0.5, "lon" -> 0.625)
    def resolutions(df: org.apache.spark.sql.DataFrame) = {
      def pairs(r: org.apache.spark.sql.DataFrame) =
        r.collect().map(row => (row.getDouble(0), row.getDouble(1))).toSeq
      val one = pairs(Climate.axisResolutions(df, axes))
      assert(one == pairs(Climate.gridResolutions(df, axes)), "differs from gridResolutions")
      one
    }
    // unsorted, duplicated and negative coordinates (and a NULL, skipped)
    val mixed = Seq[(Option[Double], Option[Double])](
      (Some(3.0), Some(-180.0)), (Some(-1.5), Some(10.0)), (Some(3.0), Some(-178.75)),
      (Some(-90.0), Some(10.0)), (Some(0.0), Some(-180.0)), (None, Some(10.0)))
      .toDF("lat", "lon")
    assert(resolutions(mixed) == Seq((1.5, 1.25)))
    // irregular spacing: the smallest gap wins wherever it sits, rounded to 4 places
    val irregular = Seq((0.0, 0.0), (0.7, 5.0), (2.0, 5.3), (2.25, 9.0)).toDF("lat", "lon")
    assert(resolutions(irregular) == Seq((0.25, 0.3)))
    // a single-value axis gets its default; the other axis still infers
    val single = Seq((1.0, 0.0), (1.0, 2.5), (1.0, 1.25)).toDF("lat", "lon")
    assert(resolutions(single) == Seq((0.5, 1.25)))
    // an empty frame: one row, both defaults
    assert(resolutions(Seq.empty[(Double, Double)].toDF("lat", "lon")) == Seq((0.5, 0.625)))
  }

  test("validated: the one-parse feature count equals json_array_length(get_json_object)") {
    // features are to_json(struct) output, so every element is an
    // object; non-object elements are outside the contract and not
    // exercised here
    val docs = Seq(
      "normal" -> ("""{"type":"FeatureCollection","features":[{"type":"Feature",""" +
        """"geometry":{"type":"Polygon","coordinates":[[[1.0,2.0],[3.0,4.0]]]},""" +
        """"properties":{"a":[1,{"b":"]}"}]}},{"type":"Feature","properties":{}}]}"""),
      "empty" -> """{"type":"FeatureCollection","features":[]}""",
      "missing" -> """{"type":"FeatureCollection"}""",
      "object" -> """{"type":"FeatureCollection","features":{"type":"Feature"}}""",
      "truncated" -> """{"type":"FeatureCollection","features":[{"type":"Feature","geo""",
      "null" -> null)
    val df = docs.zipWithIndex.map { case ((_, d), i) => (2024, 1, i, d) }
      .toDF("year", "month", "shard", "collection")
    def byShard(out: org.apache.spark.sql.DataFrame) = out.collect()
      .map(r => r.getAs[Int]("shard") ->
        (Option(r.getAs[java.lang.Long]("n_features")).map(_.longValue),
          Option(r.getAs[java.lang.Boolean]("valid")).map(_.booleanValue)))
      .toMap
    val onePass = byShard(Climate.validated(df))
    val old = byShard(df
      .withColumn("n_features",
        json_array_length(get_json_object(col("collection"), "$.features")).cast("long"))
      .withColumn("valid", col("n_features") > 0))
    assert(onePass == old)
    val named = docs.map(_._1).zipWithIndex.map { case (n, i) => n -> onePass(i) }.toMap
    assert(named("normal") == (Some(2L), Some(true)))
    assert(named("empty") == (Some(0L), Some(false)))
    Seq("missing", "object", "truncated", "null").foreach(n =>
      assert(named(n) == (None, None), n))
  }

  test("featureCollection: oversized months split into bounded, reassemblable parts") {
    // month 1 has 5 features, month 2 has 2; bound = 2
    val df = (1L to 5L).map(i => (2024, 1, i, s"""{"f":$i}""")) ++
      Seq((2024, 2, 6L, """{"f":6}"""), (2024, 2, 7L, """{"f":7}"""))
    val feats = df.toDF("year", "month", "event_id", "feature")
    val sharded = Climate.featureCollection(feats, "feature", "event_id", 2)
      .orderBy(col("year"), col("month"), col("shard"))
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getString(3))).toSeq
    // an oversized month splits into ceil(5/2)=3 contiguously-numbered parts
    assert(sharded.map(t => (t._1, t._2)) == Seq((1, 0), (1, 1), (1, 2), (2, 0)))
    // no single document (aggregation row) exceeds the bound
    sharded.foreach { case (_, _, doc) =>
      val n = spark.range(1).select(
        json_array_length(get_json_object(lit(doc), "$.features"))).head.getInt(0)
      assert(n <= 2, doc)
    }
    // concatenating the parts' feature arrays in shard order reproduces
    // the unsharded document exactly
    def stripEnvelope(doc: String) = doc
      .stripPrefix("""{"type":"FeatureCollection","features":[""").stripSuffix("]}")
    val unsharded = Climate.featureCollection(feats, "feature", "event_id", 100)
      .orderBy(col("year"), col("month"))
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getString(3))).toSeq
    val reassembled = sharded.groupBy(_._1).view.mapValues(
      _.sortBy(_._2).map(t => stripEnvelope(t._3)).mkString(",")).toMap
    assert(reassembled == unsharded.map(t => t._1 -> stripEnvelope(t._3)).toMap)
    // in-bound months: ONE shard (index 0)
    assert(unsharded.forall(_._2 == 0))
  }

  test("featureCollection: shuffled parts reassemble in the order column's numeric order") {
    // 2 < 9 < 10 < 100 as numbers but "10" < "100" < "2" < "9" as
    // strings: the per-part sort must follow orderCol's own type
    val ids = Seq(100L, 2L, 10L, 9L, 1000L, 21L, 3L)
    val rows = ids.flatMap(i => Seq((2024, 1, i), (2024, 2, i + 1)))
    val feats = new scala.util.Random(7).shuffle(rows)
      .map { case (y, m, i) => (y, m, i, s"""{"f":$i}""") }
      .toDF("year", "month", "event_id", "feature").repartition(4)
    val parts = Climate.featureCollection(feats, "feature", "event_id", 2)
      .collect().map(r => (r.getInt(1), r.getInt(2),
        r.getString(3).stripPrefix("""{"type":"FeatureCollection","features":[""")
          .stripSuffix("]}")))
      .toSeq
    parts.foreach { case (_, _, body) => assert(body.split(",").length <= 2, body) }
    val reassembled = parts.groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).mkString(",")).toMap
    val expected = rows.groupBy(_._2).view
      .mapValues(_.map(_._3).sorted.map(i => s"""{"f":$i}""").mkString(",")).toMap
    assert(reassembled == expected)
  }

  test("featureCollection: distributed rank, no whole-month window") {
    val feats = (1L to 100L).map(i => (2024, 1, i, s"f$i"))
      .toDF("year", "month", "event_id", "feature")
    val plan = Climate.featureCollection(feats, "feature", "event_id", 10)
      .queryExecution.executedPlan.toString
    // The rank must come from the grouped prefix sum: every Window in
    // the plan is partitioned by (_pid, group) or runs on the tiny
    // per-partition count table — NEVER by (year,month) alone, which
    // the sf1 sweep proved collapses a single-month relation into one
    // task. The shard aggregate then fans out on (year,month,shard).
    assert(!plan.contains("windowspecdefinition(year"),
      s"whole-month window found:\n$plan")
    assert(plan.contains("hashpartitioning(year#") ||
      "hashpartitioning\\(year".r.findFirstIn(plan).isDefined,
      s"missing the (year,month,shard) aggregate exchange:\n$plan")
    assert("windowspecdefinition\\(_pid".r.findFirstIn(plan).isDefined,
      s"missing the partition-local prefix-sum window:\n$plan")
  }

  test("axisResolutions by (year, month): each month infers its OWN grid resolution") {
    // month 1 is a 0.5° grid, month 2 a 1.0° grid, month 3 has a single
    // point per axis (falls back to the default) — the split-then-infer
    // order of humidity_pipeline.py:136-139 / temperature_pipeline.py:102-105
    val df = Seq(
      (2024, 1, 0.0, 10.0), (2024, 1, 0.5, 10.625), (2024, 1, 1.5, 12.5),
      (2024, 2, 0.0, 10.0), (2024, 2, 1.0, 11.25),
      (2024, 3, 4.0, 40.0),
    ).toDF("year", "month", "lat", "lon")
    val res = Climate.axisResolutions(df, Seq("lat" -> 0.5, "lon" -> 0.625),
        Seq("year", "month"))
      .orderBy(col("year"), col("month"))
      .collect().map(r => (r.getInt(1), r.getDouble(2), r.getDouble(3))).toSeq
    assert(res == Seq((1, 0.5, 0.625), (2, 1.0, 1.25), (3, 0.5, 0.625)))
  }

  test("temperature/humidity composites: per-pipeline property + validation semantics") {
    val t = Climate.temperatureComposite(spark, sf).collect()
    assert(t.nonEmpty)
    val tDoc = t.head.getAs[String]("collection")
    // temperature properties carry NO lat/lon echo (temperature_pipeline.py:117)
    assert(tDoc.contains("\"temperature\":"))
    assert(!tDoc.contains("\"humidity\":") && !tDoc.contains("\"lat\":"), tDoc.take(400))
    val h = Climate.humidityComposite(spark, sf).collect()
    assert(h.nonEmpty)
    h.foreach { r =>
      val doc = r.getAs[String]("collection")
      // humidity properties echo lat/lon (humidity_pipeline.py:158-163)
      assert(doc.contains("\"humidity\":") && doc.contains("\"lat\":"), doc.take(400))
      // the validation lifecycle (humidity_pipeline.py:95-110): the
      // n_features column IS the parse-back count and gates `valid`
      assert(r.getAs[Long]("n_features") > 0 && r.getAs[Boolean]("valid"))
    }
  }

  test("isEmptyRelation short-circuits without a full count") {
    val li = Tables.lineitem(spark, sf)
    assert(!Climate.isEmptyRelation(li))
    assert(Climate.isEmptyRelation(li.filter(col("l_quantity") < -1)))
  }

  test("precipitation pipeline: one lazy plan to a hive (year,month) layout") {
    val root = Files.createTempDirectory("graft_e2e").toString
    assert(PipelineManager.runClimatePipelines(spark, sf, root).allSucceeded)
    val out = s"$root/precipitation"
    val back = spark.read.parquet(out)
    assert(back.columns.sorted.toSeq == Seq("feature", "month", "year"))
    val n = back.count()
    assert(n > 0)
    // hive layout: year=*/month=* directories
    val yearDirs = new java.io.File(out).listFiles.filter(_.isDirectory).map(_.getName)
    assert(yearDirs.nonEmpty && yearDirs.forall(_.matches("year=\\d+")))
    // every feature is a well-formed Polygon feature
    val kinds = back.select(
      get_json_object(col("feature"), "$.geometry.type").as("g")).distinct()
      .collect().map(_.getString(0)).toSeq
    assert(kinds == Seq("Polygon"))
    // ring is closed: first point == last point
    val ring = back.select(from_json(
      get_json_object(col("feature"), "$.geometry.coordinates"),
      org.apache.spark.sql.types.DataTypes.createArrayType(
        org.apache.spark.sql.types.DataTypes.createArrayType(
          org.apache.spark.sql.types.DataTypes.createArrayType(
            org.apache.spark.sql.types.DataTypes.DoubleType)))).as("c"))
      .select(element_at(element_at(col("c"), 1), 1).as("first"),
        element_at(element_at(col("c"), 1), 5).as("last"))
    assert(ring.filter(col("first") =!= col("last")).count() == 0)
  }

  test("sourceFingerprint: covered for file/local plans, fails CLOSED otherwise") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    // v1 parquet scan and plan-embedded local data: coverable
    assert(ProcessCache.sourceFingerprint(Tables.nation(spark, sf)).isDefined)
    assert(ProcessCache.sourceFingerprint(Seq((1, 2)).toDF("a", "b")).isDefined)
    // RDD-backed plan: no file listing exists — must be None so the
    // memo caches skip it instead of caching under a constant print
    val rdd = spark.sparkContext.parallelize(
      Seq(org.apache.spark.sql.Row(1, 2)))
    val rddDf = spark.createDataFrame(rdd, StructType(Seq(
      StructField("cell_lat", IntegerType), StructField("cell_lon", IntegerType))))
    assert(ProcessCache.sourceFingerprint(rddDf).isEmpty)
    // a subquery expression wraps a nested plan the traversal does not
    // descend into — its relation would otherwise go unfingerprinted
    Tables.region(spark, sf).createOrReplaceTempView("graft_fp_region")
    try {
      val withSub = Tables.nation(spark, sf).filter(
        expr("n_regionkey <= (SELECT max(r_regionkey) FROM graft_fp_region)"))
      assert(ProcessCache.sourceFingerprint(withSub).isEmpty)
    } finally spark.catalog.dropTempView("graft_fp_region")
    // and the fail-closed path still serves correct (uncached) masks
    val m = Climate.landCellMask(rddDf)
    assert(m.contains(1, 2) && !m.contains(0, 0))
  }
}
