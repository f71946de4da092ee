package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.sources.zarr.{Zarr, ZarrMeta}

/** The zarr v2 connector: chunk-grid partitioning, chunk pruning via
  * pushed index predicates, codecs, fill value for missing chunks,
  * padded edge chunks, column pruning, and the coordinate-join
  * flatten. Values are oracle-checked end-to-end by q_scan_zarr /
  * q_scan_zarr_coords; these pin the connector-level properties the
  * oracle can't see.
  */
class ZarrSpec extends SparkTestBase {

  private lazy val group = Zarr.climateGroup(spark)

  test("chunk = partition: the full scan plans one partition per stored chunk") {
    // time 6/2 = 3, lat 20/8 = 3 (padded), lon 30/16 = 2 (padded) → 18
    val df = Zarr.readArray(spark, s"$group/precip")
    assert(df.rdd.getNumPartitions == 18)
    // every element decodes: 6*20*30 in-bounds rows, padding skipped
    assert(df.count() == 3600)
  }

  test("chunk pruning: index predicates cut the partition list before any read") {
    val df = Zarr.readArray(spark, s"$group/precip")
    // time >= 4 → only the third time-chunk row of the grid: 1*3*2
    assert(df.filter(col("time") >= 4).rdd.getNumPartitions == 6)
    // point predicate on every dim → exactly one chunk
    val one = df.filter(col("time") === 0 && col("lat") < 8 && col("lon") >= 16)
    assert(one.rdd.getNumPartitions == 1)
    // pruning is an optimization, never a semantics change
    assert(one.count() == 1 * 8 * 14) // t=0 only; lon 16..29 = 14 in-bounds cols
    assert(df.filter(col("time") >= 4).count() == 2 * 20 * 30)
    // the pushed box shows in the scan description (observability)
    val desc = df.filter(col("time") >= 4).queryExecution.executedPlan.toString()
    assert(desc.contains("graft-zarr"), desc.take(800))
  }

  test("raw, zlib, gzip, blosc(lz4) and blosc(zlib) chunks decode to identical rows") {
    val base = graft.sources.IO.tmp("graft_zarr_codec_")
    val f = (i: Array[Long]) => (i(0) * 100 + i(1)).toDouble
    val codecs = Seq(None, Some("zlib"), Some("gzip"), Some("blosc:lz4"), Some("blosc:zlib"))
    codecs.zipWithIndex.foreach { case (c, k) =>
      Zarr.writeArray(s"$base/a$k", Array(7L, 5L), Array(3, 2),
        Array("r", "c"), c, 0.0, f)
    }
    val rows = codecs.indices.map(k => Zarr.readArray(spark, s"$base/a$k")
      .orderBy(col("r"), col("c")).collect().map(_.toSeq).toSeq)
    assert(rows.forall(_ == rows(0)))
    assert(rows(0).size == 35)
  }

  test("missing chunk files read as the fill value (zarr sparse-store contract)") {
    val dir = graft.sources.IO.tmp("graft_zarr_fill_") + "/a"
    Zarr.writeArray(dir, Array(4L, 4L), Array(2, 2), Array("r", "c"),
      None, -1.5, i => (i(0) * 10 + i(1)).toDouble)
    // drop one interior chunk: rows (2..3, 0..1)
    Files.delete(Paths.get(dir, "1.0"))
    val got = Zarr.readArray(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.size == 16)
    assert(got((2L, 0L)) == -1.5 && got((3L, 1L)) == -1.5)
    assert(got((0L, 0L)) == 0.0 && got((1L, 3L)) == 13.0)
  }

  test("column pruning: any field subset, in any order, decodes correctly") {
    val df = Zarr.readArray(spark, s"$group/precip")
    val v = df.select("value").agg(sum("value")).head.getDouble(0)
    val full = df.agg(sum("value")).head.getDouble(0)
    assert(v == full)
    val reordered = df.select(col("value"), col("lon"), col("time"))
      .filter(col("time") === 1 && col("lon") === 29).orderBy(col("value"))
      .collect()
    assert(reordered.length == 20)
    assert(reordered.head.getDouble(0) == 10029.0) // t=1,y=0,x=29
    assert(reordered.last.getDouble(0) == 11929.0) // t=1,y=19,x=29
  }

  test("coordinate-join flatten matches the index-space function (xarray to_dataframe)") {
    val df = Zarr.toDataFrame(spark, group, "precip")
    assert(df.columns.toSeq == Seq("time", "lat", "lon", "precip"))
    assert(df.count() == 3600)
    val bad = df.filter(
      col("precip") =!= ((col("time") / 3600) * 10000 +
        ((col("lat") + 90.0) / 0.5) * 100 + (col("lon") + 180.0) / 0.625)).count()
    assert(bad == 0)
  }

  test("sliceByCoord: a time-VALUE slice prunes chunks through the coord lookup") {
    // time coord values are t*3600; [14400, 21600] → indices 4..5 →
    // the third time-chunk only: 3 lat-chunks × 2 lon-chunks = 6 of 18
    val sliced = Zarr.sliceByCoord(spark, group, "precip", "time", 14400.0, 21600.0)
    assert(sliced.rdd.getNumPartitions == 6,
      s"expected 6 pruned partitions, got ${sliced.rdd.getNumPartitions}")
    assert(sliced.count() == 2 * 20 * 30)
    assert(sliced.columns.toSeq == Seq("time", "lat", "lon", "precip"))
    // values carry coordinate semantics, restricted to the slice
    val times = sliced.select("time").distinct().collect().map(_.getDouble(0)).sorted
    assert(times.toSeq == Seq(14400.0, 18000.0))
    // an empty slice yields an empty frame with the full schema
    val none = Zarr.sliceByCoord(spark, group, "precip", "time", 1e9, 2e9)
    assert(none.isEmpty && none.columns.toSeq == Seq("time", "lat", "lon", "precip"))
  }

  test("multi-variable to_dataframe: one table, dims exact-joined, mismatched dims LOUD") {
    val g = Zarr.timeGroup(spark)
    val multi = Zarr.toDataFrame(spark, g, Seq("temp", "obs_end"))
    assert(multi.columns.toSeq == Seq("time", "level", "temp", "obs_end"))
    assert(multi.count() == 50L * 6)
    // row-identical to the manual per-variable flatten + dim join
    val manual = Zarr.toDataFrame(spark, g, "temp")
      .join(Zarr.toDataFrame(spark, g, "obs_end"), Seq("time", "level"))
      .select(col("time"), col("level"), col("temp"), col("obs_end"))
    assert(multi.exceptAll(manual).isEmpty && manual.exceptAll(multi).isEmpty)
    // a variable with different dims must reject loudly, never
    // silently broadcast/explode rows
    Zarr.writeArray(s"$g/profile", Array(6L), Array(6), Array("level"),
      None, 0.0, i => i(0) * 2.0)
    val e = intercept[IllegalArgumentException](
      Zarr.toDataFrame(spark, g, Seq("temp", "profile")))
    assert(e.getMessage.contains("mismatched-dim"), e.getMessage)
  }

  test("sliceByTime: a TIMESTAMP slice prunes chunks through a datetime64 coord") {
    // timeGroup: temp[time=50, level=6] in (16,4) chunks → 4×2 grid;
    // time coord = 2020-01-01 + 30-min steps (<M8[m]). A slice over
    // steps 16..31 (08:00..15:30) covers exactly the second time-chunk
    // → 1 × 2 level-chunks = 2 of 8 partitions
    val g = Zarr.timeGroup(spark)
    val lo = java.time.Instant.parse("2020-01-01T08:00:00Z")
    val hi = java.time.Instant.parse("2020-01-01T15:30:00Z")
    val sliced = Zarr.sliceByTime(spark, g, "temp", "time", lo, hi)
    assert(sliced.rdd.getNumPartitions == 2,
      s"expected 2 pruned partitions, got ${sliced.rdd.getNumPartitions}")
    assert(sliced.count() == 16 * 6)
    val times = sliced.select("time").distinct().collect()
      .map(_.getTimestamp(0).toInstant).sortBy(_.getEpochSecond)
    assert(times.head == lo && times.last == hi && times.length == 16)
    // an empty slice yields an empty frame with the full schema
    val none = Zarr.sliceByTime(spark, g, "temp", "time",
      java.time.Instant.parse("2031-01-01T00:00:00Z"),
      java.time.Instant.parse("2032-01-01T00:00:00Z"))
    assert(none.isEmpty && none.columns.toSeq == Seq("time", "level", "temp"))
  }

  test("consolidated .zmetadata: the group reads with NO per-array metadata files") {
    // copy the climate group, consolidate, then DELETE every per-array
    // .zarray/.zattrs — everything must resolve through the one group
    // document (what xarray's consolidated=True reads; the reference
    // passes it at precipitation_pipeline.py:83)
    val copy = graft.sources.IO.tmp("graft_zarr_consol_")
    def cp(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
      Files.createDirectories(dst.getParent)
      Files.copy(src, dst)
      ()
    }
    val root = Paths.get(group)
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).foreach { p =>
      cp(p, Paths.get(copy).resolve(root.relativize(p)))
    }
    Zarr.consolidate(copy)
    Files.walk(Paths.get(copy)).iterator().asScala
      .filter(p => p.getFileName.toString == ".zarray" || p.getFileName.toString == ".zattrs")
      .toSeq.foreach(p => Files.delete(p))
    val viaConsolidated = Zarr.toDataFrame(spark, copy, "precip")
      .orderBy(col("time"), col("lat"), col("lon")).collect().map(_.toSeq).toSeq
    val direct = Zarr.toDataFrame(spark, group, "precip")
      .orderBy(col("time"), col("lat"), col("lon")).collect().map(_.toSeq).toSeq
    assert(viaConsolidated == direct && direct.size == 3600)
    // and the value-slice path works consolidated too (chunk pruning intact)
    val sliced = Zarr.sliceByCoord(spark, copy, "precip", "time", 14400.0, 21600.0)
    assert(sliced.rdd.getNumPartitions == 6 && sliced.count() == 1200)
  }

  test("pipeline tie-in: the climate stages compose on the zarr read") {
    import graft.operators.Climate
    // zarr group → to_dataframe flatten → the REAL pipeline stages.
    // The fixture's coordinate spacings are the reference's native grid
    // (0.5° lat / 0.625° lon, precipitation_pipeline.py:177,182):
    // resolution inference must RECOVER them from the store's coords —
    // defaults are planted at 99 so a fallback would be visible.
    val flat = Zarr.toDataFrame(spark, group, "precip")
      .withColumn("ts", timestamp_seconds(col("time")))
    val withYm = Climate.withYearMonth(flat, "ts")
    val res = Climate.axisResolutions(withYm,
      Seq("lat" -> 99.0, "lon" -> 99.0), Seq("year", "month")).collect()
    assert(res.length == 1) // epoch-hour fixture times: one (year,month)
    assert(res.head.getDouble(2) == 0.5 && res.head.getDouble(3) == 0.625,
      s"inferred ${res.head}")
    // and the land-mask stage: quantize cells, probe a lookup — the
    // semi-join partitions the zarr rows exactly
    // 5° cells: the fixture spans ~9.5° lat × ~18° lon, so quantization
    // yields several distinct cells and the 2-cell lookup is a proper
    // subset (a 30° grid would swallow the whole extent in one cell)
    val pts = flat
      .withColumn("cell_lat", Climate.cellIndex(col("lat"), 90.0, 5.0))
      .withColumn("cell_lon", Climate.cellIndex(col("lon"), 180.0, 5.0))
    val land = pts.select(col("cell_lat"), col("cell_lon")).distinct().limit(2)
    val kept = Climate.landMask(pts, land).count()
    assert(kept > 0 && kept < flat.count())
  }

  test("distributed sink: chunk files byte-identical to the driver writer's") {
    val base = graft.sources.IO.tmp("graft_zarr_sink_par_")
    val f = (i: Array[Long]) => (i(0) * 1000 + i(1) * 10 + i(2)).toDouble
    val (shape, chunks) = (Array(5L, 7L, 4L), Array(2, 3, 4))
    Zarr.writeArray(s"$base/driver", shape, chunks,
      Array("a", "b", "c"), Some("zlib"), -2.0, f)
    val rows = spark.range(0L, shape.product).select(
      expr("id div 28").as("a"), expr("(id div 4) % 7").as("b"),
      expr("id % 4").as("c"))
      .withColumn("value",
        (col("a") * 1000 + col("b") * 10 + col("c")).cast("double"))
    Zarr.writeArrayDistributed(rows, s"$base/dist", shape, chunks,
      Array("a", "b", "c"), Some("zlib"), -2.0)
    // same chunk file SET with byte-identical contents: padding,
    // C-order packing and codec all agree with the driver writer
    val names = (d: String) => new java.io.File(d).listFiles
      .filter(!_.getName.startsWith(".")).map(_.getName).sorted.toSeq
    assert(names(s"$base/driver") == names(s"$base/dist"))
    names(s"$base/driver").foreach { nm =>
      assert(java.util.Arrays.equals(
        Files.readAllBytes(Paths.get(s"$base/driver", nm)),
        Files.readAllBytes(Paths.get(s"$base/dist", nm))), s"chunk $nm differs")
    }
  }

  test("distributed sink: rows absent from a chunk read back as the fill value") {
    val dir = graft.sources.IO.tmp("graft_zarr_sink_fill_") + "/a"
    // only the diagonal is written; everything else must read as fill
    val rows = spark.range(0L, 4L).select(col("id").as("r"), col("id").as("c"))
      .withColumn("value", (col("r") * 11).cast("double"))
    Zarr.writeArrayDistributed(rows, dir, Array(4L, 4L), Array(2, 2),
      Array("r", "c"), None, -9.0)
    val got = Zarr.readArray(spark, dir).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap
    assert(got.size == 16)
    (0L until 4L).foreach { i =>
      assert(got((i, i)) == i * 11.0)
      assert(got((i, (i + 1) % 4)) == -9.0)
    }
    // out-of-bounds indices must fail the WRITE loudly, not corrupt
    val bad = spark.range(0L, 1L).select(lit(7L).as("r"), lit(0L).as("c"))
      .withColumn("value", lit(1.0))
    val e = intercept[org.apache.spark.SparkException] {
      Zarr.writeArrayDistributed(bad, dir + "2", Array(4L, 4L), Array(2, 2),
        Array("r", "c"), None, 0.0)
    }
    assert(e.getMessage.contains("outside") || e.getCause != null)
  }

  test("distributed sink: ONE live chunk buffer per task, however many chunks it owns") {
    // 4x8x8 chunks of 2x2x2 over a 8x16x16 cube = 256 chunks across 4
    // shuffle partitions (~64 chunks/task). The flush-on-key-change
    // writer holds one buffer at a time, so the JVM-wide high-water
    // mark is bounded by the CONCURRENT task count (4 on local[4]) —
    // the round-6 buffer-Map writer would have driven it to ~256.
    val dir = graft.sources.IO.tmp("graft_zarr_onebuf_") + "/a"
    val rows = spark.range(0L, 8L * 16 * 16).select(
      expr("id div 256").as("a"), expr("(id div 16) % 16").as("b"),
      expr("id % 16").as("c"))
      .withColumn("value", col("a").cast("double"))
    Zarr.liveBuffersHighWater.set(0)
    Zarr.liveBuffers.set(0)
    Zarr.instrumentSink.set(true) // counters only tick inside this window
    try Zarr.writeArrayDistributed(rows, dir, Array(8L, 16L, 16L), Array(2, 2, 2),
      Array("a", "b", "c"), Some("zlib"))
    finally Zarr.instrumentSink.set(false)
    val hw = Zarr.liveBuffersHighWater.get()
    assert(hw >= 1 && hw <= 4, s"live-buffer high water $hw, expected <= 4 tasks")
    assert(Zarr.liveBuffers.get() == 0, "buffers must all be flushed")
    // and no stray temp files from the atomic-rename protocol
    assert(!new java.io.File(dir).listFiles.exists(_.getName.endsWith(".tmp")))
    assert(Zarr.readArray(spark, dir).agg(sum("value")).head.getDouble(0)
      == (0 until 8).map(_.toDouble * 256).sum)
  }

  test("columnar read path: vectorized batches, row-reader parity per chunk") {
    // the scan hands Spark ColumnarBatches (no per-element row boxing);
    // the plan shows the ColumnarToRow bridge
    val df = Zarr.readArray(spark, s"$group/precip")
    assert(df.queryExecution.executedPlan.toString().contains("ColumnarToRow"),
      df.queryExecution.executedPlan.toString().take(600))
    // direct parity: both readers emit identical rows for an EDGE chunk
    // (padding skip) across full and reordered/pruned projections
    import graft.sources.zarr.{ZarrChunkPartition, ZarrReaderFactory, ZarrMeta => ZM}
    val meta = ZM.read(s"$group/precip")
    for (fields <- Seq(Array("time", "lat", "lon", "value"), Array("value", "lon"))) {
      val fac = new ZarrReaderFactory(s"$group/precip", meta, fields)
      val part = ZarrChunkPartition(Array(2, 2, 1)) // padded in lat AND lon
      val rowReader = fac.createReader(part)
      val rows = Iterator.continually(rowReader)
        .takeWhile(_.next()).map(_.get().copy()).toVector
      val colReader = fac.createColumnarReader(part)
      val batches = Iterator.continually(colReader)
        .takeWhile(_.next()).flatMap(r => r.get().rowIterator().asScala.map(_.copy()))
        .toVector
      assert(batches.size == rows.size && rows.nonEmpty)
      rows.zip(batches).foreach { case (a, b) =>
        fields.indices.foreach { i =>
          assert(a.get(i, meta.schema(fields(i)).dataType)
            == b.get(i, meta.schema(fields(i)).dataType), s"field ${fields(i)}")
        }
      }
    }
  }

  test("group sink: coords + variable + consolidated metadata round-trip") {
    val out = graft.sources.IO.tmp("graft_zarr_group_rt_") + "/g"
    val src = spark.range(0L, 3L * 4 * 5).select(
      expr("id div 20").as("t"), expr("(id div 5) % 4").as("y"), expr("id % 5").as("x"))
      .select(
        (col("t") * 100).cast("double").as("time"),
        (lit(10.0) + col("y") * 0.25).as("lat"),
        (lit(-5.0) + col("x") * 1.5).as("lon"),
        (col("t") * 1000 + col("y") * 10 + col("x")).cast("double").as("value"))
    Zarr.writeGroupDistributed(src, out, "tmax", Seq("time", "lat", "lon"), Array(2, 2, 2))
    // store shape: variable + one coord array per dim + .zmetadata
    assert(Files.exists(Paths.get(out, ".zmetadata")))
    Seq("tmax", "time", "lat", "lon").foreach(a =>
      assert(Files.exists(Paths.get(out, a, ".zarray")), a))
    val back = Zarr.toDataFrame(spark, out, "tmax")
      .orderBy(col("time"), col("lat"), col("lon"))
      .collect().map(_.toSeq).toSeq
    val want = src.withColumnRenamed("value", "tmax")
      .orderBy(col("time"), col("lat"), col("lon")).collect().map(_.toSeq).toSeq
    assert(back == want)
    // and the group survives on consolidated metadata ALONE
    Files.walk(Paths.get(out)).iterator().asScala
      .filter(p => p.getFileName.toString == ".zarray" || p.getFileName.toString == ".zattrs")
      .toSeq.foreach(Files.delete(_))
    assert(Zarr.toDataFrame(spark, out, "tmax").count() == 60)
  }

  test("group sink: coordinate drift between passes fails LOUDLY, never writes fill") {
    import spark.implicits._
    // writeGroupDistributed re-evaluates its input after the
    // factorization pass collected the coordinate values; a
    // non-deterministic source emitting a NEW value in the write pass
    // must fail loudly — an inner join would silently drop the row and
    // the cell would read back as fill. Plant exactly that drift.
    ZarrSpec.evals.set(0)
    val src = spark.range(0, 4, 1, 1).mapPartitions { it =>
      val eval = ZarrSpec.evals.incrementAndGet()
      // i==3's coordinate differs on EVERY evaluation, so whichever
      // pass factorized, the later write pass sees a value absent from
      // it — robust to how many pre-flight passes precede factorization
      it.map(i => (if (i == 3) eval * 1000.0 else i.toDouble * 10, i.toDouble))
    }.toDF("t", "value")
    val out = graft.sources.IO.tmp("graft_zarr_drift_") + "/g"
    val e = intercept[Exception] {
      Zarr.writeGroupDistributed(src, out, "v", Seq("t"), Array(2))
    }
    def drifted(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains("absent from the factorization"))
        || drifted(t.getCause))
    assert(drifted(e), s"expected the loud coordinate-drift failure, got: $e")
  }

  test("group sink: a NULL coordinate value fails loudly at factorization") {
    // collect_set silently drops nulls — without the guard the row
    // survives factorization and dies far later in the drift check
    // with a misleading "non-deterministic input" message
    val src = spark.range(0L, 4L).select(
      when(col("id") === 2, lit(null)).otherwise(col("id") * 10)
        .cast("double").as("t"),
      col("id").cast("double").as("value"))
    val out = graft.sources.IO.tmp("graft_zarr_nullc_") + "/g"
    val e = intercept[IllegalArgumentException] {
      Zarr.writeGroupDistributed(src, out, "v", Seq("t"), Array(2))
    }
    assert(e.getMessage.contains("dim 't' has 1 null coordinate"), e.getMessage)
  }

  test("group sink: a coordinate that CASTS to null fails the guard too") {
    // the factorization casts dims to double. Under ANSI (the
    // default) a malformed string fails the cast loudly on its own;
    // with ANSI OFF the cast nulls SILENTLY — collect_set would drop
    // the value and the write would die later with the misleading
    // drift message. The guard counts POST-cast nulls, so it fires
    // first in both worlds.
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val src = spark.range(0L, 3L).select(
        concat(lit("t"), col("id")).as("t"),
        col("id").cast("double").as("value"))
      val out = graft.sources.IO.tmp("graft_zarr_castnull_") + "/g"
      val e = intercept[IllegalArgumentException] {
        Zarr.writeGroupDistributed(src, out, "v", Seq("t"), Array(2))
      }
      assert(e.getMessage.contains("dim 't' has 3 null coordinate"), e.getMessage)
    } finally spark.conf.set(key, prev)
  }

  test("group sink: a corpus-cardinality dim fails the pre-flight, not the driver") {
    // a measurement column mistyped as a dim: every row a distinct
    // value. The cardinality pre-flight (approx_count_distinct, cheap
    // narrow pass) must refuse BEFORE the collect_set factorization
    // materializes a corpus-sized index. Bound shrunk for the test;
    // the registered q_sink_zarr_group path (default bound) unchanged.
    val src = spark.range(0L, 1000L).select(
      (col("id").cast("double") / 7.0).as("t"),
      col("id").cast("double").as("value"))
    val out = graft.sources.IO.tmp("graft_zarr_card_") + "/g"
    val e = intercept[IllegalArgumentException] {
      Zarr.writeGroupDistributed(src, out, "v", Seq("t"), Array(2),
        maxIndexSize = 100)
    }
    assert(e.getMessage.contains("maxIndexSize") &&
      e.getMessage.contains("dim 't'"), e.getMessage)
  }

  test("group sink: EMPTY input fails loudly, not with a raw arithmetic error") {
    val src = spark.range(0L, 4L).filter(col("id") < 0)
      .select(col("id").cast("double").as("t"), col("id").cast("double").as("value"))
    val out = graft.sources.IO.tmp("graft_zarr_empty_") + "/g"
    val e = intercept[IllegalArgumentException] {
      Zarr.writeGroupDistributed(src, out, "v", Seq("t"), Array(2))
    }
    assert(e.getMessage.contains("empty input"), e.getMessage)
  }

  test("sink tmp hygiene: orphans swept on rewrite; a failing flush leaves no tmp") {
    // 1) a hard-killed task attempt from a PREVIOUS write left a stray
    //    temp file (simulated); the next write over the same store
    //    must sweep it before its own job runs
    val dir = graft.sources.IO.tmp("graft_zarr_tmpclean_") + "/a"
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, ".0.0.orphan123.tmp"), "junk")
    val rows = spark.range(0L, 4L).select(
      expr("id div 2").as("r"), expr("id % 2").as("c"))
      .withColumn("value", (col("r") * 2 + col("c")).cast("double"))
    Zarr.writeArrayDistributed(rows, dir, Array(2L, 2L), Array(1, 1),
      Array("r", "c"), None, 0.0)
    val leftover = new java.io.File(dir).listFiles.map(_.getName)
      .filter(_.endsWith(".tmp")).toSeq
    assert(leftover.isEmpty, s"orphaned tmp files survived the sweep: $leftover")
    // 2) a flush that fails BETWEEN temp-create and move (here: the
    //    codec rejects the id after the temp file exists) must delete
    //    its temp on the way out — the try/finally, not the sweep
    val dir2 = graft.sources.IO.tmp("graft_zarr_tmpfail_") + "/a"
    intercept[org.apache.spark.SparkException] {
      Zarr.writeArrayDistributed(rows, dir2, Array(2L, 2L), Array(1, 1),
        Array("r", "c"), Some("not-a-codec"), 0.0)
    }
    val leftover2 = new java.io.File(dir2).listFiles.map(_.getName)
      .filter(_.endsWith(".tmp")).toSeq
    assert(leftover2.isEmpty, s"failing flush stranded tmp files: $leftover2")
  }

  test("sharded sink: fresh crash = no store; failed REWRITE leaves the prior store readable (staged swap)") {
    // v3 reads an absent shard as fill, so metadata-first would make a
    // crashed write indistinguishable from a complete one. FRESH path:
    // a failing job must leave NO zarr.json. REWRITE path (store
    // already published): the new store stages in a sibling dir and
    // swaps atomically, so a failing rewrite leaves the PRIOR store
    // byte-untouched and readable — never unreadable, never a mix.
    val dir = graft.sources.IO.tmp("graft_zarr_commit_") + "/a"
    def poisoned = spark.range(0L, 4L).select(
      expr("id div 2").as("r"), expr("id % 2").as("c"))
      .withColumn("value", col("r").cast("double"))
      // row outside the declared shape: the task fails mid-write
      .union(spark.range(0L, 1L).select(lit(9L).as("r"), lit(0L).as("c"))
        .withColumn("value", lit(1.0)))
    // 1) FRESH-path crash: no zarr.json, reader refuses
    intercept[org.apache.spark.SparkException] {
      Zarr.writeArrayV3ShardedDistributed(poisoned, dir, Array(2L, 2L),
        Array(2, 2), Array(1, 2), Array("r", "c"), None)
    }
    assert(!Files.exists(Paths.get(dir, "zarr.json")),
      "a failed fresh sharded write left a readable zarr.json behind")
    intercept[Exception] { Zarr.readArray(spark, dir).collect() }
    // 2) publish a good store
    val good = spark.range(0L, 4L).select(
      expr("id div 2").as("r"), expr("id % 2").as("c"))
      .withColumn("value", (col("r") * 2 + col("c")).cast("double"))
    Zarr.writeArrayV3ShardedDistributed(good, dir, Array(2L, 2L),
      Array(2, 2), Array(1, 2), Array("r", "c"), None)
    assert(Zarr.readArray(spark, dir).orderBy(col("r"), col("c")).collect()
      .map(_.getDouble(2)).toSeq == Seq(0.0, 1.0, 2.0, 3.0))
    // 3) REWRITE crash: the prior store stays fully readable with its
    //    original values, and no staging/backup dirs survive
    intercept[org.apache.spark.SparkException] {
      Zarr.writeArrayV3ShardedDistributed(poisoned, dir, Array(2L, 2L),
        Array(2, 2), Array(1, 2), Array("r", "c"), None)
    }
    assert(Zarr.readArray(spark, dir).orderBy(col("r"), col("c")).collect()
      .map(_.getDouble(2)).toSeq == Seq(0.0, 1.0, 2.0, 3.0),
      "a failed rewrite disturbed the prior store")
    val sibs = new java.io.File(dir).getParentFile.listFiles.map(_.getName)
      .filter(n => n.contains(".__rewrite.tmp") || n.contains(".__old.tmp"))
    assert(sibs.isEmpty, s"rewrite left staging/backup dirs: ${sibs.toSeq}")
    // 4) successful REWRITE swaps the new values in
    val shifted = good.withColumn("value", col("value") + 10.0)
    Zarr.writeArrayV3ShardedDistributed(shifted, dir, Array(2L, 2L),
      Array(2, 2), Array(1, 2), Array("r", "c"), None)
    assert(Zarr.readArray(spark, dir).orderBy(col("r"), col("c")).collect()
      .map(_.getDouble(2)).toSeq == Seq(10.0, 11.0, 12.0, 13.0))
    val sibs2 = new java.io.File(dir).getParentFile.listFiles.map(_.getName)
      .filter(n => n.contains(".__rewrite.tmp") || n.contains(".__old.tmp"))
    assert(sibs2.isEmpty, s"successful rewrite left dirs: ${sibs2.toSeq}")
  }

  test("sharding_indexed: inner chunks may carry the crc32c tail codec (shared chain parse)") {
    import java.nio.{ByteBuffer, ByteOrder}
    // hand-built one-shard store whose INNER codec chain is
    // [bytes, crc32c] — parseByteChain is shared with plain arrays,
    // this pins the sharded decode path end-to-end
    val base = graft.sources.IO.tmp("graft_zarr_shcrc_")
    val d = Paths.get(base, "arr")
    Files.createDirectories(d)
    Files.writeString(d.resolve("zarr.json"),
      """{"zarr_format":3,"node_type":"array","shape":[4],
        |"data_type":"float64",
        |"chunk_grid":{"name":"regular","configuration":{"chunk_shape":[4]}},
        |"chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},
        |"fill_value":-1.0,
        |"codecs":[{"name":"sharding_indexed","configuration":{
        |"chunk_shape":[2],
        |"codecs":[{"name":"bytes","configuration":{"endian":"little"}},{"name":"crc32c"}],
        |"index_codecs":[{"name":"bytes","configuration":{"endian":"little"}}],
        |"index_location":"end"}}],
        |"dimension_names":["t"],
        |"attributes":{}}""".stripMargin)
    def innerChunk(v0: Double, v1: Double): Array[Byte] = {
      val b = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
      b.putDouble(v0); b.putDouble(v1)
      val crc = new java.util.zip.CRC32C()
      crc.update(b.array(), 0, 16)
      val out = java.util.Arrays.copyOf(b.array(), 20)
      ByteBuffer.wrap(out, 16, 4).order(ByteOrder.LITTLE_ENDIAN)
        .putInt(crc.getValue.toInt)
      out
    }
    val c0 = innerChunk(1.0, 2.0)
    val c1 = innerChunk(3.0, 4.0)
    // shard = c0 ++ c1 ++ index (2 entries x 16 bytes, bytes-only)
    val shard = ByteBuffer.allocate(c0.length + c1.length + 32)
      .order(ByteOrder.LITTLE_ENDIAN)
    shard.put(c0).put(c1)
    shard.putLong(0L).putLong(c0.length.toLong)
    shard.putLong(c0.length.toLong).putLong(c1.length.toLong)
    val p = d.resolve("c/0")
    Files.createDirectories(p.getParent)
    Files.write(p, shard.array())
    assert(Zarr.readArray(spark, d.toString).orderBy(col("t")).collect()
      .map(_.getDouble(1)).toSeq == Seq(1.0, 2.0, 3.0, 4.0))
  }

  test("sliceByCoord: non-monotonic coordinate values never leak out-of-range rows") {
    // coord values [0, 10, 5, 20]: a [0,5] VALUE slice maps to index
    // span [0,2], which COVERS index 1 (value 10) — the residual value
    // filter must drop it (xarray's sel keeps exactly values {0,5})
    val g = graft.sources.IO.tmp("graft_zarr_nonmono_")
    val coordVals = Array(0.0, 10.0, 5.0, 20.0)
    Zarr.writeArray(s"$g/v", Array(4L), Array(2), Array("t"), None, 0.0,
      i => i(0) * 1.0)
    Zarr.writeArray(s"$g/t", Array(4L), Array(4), Array("t"), None, 0.0,
      i => coordVals(i(0).toInt))
    val got = Zarr.sliceByCoord(spark, g, "v", "t", 0.0, 5.0)
      .orderBy(col("t")).collect().map(r => (r.getDouble(0), r.getDouble(1)))
    assert(got.toSeq == Seq((0.0, 0.0), (5.0, 2.0)), got.mkString(","))
  }

  test("unsupported stores fail LOUDLY at metadata read, never misread") {
    val dir = graft.sources.IO.tmp("graft_zarr_bad_")
    def meta(d: String, body: String): Unit = {
      Files.createDirectories(Paths.get(dir, d))
      Files.writeString(Paths.get(dir, d, ".zarray"), body)
    }
    meta("forder", """{"zarr_format":2,"shape":[4],"chunks":[2],"dtype":"<f8",
      |"compressor":null,"fill_value":0,"order":"F","filters":null}""".stripMargin)
    meta("blosc", """{"zarr_format":2,"shape":[4],"chunks":[2],"dtype":"<f8",
      |"compressor":{"id":"blosc"},"fill_value":0,"order":"C","filters":null}""".stripMargin)
    meta("nativeend", """{"zarr_format":2,"shape":[4],"chunks":[2],"dtype":"=f8",
      |"compressor":null,"fill_value":0,"order":"C","filters":null}""".stripMargin)
    Seq("forder", "blosc", "nativeend").foreach { d =>
      val e = intercept[IllegalArgumentException](ZarrMeta.read(s"$dir/$d"))
      assert(e.getMessage.contains("unsupported"), s"$d: ${e.getMessage}")
    }
    // a >2 GB chunk would truncate int buffer offsets — must refuse
    meta("bigchunk", """{"zarr_format":2,"shape":[1000000000],"chunks":[600000000],
      |"dtype":"<f8","compressor":null,"fill_value":0,"order":"C","filters":null}""".stripMargin)
    val e = intercept[IllegalArgumentException](ZarrMeta.read(s"$dir/bigchunk"))
    assert(e.getMessage.contains("2^31"), e.getMessage)
  }

  test("non-f8 dtypes decode: f4, i8, i4 hand-written chunks") {
    import java.nio.{ByteBuffer, ByteOrder}
    val base = graft.sources.IO.tmp("graft_zarr_dtypes_")
    def store(name: String, dtype: String, put: (ByteBuffer, Int) => Unit, elem: Int): String = {
      val d = Paths.get(base, name)
      Files.createDirectories(d)
      Files.writeString(d.resolve(".zarray"),
        s"""{"zarr_format":2,"shape":[4],"chunks":[4],"dtype":"$dtype",
           |"compressor":null,"fill_value":0,"order":"C","filters":null}""".stripMargin)
      val buf = ByteBuffer.allocate(4 * elem).order(ByteOrder.LITTLE_ENDIAN)
      (0 until 4).foreach(i => put(buf, i * 7))
      Files.write(d.resolve("0"), buf.array())
      d.toString
    }
    val f4 = store("f4", "<f4", (b, v) => { b.putFloat(v.toFloat); () }, 4)
    val i8 = store("i8", "<i8", (b, v) => { b.putLong(v.toLong); () }, 8)
    val i4 = store("i4", "<i4", (b, v) => { b.putInt(v); () }, 4)
    assert(Zarr.readArray(spark, f4).orderBy(col("i0")).collect()
      .map(_.getFloat(1)).toSeq == Seq(0f, 7f, 14f, 21f))
    assert(Zarr.readArray(spark, i8).orderBy(col("i0")).collect()
      .map(_.getLong(1)).toSeq == Seq(0L, 7L, 14L, 21L))
    assert(Zarr.readArray(spark, i4).orderBy(col("i0")).collect()
      .map(_.getInt(1)).toSeq == Seq(0, 7, 14, 21))
  }

  // ------------------------------------------------------------ zarr v3

  test("golden v3 store: hand-written zarr.json + nested c/ chunk keys decode") {
    import java.nio.{ByteBuffer, ByteOrder}
    // written as LITERAL documents (not via writeArrayV3) so the
    // reader is pinned against the v3 spec, not against our writer
    val base = graft.sources.IO.tmp("graft_zarr_v3g_")
    val d = Paths.get(base, "arr")
    Files.createDirectories(d)
    Files.writeString(d.resolve("zarr.json"),
      """{"zarr_format":3,"node_type":"array","shape":[3,4],
        |"data_type":"float64",
        |"chunk_grid":{"name":"regular","configuration":{"chunk_shape":[2,2]}},
        |"chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},
        |"fill_value":-1.0,
        |"codecs":[{"name":"bytes","configuration":{"endian":"little"}},
        |          {"name":"gzip","configuration":{"level":5}}],
        |"dimension_names":["row","col"],
        |"attributes":{}}""".stripMargin)
    // chunk (r,c) holds values 100*globalRow + globalCol, C order,
    // padded at row edge (3 % 2 != 0); chunk (1,1) left MISSING → fill
    def chunk(cr: Int, cc: Int): Array[Byte] = {
      val buf = ByteBuffer.allocate(4 * 8).order(ByteOrder.LITTLE_ENDIAN)
      for (r <- 0 until 2; c <- 0 until 2) {
        val (gr, gc) = (cr * 2 + r, cc * 2 + c)
        buf.putDouble(if (gr < 3 && gc < 4) 100.0 * gr + gc else -1.0)
      }
      val out = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(out)
      g.write(buf.array()); g.close(); out.toByteArray
    }
    for ((cr, cc) <- Seq((0, 0), (0, 1), (1, 0))) {
      val p = d.resolve(s"c/$cr/$cc")
      Files.createDirectories(p.getParent)
      Files.write(p, chunk(cr, cc))
    }
    val meta = ZarrMeta.read(d.toString)
    assert(meta.dims.toSeq == Seq("row", "col") &&
      meta.compressor.contains("gzip") && meta.keyPrefix == "c/")
    val rows = Zarr.readArray(spark, d.toString)
      .orderBy(col("row"), col("col")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val want = for (r <- 0L until 3L; c <- 0L until 4L) yield
      (r, c, if (c >= 2 && r >= 2) -1.0 else 100.0 * r + c) // missing chunk → fill
    assert(rows.toSeq == want.toSeq, rows.mkString(", "))
  }

  test("v3 'v2' chunk-key encoding and raw-zstd codec decode") {
    import java.nio.{ByteBuffer, ByteOrder}
    val base = graft.sources.IO.tmp("graft_zarr_v3k_")
    val d = Paths.get(base, "arr")
    Files.createDirectories(d)
    Files.writeString(d.resolve("zarr.json"),
      """{"zarr_format":3,"node_type":"array","shape":[4],
        |"data_type":"float64",
        |"chunk_grid":{"name":"regular","configuration":{"chunk_shape":[2]}},
        |"chunk_key_encoding":{"name":"v2","configuration":{"separator":"."}},
        |"fill_value":0.0,
        |"codecs":[{"name":"bytes","configuration":{"endian":"little"}},
        |          {"name":"zstd","configuration":{"level":3,"checksum":false}}],
        |"attributes":{}}""".stripMargin)
    def chunk(vals: Seq[Double]): Array[Byte] = {
      val buf = ByteBuffer.allocate(vals.size * 8).order(ByteOrder.LITTLE_ENDIAN)
      vals.foreach(buf.putDouble)
      com.github.luben.zstd.Zstd.compress(buf.array(), 3)
    }
    Files.write(d.resolve("0"), chunk(Seq(10.0, 11.0))) // bare v2-style keys
    Files.write(d.resolve("1"), chunk(Seq(12.0, 13.0)))
    val meta = ZarrMeta.read(d.toString)
    assert(meta.keyPrefix == "" && meta.dimSeparator == "." &&
      meta.compressor.contains("zstd") && meta.dims.toSeq == Seq("i0"))
    assert(Zarr.readArray(spark, d.toString).orderBy(col("i0")).collect()
      .map(_.getDouble(1)).toSeq == Seq(10.0, 11.0, 12.0, 13.0))
  }

  test("v3 consolidated_metadata: array readable from the group zarr.json alone") {
    val base = graft.sources.IO.tmp("graft_zarr_v3c_")
    // build a real store, then MOVE its metadata into the group doc
    Zarr.writeArrayV3(s"$base/v", Array(4L), Array(2), Array("t"),
      None, 0.0, i => i(0) * 2.5)
    val arrayMeta = Files.readString(Paths.get(base, "v", "zarr.json"))
    Files.delete(Paths.get(base, "v", "zarr.json"))
    Files.writeString(Paths.get(base, "zarr.json"),
      s"""{"zarr_format":3,"node_type":"group",
         |"consolidated_metadata":{"kind":"inline","must_understand":false,
         |"metadata":{"v":$arrayMeta}},
         |"attributes":{}}""".stripMargin)
    assert(ZarrMeta.hasArray(base, "v"))
    assert(Zarr.readArray(spark, s"$base/v").orderBy(col("t")).collect()
      .map(_.getDouble(1)).toSeq == Seq(0.0, 2.5, 5.0, 7.5))
  }

  test("writeArrayV3 round trips every supported v3 codec chain") {
    for ((codec, tag) <- Seq(None -> "raw", Some("gzip") -> "gz",
        Some("zstd") -> "zs", Some("blosc:zstd") -> "bz")) {
      val dir = graft.sources.IO.tmp(s"graft_zarr_v3rt_${tag}_") + "/a"
      Zarr.writeArrayV3(dir, Array(3L, 5L), Array(2, 2), Array("y", "x"),
        codec, 0.0, i => (i(0) * 100 + i(1)).toDouble)
      val got = Zarr.readArray(spark, dir).orderBy(col("y"), col("x"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val want = for (y <- 0L until 3L; x <- 0L until 5L) yield
        (y, x, (y * 100 + x).toDouble)
      assert(got.toSeq == want.toSeq, s"codec $codec")
    }
  }

  test("sharding_indexed: golden sharded store reads exactly, prunes at inner-chunk granularity, fills omitted inner chunks") {
    val dir = graft.sources.IO.tmp("graft_zarr_shard_") + "/a"
    // 4×6 array in 2×6 shards (2 stored objects), 1×3 inner chunks
    // (2×2 per shard); global inner chunk (3,1) left unwritten — its
    // index entry is the all-ones sentinel, elements read as fill
    Zarr.writeArrayV3Sharded(dir, Array(4L, 6L), Array(2, 6), Array(1, 3),
      Array("y", "x"), Some("zstd"), -5.0,
      i => (i(0) * 100 + i(1)).toDouble, omit = Set(Seq(3, 1)))
    val df = Zarr.readArray(spark, dir)
    val got = df.orderBy(col("y"), col("x")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val want = for (y <- 0L until 4L; x <- 0L until 6L) yield
      (y, x, if (y == 3 && x >= 3) -5.0 else (y * 100 + x).toDouble)
    assert(got.toSeq == want.toSeq)
    // pruning is INNER-chunk granular: y=0 intersects 2 of the 8
    // inner chunks (not a whole 2×6 shard)
    val sliced = df.filter(col("y") === 0)
    assert(sliced.rdd.getNumPartitions == 2,
      s"expected 2 pruned inner-chunk partitions, got ${sliced.rdd.getNumPartitions}")
    assert(sliced.count() == 6)
  }

  test("sharding_indexed: index_location=start with bytes-only index codecs") {
    // hand-authored 1-D store (shape 4, one 4-element shard, 2-element
    // raw inner chunks): 32-byte index FIRST, then the two chunks
    val dir = graft.sources.IO.tmp("graft_zarr_shardst_")
    val a = Paths.get(dir, "a")
    Files.createDirectories(a)
    Files.writeString(a.resolve("zarr.json"),
      """{"zarr_format":3,"node_type":"array","shape":[4],
        |"data_type":"float64",
        |"chunk_grid":{"name":"regular","configuration":{"chunk_shape":[4]}},
        |"chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},
        |"fill_value":0.0,
        |"codecs":[{"name":"sharding_indexed","configuration":{
        |"chunk_shape":[2],
        |"codecs":[{"name":"bytes","configuration":{"endian":"little"}}],
        |"index_codecs":[{"name":"bytes","configuration":{"endian":"little"}}],
        |"index_location":"start"}}],
        |"dimension_names":["t"],"attributes":{}}""".stripMargin)
    val buf = java.nio.ByteBuffer.allocate(32 + 32)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.putLong(32L).putLong(16L)  // chunk 0: offset 32, 16 bytes
    buf.putLong(48L).putLong(16L)  // chunk 1: offset 48, 16 bytes
    Seq(7.0, 11.0, 13.0, 17.0).foreach(buf.putDouble)
    Files.createDirectories(a.resolve("c"))
    Files.write(a.resolve("c/0"), buf.array())
    val got = Zarr.readArray(spark, s"$dir/a").orderBy(col("t"))
      .collect().map(_.getDouble(1)).toSeq
    assert(got == Seq(7.0, 11.0, 13.0, 17.0))
  }

  test("sharding_indexed: a corrupted shard index fails the crc32c check loudly") {
    val dir = graft.sources.IO.tmp("graft_zarr_shardcrc_") + "/a"
    Zarr.writeArrayV3Sharded(dir, Array(4L), Array(4), Array(2),
      Array("t"), None, 0.0, i => i(0).toDouble)
    val shard = Paths.get(dir, "c/0")
    val bytes = Files.readAllBytes(shard)
    bytes(bytes.length - 5) = (bytes(bytes.length - 5) ^ 0x40).toByte // flip an index bit
    Files.write(shard, bytes)
    val e = intercept[Exception](
      Zarr.readArray(spark, dir).collect())
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + chain(t.getCause)
    assert(chain(e).contains("crc32c"), s"wanted a crc32c failure: ${chain(e)}")
  }

  test("sharded sink: rowless inner chunks keep the sentinel, rowless shards are never created") {
    import spark.implicits._
    val dir = graft.sources.IO.tmp("graft_zarr_shsink_gap_") + "/a"
    // 5×7 array, (2,6) shards -> 3×2 shard grid, (1,3) inner chunks.
    // Drop global inner chunk (3,0) (y=3, x<3 — mid-shard sentinel)
    // and every y=4 row (the whole bottom shard row stays absent).
    val rows = (for (y <- 0L until 5L; x <- 0L until 7L) yield (y, x))
      .filterNot { case (y, x) => y == 3 && x < 3 }
      .filterNot { case (y, _) => y == 4 }
      .map { case (y, x) => (y, x, (y * 100 + x).toDouble) }
    Zarr.writeArrayV3ShardedDistributed(
      rows.toDF("y", "x", "value").repartition(5), dir,
      Array(5L, 7L), Array(2, 6), Array(1, 3), Array("y", "x"),
      Some("zstd"), fillValue = -5.0)
    assert(!Files.exists(Paths.get(dir, "c/2/0")) &&
      !Files.exists(Paths.get(dir, "c/2/1")),
      "a shard no row mapped to must not exist")
    assert(Files.exists(Paths.get(dir, "c/1/0")))
    val got = Zarr.readArray(spark, dir).orderBy(col("y"), col("x"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val want = for (y <- 0L until 5L; x <- 0L until 7L) yield
      (y, x,
        if ((y == 3 && x < 3) || y == 4) -5.0 else (y * 100 + x).toDouble)
    assert(got.toSeq == want.toSeq)
  }

  test("sharded sink: bytes identical to the golden fixture writer at full coverage") {
    import spark.implicits._
    val d1 = graft.sources.IO.tmp("graft_zarr_shfix_") + "/a"
    val d2 = graft.sources.IO.tmp("graft_zarr_shdist_") + "/a"
    Zarr.writeArrayV3Sharded(d1, Array(4L, 6L), Array(2, 6), Array(1, 3),
      Array("y", "x"), Some("zstd"), 0.0, i => (i(0) * 10 + i(1)).toDouble)
    val rows = for (y <- 0L until 4L; x <- 0L until 6L)
      yield (y, x, (y * 10 + x).toDouble)
    Zarr.writeArrayV3ShardedDistributed(
      rows.toDF("y", "x", "value").repartition(4), d2,
      Array(4L, 6L), Array(2, 6), Array(1, 3), Array("y", "x"),
      Some("zstd"))
    // same codec chain + same C-order stream -> byte-identical shards
    Seq("0/0", "1/0").foreach { k =>
      val a = Files.readAllBytes(Paths.get(d1, "c/" + k))
      val b = Files.readAllBytes(Paths.get(d2, "c/" + k))
      assert(java.util.Arrays.equals(a, b), s"shard $k bytes differ")
    }
    assert(Files.readString(Paths.get(d1, "zarr.json")) ==
      Files.readString(Paths.get(d2, "zarr.json")))
  }

  test("golden v3 transpose store: permutation direction pinned against literal bytes") {
    import java.nio.{ByteBuffer, ByteOrder}
    // written as LITERAL documents with HAND-COMPUTED stored bytes so
    // the reader is pinned against the v3 transpose spec (stored =
    // chunk.transpose(order), numpy semantics), not against our writer
    val base = graft.sources.IO.tmp("graft_zarr_v3t_")
    val d = Paths.get(base, "arr")
    Files.createDirectories(d)
    Files.writeString(d.resolve("zarr.json"),
      """{"zarr_format":3,"node_type":"array","shape":[2,3],
        |"data_type":"float64",
        |"chunk_grid":{"name":"regular","configuration":{"chunk_shape":[2,3]}},
        |"chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},
        |"fill_value":0.0,
        |"codecs":[{"name":"transpose","configuration":{"order":[1,0]}},
        |          {"name":"bytes","configuration":{"endian":"little"}}],
        |"dimension_names":["r","c"],
        |"attributes":{}}""".stripMargin)
    // logical A[r][c] = 10r + c; stored buffer is A.transpose([1,0])
    // = B[c][r] in C order: B[0][0]=A[0][0], B[0][1]=A[1][0], ... —
    // the doubled sequence 0, 10, 1, 11, 2, 12
    val buf = ByteBuffer.allocate(6 * 8).order(ByteOrder.LITTLE_ENDIAN)
    Seq(0.0, 10.0, 1.0, 11.0, 2.0, 12.0).foreach(buf.putDouble)
    val p = d.resolve("c/0/0")
    Files.createDirectories(p.getParent)
    Files.write(p, buf.array())
    val got = Zarr.readArray(spark, d.toString)
      .orderBy(col("r"), col("c")).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
    val want = for (r <- 0L until 2L; c <- 0L until 3L)
      yield (r, c, (10 * r + c).toDouble)
    assert(got.toSeq == want.toSeq, got.mkString(", "))
  }

  test("golden big-endian stores: v3 bytes endian=big and v2 >f8 both decode") {
    import java.nio.{ByteBuffer, ByteOrder}
    // v3: the bytes codec declares endian "big" — literal big-endian
    // doubles on disk must read back as the logical values
    val base = graft.sources.IO.tmp("graft_zarr_be_")
    val d3 = Paths.get(base, "v3")
    Files.createDirectories(d3)
    Files.writeString(d3.resolve("zarr.json"),
      """{"zarr_format":3,"node_type":"array","shape":[3],
        |"data_type":"float64",
        |"chunk_grid":{"name":"regular","configuration":{"chunk_shape":[3]}},
        |"chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},
        |"fill_value":0.0,
        |"codecs":[{"name":"bytes","configuration":{"endian":"big"}}],
        |"dimension_names":["t"],
        |"attributes":{}}""".stripMargin)
    val b3 = ByteBuffer.allocate(24).order(ByteOrder.BIG_ENDIAN)
    Seq(1.25, -2.5, 3.75).foreach(b3.putDouble)
    val p3 = d3.resolve("c/0")
    Files.createDirectories(p3.getParent)
    Files.write(p3, b3.array())
    assert(Zarr.readArray(spark, d3.toString).orderBy(col("t")).collect()
      .map(_.getDouble(1)).toSeq == Seq(1.25, -2.5, 3.75))
    // v2: dtype ">i4" (big-endian int32), raw chunks
    val d2 = Paths.get(base, "v2")
    Files.createDirectories(d2)
    Files.writeString(d2.resolve(".zarray"),
      """{"zarr_format":2,"shape":[4],"chunks":[2],"dtype":">i4",
        |"compressor":null,"fill_value":0,"order":"C","filters":null,
        |"dimension_separator":"."}""".stripMargin)
    Files.writeString(d2.resolve(".zattrs"),
      """{"_ARRAY_DIMENSIONS":["t"]}""")
    def c2(v0: Int, v1: Int): Array[Byte] = {
      val b = ByteBuffer.allocate(8).order(ByteOrder.BIG_ENDIAN)
      b.putInt(v0); b.putInt(v1); b.array()
    }
    Files.write(d2.resolve("0"), c2(7, -8))
    Files.write(d2.resolve("1"), c2(9, 1000000))
    assert(Zarr.readArray(spark, d2.toString).orderBy(col("t")).collect()
      .map(_.getInt(1)).toSeq == Seq(7, -8, 9, 1000000))
  }

  test("golden v3 crc32c store: valid trailer reads; a flipped payload byte fails loudly") {
    import java.nio.{ByteBuffer, ByteOrder}
    val base = graft.sources.IO.tmp("graft_zarr_v3crc_")
    val d = Paths.get(base, "arr")
    Files.createDirectories(d)
    Files.writeString(d.resolve("zarr.json"),
      """{"zarr_format":3,"node_type":"array","shape":[4],
        |"data_type":"float64",
        |"chunk_grid":{"name":"regular","configuration":{"chunk_shape":[4]}},
        |"chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},
        |"fill_value":0.0,
        |"codecs":[{"name":"bytes","configuration":{"endian":"little"}},
        |          {"name":"crc32c"}],
        |"dimension_names":["t"],
        |"attributes":{}}""".stripMargin)
    val buf = ByteBuffer.allocate(4 * 8).order(ByteOrder.LITTLE_ENDIAN)
    Seq(1.5, 2.5, 3.5, 4.5).foreach(buf.putDouble)
    val crc = new java.util.zip.CRC32C()
    crc.update(buf.array(), 0, 32)
    val enc = java.util.Arrays.copyOf(buf.array(), 36)
    ByteBuffer.wrap(enc, 32, 4).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(crc.getValue.toInt)
    val p = d.resolve("c/0")
    Files.createDirectories(p.getParent)
    Files.write(p, enc)
    assert(Zarr.readArray(spark, d.toString).orderBy(col("t")).collect()
      .map(_.getDouble(1)).toSeq == Seq(1.5, 2.5, 3.5, 4.5))
    // flip one payload byte: the checksum must catch it, never misread
    enc(7) = (enc(7) ^ 0x40).toByte
    Files.write(p, enc)
    val e = intercept[Exception] {
      Zarr.readArray(spark, d.toString).collect()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: chain(t.getCause)
    assert(chain(e).exists(m => m != null && m.contains("crc32c mismatch")),
      chain(e).mkString(" | "))
  }

  test("writeArrayV3 round trips transpose + crc32c codec tails (both readers)") {
    for (((order, codec, cs), tag) <- Seq(
        (Some(Array(2, 0, 1)), Some("zstd"), true) -> "tzc",
        (Some(Array(1, 2, 0)), None, false) -> "t",
        (None, Some("gzip"), true) -> "gc",
        (Some(Array(0, 1, 2)), None, true) -> "idc")) {
      val dir = graft.sources.IO.tmp(s"graft_zarr_v3ct_${tag}_") + "/a"
      Zarr.writeArrayV3(dir, Array(3L, 4L, 5L), Array(2, 2, 2),
        Array("z", "y", "x"), codec, -1.0,
        i => (i(0) * 100 + i(1) * 10 + i(2)).toDouble,
        order = order, checksum = cs)
      val got = Zarr.readArray(spark, dir).orderBy(col("z"), col("y"), col("x"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3)))
      val want = for (z <- 0L until 3L; y <- 0L until 4L; x <- 0L until 5L)
        yield (z, y, x, (z * 100 + y * 10 + x).toDouble)
      assert(got.toSeq == want.toSeq, s"tail $tag")
      // chunk pruning is coordinate-space, untouched by the stored
      // permutation: a one-element slice plans exactly one partition
      val sliced = Zarr.readArray(spark, dir)
        .filter(col("z") === 2 && col("y") === 3 && col("x") === 4)
      assert(sliced.rdd.getNumPartitions == 1, s"tail $tag pruning")
      assert(sliced.collect().map(_.getDouble(3)).toSeq == Seq(234.0))
    }
  }

  test("unsupported v3 stores fail LOUDLY at metadata read, never misread") {
    val dir = graft.sources.IO.tmp("graft_zarr_v3bad_")
    def meta(d: String, body: String): Unit = {
      Files.createDirectories(Paths.get(dir, d))
      Files.writeString(Paths.get(dir, d, "zarr.json"), body)
    }
    def arr(extra: String): String =
      s"""{"zarr_format":3,"node_type":"array","shape":[4],
         |"data_type":"float64",
         |"chunk_grid":{"name":"regular","configuration":{"chunk_shape":[2]}},
         |"fill_value":0.0,$extra
         |"attributes":{}}""".stripMargin
    // crc32c is only supported as the TRAILING codec — in the middle
    // of the chain it would silently shift the compression offsets
    meta("crcmid", arr(
      """"codecs":[{"name":"bytes","configuration":{"endian":"little"}},
        |{"name":"crc32c"},{"name":"gzip","configuration":{"level":5}}],""".stripMargin))
    // malformed shard codec (no chunk_shape) still rejects loudly
    meta("sharding", arr(
      """"codecs":[{"name":"sharding_indexed","configuration":{}}],"""))
    // NESTED sharding is out of scope — loud rejection, never misread
    meta("shardnest", arr(
      """"codecs":[{"name":"sharding_indexed","configuration":{
        |"chunk_shape":[2],
        |"codecs":[{"name":"sharding_indexed","configuration":{"chunk_shape":[1],
        |"codecs":[{"name":"bytes"}]}}]}}],""".stripMargin))
    meta("midend", arr(
      """"codecs":[{"name":"bytes","configuration":{"endian":"middle"}}],"""))
    meta("f16", arr(
      """"codecs":[{"name":"bytes","configuration":{"endian":"little"}}],""")
      .replace("float64", "float16"))
    Seq("crcmid", "sharding", "shardnest", "midend", "f16").foreach { d =>
      val e = intercept[IllegalArgumentException](ZarrMeta.read(s"$dir/$d"))
      assert(e.getMessage.contains("unsupported"), s"$d: ${e.getMessage}")
    }
    // a transpose order that is not a permutation rejects loudly too
    meta("badorder", arr(
      """"codecs":[{"name":"transpose","configuration":{"order":[0,0]}},
        |{"name":"bytes","configuration":{"endian":"little"}}],""".stripMargin)
      .replace(""""shape":[4]""", """"shape":[4,4]""")
      .replace(""""chunk_shape":[2]""", """"chunk_shape":[2,2]"""))
    val eo = intercept[IllegalArgumentException](ZarrMeta.read(s"$dir/badorder"))
    assert(eo.getMessage.contains("not a permutation"), eo.getMessage)
  }

  // ------------------------------------------------------------ time axes

  test("datetime64 goldens: <M8[s], <M8[D], big-endian >M8[s]; NaT reads as null") {
    import java.nio.{ByteBuffer, ByteOrder}
    val base = graft.sources.IO.tmp("graft_zarr_m8_")
    def store(name: String, dtype: String, big: Boolean,
        vals: Seq[Long]): String = {
      val d = Paths.get(base, name)
      Files.createDirectories(d)
      Files.writeString(d.resolve(".zarray"),
        s"""{"zarr_format":2,"shape":[${vals.size}],"chunks":[${vals.size}],
           |"dtype":"$dtype","compressor":null,"fill_value":null,
           |"order":"C","filters":null}""".stripMargin)
      Files.writeString(d.resolve(".zattrs"), """{"_ARRAY_DIMENSIONS":["t"]}""")
      val b = ByteBuffer.allocate(vals.size * 8)
        .order(if (big) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
      vals.foreach(b.putLong)
      Files.write(d.resolve("0"), b.array())
      d.toString
    }
    // 2021-03-04T05:06:07Z = 1614834367 s since epoch
    val sEpoch = 1614834367L
    // seconds unit, little-endian, with a NaT sentinel in the middle
    val le = store("s_le", "<M8[s]", big = false,
      Seq(sEpoch, Long.MinValue, sEpoch + 90))
    val rowsLe = Zarr.readArray(spark, le).orderBy(col("t")).collect()
    assert(rowsLe(0).getTimestamp(1).toInstant ==
      java.time.Instant.ofEpochSecond(sEpoch))
    assert(rowsLe(1).isNullAt(1), "NaT must decode to null")
    assert(rowsLe(2).getTimestamp(1).toInstant ==
      java.time.Instant.ofEpochSecond(sEpoch + 90))
    // the big-endian twin must decode to the same instants
    val be = store("s_be", ">M8[s]", big = true,
      Seq(sEpoch, Long.MinValue, sEpoch + 90))
    val rowsBe = Zarr.readArray(spark, be).orderBy(col("t")).collect()
    assert(rowsBe(0).getTimestamp(1) == rowsLe(0).getTimestamp(1))
    assert(rowsBe(1).isNullAt(1))
    assert(rowsBe(2).getTimestamp(1) == rowsLe(2).getTimestamp(1))
    // days unit: D counts scale by 86400e6 µs (incl. pre-epoch)
    val dd = store("d_le", "<M8[D]", big = false, Seq(-1L, 0L, 18993L))
    val rowsD = Zarr.readArray(spark, dd).orderBy(col("t")).collect()
    assert(rowsD(0).getTimestamp(1).toInstant ==
      java.time.Instant.parse("1969-12-31T00:00:00Z"))
    assert(rowsD(1).getTimestamp(1).toInstant ==
      java.time.Instant.parse("1970-01-01T00:00:00Z"))
    assert(rowsD(2).getTimestamp(1).toInstant ==
      java.time.Instant.parse("2022-01-01T00:00:00Z"))
    // schema: a time axis is nullable TimestampType
    val sc = Zarr.readArray(spark, le).schema
    assert(sc("value").dataType == org.apache.spark.sql.types.TimestampType)
    assert(sc("value").nullable)
  }

  test("CF units-since coords: int seconds exact, float days with fraction, missing chunk NaT fill") {
    import java.nio.{ByteBuffer, ByteOrder}
    val base = graft.sources.IO.tmp("graft_zarr_cf_")
    // i8 "seconds since 1970-01-01": raw counts ARE epoch seconds
    val di = Paths.get(base, "isec")
    Files.createDirectories(di)
    Files.writeString(di.resolve(".zarray"),
      """{"zarr_format":2,"shape":[3],"chunks":[3],"dtype":"<i8",
        |"compressor":null,"fill_value":0,"order":"C","filters":null}""".stripMargin)
    Files.writeString(di.resolve(".zattrs"),
      """{"_ARRAY_DIMENSIONS":["t"],"units":"seconds since 1970-01-01","calendar":"standard"}""")
    val bi = ByteBuffer.allocate(24).order(ByteOrder.LITTLE_ENDIAN)
    Seq(0L, 86400L, 1614834367L).foreach(bi.putLong)
    Files.write(di.resolve("0"), bi.array())
    val ri = Zarr.readArray(spark, di.toString).orderBy(col("t")).collect()
    assert(ri.map(_.getTimestamp(1).toInstant.getEpochSecond).toSeq ==
      Seq(0L, 86400L, 1614834367L))
    // f8 "days since 2020-01-01" with a half-day fraction, exact in µs
    val df8 = Paths.get(base, "fday")
    Files.createDirectories(df8)
    Files.writeString(df8.resolve(".zarray"),
      """{"zarr_format":2,"shape":[3],"chunks":[3],"dtype":"<f8",
        |"compressor":null,"fill_value":"NaN","order":"C","filters":null}""".stripMargin)
    Files.writeString(df8.resolve(".zattrs"),
      """{"_ARRAY_DIMENSIONS":["t"],"units":"days since 2020-01-01"}""")
    val bf = ByteBuffer.allocate(24).order(ByteOrder.LITTLE_ENDIAN)
    Seq(0.0, 0.5, Double.NaN).foreach(bf.putDouble)
    Files.write(df8.resolve("0"), bf.array())
    val rf = Zarr.readArray(spark, df8.toString).orderBy(col("t")).collect()
    assert(rf(0).getTimestamp(1).toInstant ==
      java.time.Instant.parse("2020-01-01T00:00:00Z"))
    assert(rf(1).getTimestamp(1).toInstant ==
      java.time.Instant.parse("2020-01-01T12:00:00Z"))
    assert(rf(2).isNullAt(1), "CF NaN must decode to null")
    // missing chunk on a null-fill datetime64 array: every element NaT
    val dm = Paths.get(base, "m8fill")
    Files.createDirectories(dm)
    Files.writeString(dm.resolve(".zarray"),
      """{"zarr_format":2,"shape":[2],"chunks":[2],"dtype":"<M8[s]",
        |"compressor":null,"fill_value":null,"order":"C","filters":null}""".stripMargin)
    val rm = Zarr.readArray(spark, dm.toString).collect()
    assert(rm.length == 2 && rm.forall(_.isNullAt(1)))
    // row/columnar parity on a time axis (both readers, both dtype families)
    import graft.sources.zarr.{ZarrChunkPartition, ZarrReaderFactory, ZarrMeta => ZM}
    for (dir <- Seq(di.toString, df8.toString)) {
      val meta = ZM.read(dir)
      val fac = new ZarrReaderFactory(dir, meta, Array("t", "value"))
      val part = ZarrChunkPartition(Array(0))
      val rowReader = fac.createReader(part)
      val rows = Iterator.continually(rowReader)
        .takeWhile(_.next()).map(_.get().copy()).toVector
      val colReader = fac.createColumnarReader(part)
      val cols = Iterator.continually(colReader)
        .takeWhile(_.next()).flatMap(_.get().rowIterator().asScala.map(_.copy()))
        .toVector
      assert(rows.size == cols.size && rows.nonEmpty)
      rows.zip(cols).foreach { case (a, b) =>
        assert(a.isNullAt(1) == b.isNullAt(1))
        if (!a.isNullAt(1)) assert(a.getLong(1) == b.getLong(1))
      }
    }
  }

  test("time-axis rejects are LOUD: calendar-dependent units, exotic calendars, ambiguity") {
    val base = graft.sources.IO.tmp("graft_zarr_cfrej_")
    def store(name: String, dtype: String, attrs: String): String = {
      val d = Paths.get(base, name)
      Files.createDirectories(d)
      Files.writeString(d.resolve(".zarray"),
        s"""{"zarr_format":2,"shape":[2],"chunks":[2],"dtype":"$dtype",
           |"compressor":null,"fill_value":0,"order":"C","filters":null}""".stripMargin)
      Files.writeString(d.resolve(".zattrs"), attrs)
      d.toString
    }
    // months-since: calendar-dependent, must not silently misread
    val em = intercept[IllegalArgumentException](ZarrMeta.read(store("months",
      "<i4", """{"_ARRAY_DIMENSIONS":["t"],"units":"months since 2000-01-01"}""")))
    assert(em.getMessage.contains("calendar-dependent"), em.getMessage)
    // a 360_day calendar cannot map to timestamps
    val ec = intercept[IllegalArgumentException](ZarrMeta.read(store("cal360",
      "<i4", """{"_ARRAY_DIMENSIONS":["t"],"units":"days since 2000-01-01","calendar":"360_day"}""")))
    assert(ec.getMessage.contains("calendar"), ec.getMessage)
    // datetime64 dtype + CF units: ambiguous, reject
    val ea = intercept[IllegalArgumentException](ZarrMeta.read(store("ambig",
      "<M8[s]", """{"_ARRAY_DIMENSIONS":["t"],"units":"seconds since 2000-01-01"}""")))
    assert(ea.getMessage.contains("ambiguous"), ea.getMessage)
    // datetime64 year unit: calendar-dependent
    val ey = intercept[IllegalArgumentException](ZarrMeta.read(store("m8y",
      "<M8[Y]", """{"_ARRAY_DIMENSIONS":["t"]}""")))
    assert(ey.getMessage.contains("calendar-dependent"), ey.getMessage)
    // an unparseable CF epoch
    val ee = intercept[IllegalArgumentException](ZarrMeta.read(store("badepoch",
      "<i4", """{"_ARRAY_DIMENSIONS":["t"],"units":"days since whenever"}""")))
    assert(ee.getMessage.contains("unparseable"), ee.getMessage)
    // a plain physical-units attr is NOT a time axis — no decode, no error
    val ok = ZarrMeta.read(store("mm", "<f8",
      """{"_ARRAY_DIMENSIONS":["t"],"units":"kg m-2"}"""))
    assert(ok.time.isEmpty &&
      ok.valueType == org.apache.spark.sql.types.DoubleType)
  }

  test("v3 numpy.datetime64 extension data_type decodes; scale_factor honored") {
    import java.nio.{ByteBuffer, ByteOrder}
    val d = Paths.get(graft.sources.IO.tmp("graft_zarr3_m8_"), "t")
    Files.createDirectories(d)
    // unit "s" scale_factor 60: each count is one minute
    Files.writeString(d.resolve("zarr.json"),
      """{"zarr_format":3,"node_type":"array","shape":[3],
        |"data_type":{"name":"numpy.datetime64","configuration":{"unit":"s","scale_factor":60}},
        |"chunk_grid":{"name":"regular","configuration":{"chunk_shape":[3]}},
        |"chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},
        |"fill_value":null,
        |"codecs":[{"name":"bytes","configuration":{"endian":"little"}}],
        |"dimension_names":["t"],
        |"attributes":{}}""".stripMargin)
    val b = ByteBuffer.allocate(24).order(ByteOrder.LITTLE_ENDIAN)
    // 2020-01-01T00:00Z in minutes, +90 min, NaT
    Seq(26297280L, 26297370L, Long.MinValue).foreach(b.putLong)
    val p = d.resolve("c/0")
    Files.createDirectories(p.getParent)
    Files.write(p, b.array())
    val rows = Zarr.readArray(spark, d.toString).orderBy(col("t")).collect()
    assert(rows(0).getTimestamp(1).toInstant ==
      java.time.Instant.parse("2020-01-01T00:00:00Z"))
    assert(rows(1).getTimestamp(1).toInstant ==
      java.time.Instant.parse("2020-01-01T01:30:00Z"))
    assert(rows(2).isNullAt(1))
  }

  // ------------------------------------------------------------ small dtypes

  test("v3 small dtypes: int16/int8/uint8/bool golden stores decode; v3 CF attrs too") {
    import java.nio.{ByteBuffer, ByteOrder}
    val base = graft.sources.IO.tmp("graft_zarr3_small_")
    def store(name: String, dataType: String, bytes: Array[Byte],
        attrs: String = "{}"): String = {
      val d = Paths.get(base, name)
      Files.createDirectories(d)
      Files.writeString(d.resolve("zarr.json"),
        s"""{"zarr_format":3,"node_type":"array","shape":[4],
           |"data_type":"$dataType",
           |"chunk_grid":{"name":"regular","configuration":{"chunk_shape":[4]}},
           |"chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},
           |"fill_value":0,
           |"codecs":[{"name":"bytes","configuration":{"endian":"little"}}],
           |"dimension_names":["t"],
           |"attributes":$attrs}""".stripMargin)
      val p = d.resolve("c/0")
      Files.createDirectories(p.getParent)
      Files.write(p, bytes)
      d.toString
    }
    val i16 = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
    Seq(-300, 0, 700, 32767).foreach(v => i16.putShort(v.toShort))
    assert(Zarr.readArray(spark, store("i2", "int16", i16.array()))
      .orderBy(col("t")).collect().map(_.getShort(1)).toSeq ==
      Seq[Short](-300, 0, 700, 32767))
    assert(Zarr.readArray(spark, store("i1", "int8",
        Array[Byte](-100, 0, 5, 127)))
      .orderBy(col("t")).collect().map(_.getByte(1)).toSeq ==
      Seq[Byte](-100, 0, 5, 127))
    // uint8 values past 127 pin the unsigned widen (stored 0xFF = 255)
    assert(Zarr.readArray(spark, store("u1", "uint8",
        Array[Byte](0, 1, -1, -128)))
      .orderBy(col("t")).collect().map(_.getShort(1)).toSeq ==
      Seq[Short](0, 1, 255, 128))
    assert(Zarr.readArray(spark, store("b1", "bool",
        Array[Byte](0, 1, 1, 0)))
      .orderBy(col("t")).collect().map(_.getBoolean(1)).toSeq ==
      Seq(false, true, true, false))
    // v3 attributes carry CF units too (int32 hours since an epoch)
    val h = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
    Seq(0, 1, 2, 3).foreach(h.putInt)
    val cf = Zarr.readArray(spark, store("cf", "int32", h.array(),
      """{"units":"hours since 2000-06-01"}"""))
      .orderBy(col("t")).collect()
    assert(cf(3).getTimestamp(1).toInstant ==
      java.time.Instant.parse("2000-06-01T03:00:00Z"))
  }

  test("group sink: a TimestampType dim writes a <M8[us] coordinate and round-trips typed") {
    import org.apache.spark.sql.functions.{expr, lit, timestamp_micros}
    val out = graft.sources.IO.tmp("graft_zarr_tsgroup_") + "/g"
    val rows = spark.range(0L, 12L).select(
      timestamp_micros(lit(1577836800000000L) + col("id") * 3600000000L).as("time"),
      (col("id") % lit(3)).cast("double").as("lev"),
      col("id").cast("double").as("value"))
    Zarr.writeGroupDistributed(rows, out, "v", Seq("time", "lev"), Array(4, 3))
    // the stored coordinate IS datetime64 micros, not a retyped double
    val meta = ZarrMeta.read(s"$out/time")
    assert(meta.dtype == "<M8" && meta.time.exists(_.unitNanos == 1000L),
      s"${meta.dtype} / ${meta.time}")
    val back = Zarr.toDataFrame(spark, out, "v")
    assert(back.schema("time").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val times = back.select("time").distinct().collect()
      .map(_.getTimestamp(0).toInstant).sortBy(_.getEpochSecond)
    assert(times.head == java.time.Instant.parse("2020-01-01T00:00:00Z"))
    assert(times.length == 12 &&
      times.last == java.time.Instant.parse("2020-01-01T11:00:00Z"))
    // a timestamp beyond the ±2^53 µs double-exactness bound is LOUD
    val far = spark.range(0L, 2L).select(
      timestamp_micros(lit(9100000000000000000L) + col("id")).as("time"),
      lit(0.0).as("lev"), col("id").cast("double").as("value"))
    val e = intercept[Exception] {
      Zarr.writeGroupDistributed(far,
        graft.sources.IO.tmp("graft_zarr_tsfar_") + "/g", "v",
        Seq("time", "lev"), Array(2, 1))
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: chain(t.getCause)
    assert(chain(e).exists(m => m != null && m.contains("2^53")),
      chain(e).mkString(" | "))
  }

  test("sink dtype encode is LOUD on values the dtype cannot hold") {
    import org.apache.spark.sql.functions.lit
    val rows = spark.range(0L, 4L).select(col("id").as("t"))
      .withColumn("value", lit(256.0)) // u1 holds 0..255
    val out = graft.sources.IO.tmp("graft_zarr_sinkrange_") + "/bad"
    val e = intercept[Exception] {
      Zarr.writeArrayDistributed(rows, out, Array(4L), Array(4),
        Array("t"), None, 0.0, "<u1")
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: chain(t.getCause)
    assert(chain(e).exists(m => m != null && m.contains("not an exact u1")),
      chain(e).mkString(" | "))
    // fractional value into an integer dtype: same loud posture
    val frac = spark.range(0L, 4L).select(col("id").as("t"))
      .withColumn("value", lit(1.5))
    val e2 = intercept[Exception] {
      Zarr.writeArrayDistributed(frac, graft.sources.IO.tmp("graft_zarr_sinkfrac_") + "/bad",
        Array(4L), Array(4), Array("t"), None, 0.0, "<i2")
    }
    assert(chain(e2).exists(m => m != null && m.contains("not an exact i2")),
      chain(e2).mkString(" | "))
  }
}

/** Static evaluation counter for the coordinate-drift test (executor
  * and driver share the JVM on local[n]). */
object ZarrSpec {
  val evals = new java.util.concurrent.atomic.AtomicInteger(0)
}
