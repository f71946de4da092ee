package graft

import org.apache.spark.sql.functions._

/** Z-order layout evidence: the clustered write must make the SAME box
  * predicate read a fraction of what an unclustered layout reads —
  * measured rows, not vibes. Also pins the Morton interleave's bit
  * arithmetic against hand-computed codes.
  */
class ZorderSpec extends SparkTestBase {

  test("morton: interleaves bits exactly (hand-computed codes)") {
    import spark.implicits._
    val df = Seq((3L, 5L), (0L, 0L), (1023L, 0L), (0L, 1023L))
      .toDF("x", "y")
      .select(graft.sources.IO.morton(col("x"), col("y"), 10).as("z"))
    val got = df.collect().map(_.getLong(0)).toSeq
    // (3,5): x bits at even positions 1+4, y bits at odd 2+32 → 39
    // x=1023 → all even positions: 0x55555 (0b01010101010101010101)
    // y=1023 → all odd positions: 0xAAAAA
    assert(got == Seq(39L, 0L, 0x55555L, 0xAAAAAL))
  }

  test("compact: 64 fragments -> 4 files, rows hash-identical, clustering preserved") {
    val grid = operators.Climate.syntheticGrid(
      Tables.events(spark, "/root/testdata/sf0.01"))
      .select(col("event_id"), col("value"), col("lat"), col("lon"))
    val dir = graft.sources.IO.tmp("graft_compact_")
    grid.repartition(64).write.mode("overwrite").parquet(dir)
    def files(d: String) = new java.io.File(d).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    def digest(d: String) = spark.read.parquet(d)
      .select(xxhash64(col("event_id"), col("value"),
        col("lat"), col("lon")).as("h"))
      .agg(count(lit(1)), expr("bit_xor(h)")).head
    assert(files(dir) == 64)
    val before = digest(dir)
    graft.sources.IO.compact(spark, dir, 4, Seq(col("lat"), col("lon")))
    assert(files(dir) == 4, s"expected 4 files, got ${files(dir)}")
    assert(digest(dir) == before, "compaction changed the data")
    // sorted rewrite keeps per-file lat ranges disjoint-ish: every
    // file's lat span must be well under the full 180-degree span
    val spans = spark.read.parquet(dir)
      .groupBy(input_file_name()).agg((max("lat") - min("lat")).as("span"))
      .collect().map(_.getDouble(1))
    assert(spans.forall(_ < 90.0), s"file lat spans not clustered: ${spans.toSeq}")
    // swap hygiene: no staged/aside siblings survive a clean compact,
    // and a leftover .compact_old from a simulated prior crash is
    // swept by the next run instead of failing the rename-aside
    assert(!new java.io.File(dir + ".compact_tmp").exists())
    assert(!new java.io.File(dir + ".compact_old").exists())
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir + ".compact_old"))
    graft.sources.IO.compact(spark, dir, 2)
    assert(files(dir) == 2 && digest(dir) == before)
    assert(!new java.io.File(dir + ".compact_old").exists())
  }

  test("box scan over the z-ordered layout reads a fraction of the round-robin layout") {
    val grid = operators.Climate.syntheticGrid(
      Tables.events(spark, "/root/testdata/sf0.01"))
    val zDir = graft.sources.IO.tmp("graft_ztest_")
    val rrDir = graft.sources.IO.tmp("graft_rrtest_")
    graft.sources.IO.zorderWrite(grid, zDir)
    // control: identical rows, identical file count, order destroyed
    grid.withColumn("z", lit(0L)).repartition(16)
      .write.mode("overwrite").parquet(rrDir)

    def boxCount(dir: String): (Long, Long) = StageLog.record(spark) { log =>
      val n = spark.read.parquet(dir)
        .filter(col("lat").between(-10.0, 10.0) &&
          col("lon").between(-20.0, 20.0))
        .count()
      (n, log.stages.map(_.inputRecords).sum)
    }
    val (nZ, readZ) = boxCount(zDir)
    val (nRR, readRR) = boxCount(rrDir)
    assert(nZ == nRR && nZ > 0, s"layouts must agree on rows: $nZ vs $nRR")
    // the z-ordered layout's tight per-file lat/lon stats let the
    // parquet reader skip most files/row groups outright; round-robin
    // files all span the whole grid and nothing prunes
    assert(readZ * 2 <= readRR,
      s"z-order read $readZ rows vs round-robin $readRR — expected <= half")
  }
}
