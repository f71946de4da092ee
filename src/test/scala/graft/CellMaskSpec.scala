package graft

import org.apache.spark.sql.functions._
import graft.operators.Climate
import graft.plans.CellMask

/** The bitmask land-mask expression: bit-identical to the semi-join
  * form, correct null/out-of-range semantics, and identical results
  * under codegen and interpreted evaluation.
  */
class CellMaskSpec extends SparkTestBase {
  import spark.implicits._

  test("CellMask.contains: exact membership, out-of-extent is false") {
    val m = CellMask.fromCells(Seq((2, 3), (2, 5), (-1, 3)))
    assert(m.contains(2, 3) && m.contains(2, 5) && m.contains(-1, 3))
    assert(!m.contains(2, 4) && !m.contains(-1, 5) && !m.contains(0, 3))
    // outside the bounding box entirely
    assert(!m.contains(100, 3) && !m.contains(2, -100) && !m.contains(-2, 3))
    // a mask wider than one word (6x12 = 72 bits spans two longs)
    val wide = CellMask.fromCells((0 until 6).flatMap(i => (0 until 12).map(j => (i, j))))
    assert((0 until 6).forall(i => (0 until 12).forall(j => wide.contains(i, j))))
    assert(!wide.contains(6, 0) && !wide.contains(0, 12))
  }

  test("oversized grid extents fail the BUILD loudly (no silent int truncation)") {
    // 65536 x 65536 cells = 2^32 > 2^31-1: the dense row-major index
    // would truncate identically on build and probe, so membership
    // would go silently wrong — the build must refuse instead
    val ex = intercept[IllegalArgumentException] {
      CellMask.fromCells(Seq((0, 0), (65535, 65535)))
    }
    assert(ex.getMessage.contains("2^31"), ex.getMessage)
  }

  test("landCellMask rebuilds when the lookup path is rewritten (no stale memo)") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_mask_cache").toString + "/cells"
    Seq((0, 0)).toDF("cell_lat", "cell_lon").write.mode("overwrite").parquet(dir)
    val m1 = Climate.landCellMask(spark.read.parquet(dir))
    assert(m1.contains(0, 0) && !m1.contains(7, 7))
    // overwrite the SAME path: the canonicalized plan compares equal,
    // but the file fingerprint differs — the memo must miss and rebuild
    Seq((7, 7)).toDF("cell_lat", "cell_lon").write.mode("overwrite").parquet(dir)
    val m2 = Climate.landCellMask(spark.read.parquet(dir))
    assert(m2.contains(7, 7) && !m2.contains(0, 0))
  }

  test("distributed build: parity with the driver build on a >=1e6-cell grid, word-sized task results") {
    // 1200x1000 extent, ~43% of cells set by a deterministic rule —
    // 514k land cells over a 1.2e6-cell grid, ten-plus times the
    // quantized fixture and big enough that collecting cell ROWS would
    // dominate task results; the distributed build's results must stay
    // word-array sized (~150 KB here) per task instead.
    val nLat = 1200
    val nLon = 1000
    val cellsDf = spark.range(0, nLat.toLong * nLon).repartition(4)
      .filter(pmod(col("id"), lit(7)) < 3)
      .select((col("id") / nLon).cast("int").as("la"),
        pmod(col("id"), lit(nLon)).cast("int").as("lo"))
    val (dist, maxResult) = StageLog.record(spark) { log =>
      val d = CellMask.fromCellsDistributed(cellsDf)
      (d, log.stages.map(_.maxTaskResult).maxOption.getOrElse(0L))
    }
    // zero driver ROW collection: the largest task result is a word
    // array (nWords = 1.2e6/64 = 18750 longs = 150 KB, plus task
    // overhead), nowhere near the ~1 MB+ a per-task row collect of
    // 128k cells would ship
    assert(maxResult > 0 && maxResult < 600L * 1024,
      s"largest task result $maxResult bytes — row-collect sized, not word-array sized")
    // exact parity with the driver-side build over the same cell set
    val local = CellMask.fromCells(
      (0L until nLat.toLong * nLon).filter(_ % 7 < 3)
        .map(id => ((id / nLon).toInt, (id % nLon).toInt)))
    assert(dist.latMin == local.latMin && dist.lonMin == local.lonMin &&
      dist.nLat == local.nLat && dist.nLon == local.nLon)
    assert(java.util.Arrays.equals(dist.words, local.words))
  }

  test("distributed build: a source that drifts between evaluations fails LOUDLY") {
    import spark.implicits._
    // fromCellsDistributed evaluates `cells` twice (extent aggregate,
    // then the word fold). A NON-DETERMINISTIC source can emit a cell
    // outside the first-pass extent in the second pass — whose flat
    // index would silently set a bit in an adjacent lat row. Plant
    // exactly that drift: evaluation 1 emits (0..2, 0..2), later
    // evaluations emit (99, 2).
    CellMaskSpec.evals.set(0)
    val cells = spark.range(0, 3, 1, 1).mapPartitions { it =>
      val eval = CellMaskSpec.evals.incrementAndGet()
      it.map(i => (if (eval > 1 && i == 2) 99 else i.toInt, i.toInt))
    }.toDF("la", "lo")
    val e = intercept[org.apache.spark.SparkException] {
      CellMask.fromCellsDistributed(cells)
    }
    def drifted(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains("outside the first-pass extent"))
        || drifted(t.getCause))
    assert(drifted(e), s"expected the loud extent-drift failure, got: $e")
  }

  test("expression form is bit-identical to the semi-join on the registered query's data") {
    val pts = Tables.customer(spark, sf).select(col("c_custkey"),
      Climate.cellIndex((col("c_acctbal") % 180 + 180) % 180 - 90, 90.0, 30.0).as("cell_lat"),
      Climate.cellIndex((col("c_acctbal") * 7 % 360 + 360) % 360 - 180, 180.0, 30.0).as("cell_lon"))
    val land = Climate.landCells(spark, sf)
    val viaJoin = Climate.landMask(pts, land)
      .select("c_custkey").collect().map(_.getLong(0)).sorted.toSeq
    val viaExpr = Climate.landMaskExpr(pts, Climate.landCellMask(land))
      .select("c_custkey").collect().map(_.getLong(0)).sorted.toSeq
    assert(viaExpr == viaJoin && viaExpr.nonEmpty)
  }

  test("NULL cell indices are dropped, exactly like a null-rejecting join key") {
    val pts = Seq[(Long, Option[Int], Option[Int])](
      (1L, Some(0), Some(0)), (2L, None, Some(0)), (3L, Some(0), None),
      (4L, Some(5), Some(5)))
      .toDF("id", "cell_lat", "cell_lon")
    val land = Seq((0, 0), (5, 5)).toDF("cell_lat", "cell_lon")
    val viaJoin = Climate.landMask(pts, land)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val viaExpr = Climate.landMaskExpr(pts, Climate.landCellMask(land))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(viaJoin == Seq(1L, 4L) && viaExpr == viaJoin)
  }

  test("codegen and interpreted evaluation agree") {
    val pts = spark.range(0, 1000).select(col("id"),
      pmod(col("id"), lit(11)).cast("int").minus(2).as("cell_lat"),
      pmod(col("id") * 3, lit(17)).cast("int").minus(4).as("cell_lon"))
    val mask = CellMask.fromCells(Seq((0, 0), (1, 5), (3, 12), (-2, -4), (8, 0)))
    def run(): Seq[Long] = Climate.landMaskExpr(pts, mask)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val withCodegen = run()
    val key = "spark.sql.codegen.wholeStage"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    val interpreted = try run() finally spark.conf.set(key, prev)
    assert(withCodegen == interpreted && withCodegen.nonEmpty)
  }
}

/** Static evaluation counter for the extent-drift test: executor and
  * driver share the JVM on local[n], so the task closure can count
  * dataset evaluations through it. */
object CellMaskSpec {
  val evals = new java.util.concurrent.atomic.AtomicInteger(0)
}
