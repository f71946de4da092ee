package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column

/** The native SortedIntersectCount merge-walk vs
  * `size(array_intersect(a, b))` on duplicate-free sorted arrays — the
  * codegen path, the interpreted eval path, and the documented null
  * semantics. */
class SortedIntersectCountSpec extends SparkTestBase {
  import spark.implicits._

  private def native(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.plans.SortedIntersectCount(
        org.apache.spark.sql.GraftBridge.expression(a),
        org.apache.spark.sql.GraftBridge.expression(b)))

  private val rnd = new scala.util.Random(11)
  private def sortedSet(n: Int): Seq[Long] =
    Seq.fill(n)(rnd.nextInt(400).toLong).distinct.sorted

  test("matches size(array_intersect) on random sorted duplicate-free arrays — codegen path") {
    val df = (0 until 200).map { i =>
      (i, sortedSet(rnd.nextInt(60)), sortedSet(rnd.nextInt(60)))
    }.toDF("id", "a", "b")
    val rows = df.select(col("id"),
      native(col("a"), col("b")).as("native"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("builtin"))
      .collect()
    assert(rows.length == 200)
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"row ${r.getInt(0)}")
    }
  }

  test("interpreted eval matches the set-intersection count, incl. empty and disjoint") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val cases = Seq(
      (Seq.empty[Long], Seq(1L, 2L)),
      (Seq(1L, 3L, 5L), Seq(2L, 4L, 6L)),
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)),
      (Seq(1L, 100L), Seq(100L)),
    ) ++ (0 until 20).map(_ => (sortedSet(30), sortedSet(30)))
    cases.foreach { case (a, b) =>
      val la = Literal.create(a.toArray, ArrayType(LongType, containsNull = false))
      val lb = Literal.create(b.toArray, ArrayType(LongType, containsNull = false))
      val want = a.toSet.intersect(b.toSet).size.toLong
      assert(graft.plans.SortedIntersectCount(la, lb).eval(null) == want)
    }
  }

  test("null semantics: null array -> NULL; null element NULL only when the walk visits it") {
    val df = Seq(
      (1, Some(Seq[java.lang.Long](1L, 2L)), Some(Seq[java.lang.Long](2L, 3L))),
      (2, None, Some(Seq[java.lang.Long](1L))),
      (3, Some(Seq[java.lang.Long](1L)), Some(Seq[java.lang.Long](2L, null))),  // walk exhausts a first
      (4, Some(Seq[java.lang.Long](1L, null)), Some(Seq[java.lang.Long](1L, 2L))), // walk visits the null
    ).toDF("id", "a", "b")
    val out = df.select(col("id"), native(col("a"), col("b")).as("c"))
      .collect().map(r => r.getInt(0) -> Option(r.get(1))).toMap
    assert(out(1).contains(1L))
    assert(out(2).isEmpty)
    assert(out(3).contains(0L), "unvisited null must not poison")
    assert(out(4).isEmpty, "visited null must poison")
  }
}
