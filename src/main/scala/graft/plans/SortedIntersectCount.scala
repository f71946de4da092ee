package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression: |A ∩ B| of two ASCENDING-sorted
  * array<bigint> columns by a single merge walk — the inner loop of
  * the edge-iterator triangle census (per oriented edge (u,v), the
  * common out-neighbors of u and v are exactly the triangles the edge
  * closes) and of any sorted-posting-list intersection.
  *
  * The merge walk is O(|A|+|B|) with zero allocations, against the
  * per-element hash-set build of `size(array_intersect(a, b))` and the
  * join-row machinery of expanding A×B through a generator. Inputs
  * MUST be sorted ascending (the caller builds them with
  * `sort_array(collect_list(...))`); duplicates are counted once per
  * matching pair step, so the caller's arrays should be duplicate-free
  * (collect_list over a DISTINCT edge set is).
  *
  * The walk is the plain three-way compare: on real adjacency data the
  * CPU predicts that branch well, and a ternary-to-int (cmov) walk,
  * which turns it into one serial dependency chain, measured ~1.9×
  * slower at the sf1 census shape (`r17_intersect_probe` in
  * `tools/bench_notes.json`).
  *
  * Null semantics: a NULL array yields NULL; a NULL ELEMENT yields
  * NULL only if the merge walk actually VISITS it — the walk stops as
  * soon as either array is exhausted, so e.g. (a=[1], b=[2, null])
  * returns 0 without seeing b's null (identical in interpreted and
  * codegen paths). This is weaker than [[VectorDot]]'s full-poisoning
  * contract; it is exact for every current caller because
  * `sort_array(collect_list(...))` never produces null elements. A
  * caller that needs guaranteed poisoning on nullable-element arrays
  * must pre-check (e.g. `exists(a, isnull)`) before the walk.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<bigint>, array<bigint>), " +
          s"got (${l.simpleString}, ${r.simpleString})")
    }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_sorted_intersect_count"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val l = left.eval(input)
    if (l == null) return null
    val r = right.eval(input)
    if (r == null) return null
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < na && j < nb) {
      if (a.isNullAt(i) || b.isNullAt(j)) return null
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val c = ctx.freshName("c")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $na = $a.numElements();
         |int $nb = $b.numElements();
         |int $i = 0; int $j = 0;
         |long $c = 0L;
         |while ($i < $na && $j < $nb) {
         |  if ($a.isNullAt($i) || $b.isNullAt($j)) { ${ev.isNull} = true; break; }
         |  long $x = $a.getLong($i);
         |  long $y = $b.getLong($j);
         |  if ($x < $y) { $i++; }
         |  else if ($x > $y) { $j++; }
         |  else { $c++; $i++; $j++; }
         |}
         |if (!${ev.isNull}) ${ev.value} = $c;
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}
