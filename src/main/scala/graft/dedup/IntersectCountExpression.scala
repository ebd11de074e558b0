package graft.dedup

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** |A ∩ B| for two SORTED-ascending distinct long arrays (set semantics),
  * via a single allocation-free merge scan.
  *
  * This replaces `size(array_intersect(a, b))` on the near-dup verify
  * join's hot path: `ArrayIntersect` builds a hash set over one side and
  * probes it PER PAIR ROW — at verify time each doc's shingle set rides
  * hundreds of candidate pairs, so the per-row O(|set|) hash-set
  * construction (plus its allocations) dominates the stage (measured
  * 31 cpu-s on q72's verify at sf0.1 — the largest single CPU hotspot in
  * the sweep). The merge scan does the same O(m+n) element visits with
  * two cursors, zero allocation, reading longs straight out of the
  * columnar/unsafe array representation.
  *
  * Caller contract: both arrays sorted ascending and duplicate-free (the
  * verify path sorts each doc's set ONCE below the join — `array_sort`
  * in the dim projection — so the per-pair kernel can assume order).
  * The count of common elements is order-independent, so the value is
  * bit-identical to the `array_intersect` formulation on any set input;
  * null if either side is null, matching `size(array_intersect(...))`'s
  * null propagation.
  */
object IntersectKernel {

  def count(a: ArrayData, b: ArrayData): Any = {
    if (a == null || b == null) return null
    val n = a.numElements()
    val m = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < n && j < m) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }
}

private[dedup] case class SortedLongIntersectCountExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "sorted_intersect_count"

  private def isLongArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongArray(left) && isLongArray(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint> inputs, got (${left.dataType}, ${right.dataType})")

  override def eval(input: InternalRow): Any =
    IntersectKernel.count(
      left.eval(input).asInstanceOf[ArrayData],
      right.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGen = left.genCode(ctx)
    val rGen = right.genCode(ctx)
    val la = ctx.freshName("icA")
    val lb = ctx.freshName("icB")
    val boxed = ctx.freshName("icRes")
    val block =
      code"""
        ${lGen.code}
        ${rGen.code}
        org.apache.spark.sql.catalyst.util.ArrayData $la =
          ${lGen.isNull} ? null : ${lGen.value};
        org.apache.spark.sql.catalyst.util.ArrayData $lb =
          ${rGen.isNull} ? null : ${rGen.value};
        Object $boxed = graft.dedup.IntersectKernel.count($la, $lb);
        boolean ${ev.isNull} = $boxed == null;
        int ${ev.value} = ${ev.isNull} ? 0 : ((Integer) $boxed).intValue();
      """
    ev.copy(code = block)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedLongIntersectCountExpr =
    copy(left = l, right = r)
}
