package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** |A ∩ B| for two ASCENDING-SORTED long arrays, as a single codegen'd
  * merge scan — no per-row hash-set allocation (vs `array_intersect`,
  * which builds an OpenHashSet per row). Used on the hot near-dup
  * verification path (TextQueries q29/q31), where it runs once per
  * candidate pair: O(|A|+|B|) comparisons, zero allocation, stays inside
  * whole-stage codegen.
  *
  * Callers MUST pass sorted, distinct arrays (`array_sort(array_distinct(
  * ...))`); with duplicates or unsorted input the count is undefined.
  */
case class SortedLongIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> arguments, got " +
        s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "sorted_long_intersect_count"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0
    var j = 0
    var c = 0L
    val xn = x.numElements()
    val yn = y.numElements()
    while (i < xn && j < yn) {
      val xi = x.getLong(i)
      val yj = y.getLong(j)
      if (xi == yj) { c += 1L; i += 1; j += 1 }
      else if (xi < yj) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val xn = ctx.freshName("xn")
      val yn = ctx.freshName("yn")
      val xi = ctx.freshName("xi")
      val yj = ctx.freshName("yj")
      s"""
         |int $i = 0; int $j = 0;
         |final int $xn = $a.numElements();
         |final int $yn = $b.numElements();
         |${ev.value} = 0L;
         |while ($i < $xn && $j < $yn) {
         |  final long $xi = $a.getLong($i);
         |  final long $yj = $b.getLong($j);
         |  if ($xi == $yj) { ${ev.value}++; $i++; $j++; }
         |  else if ($xi < $yj) { $i++; } else { $j++; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
