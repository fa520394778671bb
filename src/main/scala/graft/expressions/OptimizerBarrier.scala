package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.DataType

/** Identity wrapper that hides its child from the optimizer's predicate
  * pushdown (it reports itself non-deterministic, which every pushdown
  * rule refuses to move). Zero runtime cost — eval and codegen delegate
  * straight to the child.
  *
  * Why it exists: a filter over an EXPENSIVE projected expression (e.g.
  * a set-intersection between two joined arrays) gets alias-substituted
  * and pushed INTO the join condition, where the join then evaluates the
  * expensive expression per candidate row in the condition AND again in
  * the projection above — double/triple work for exactly the operators
  * where the projection is the dominant cost (LSH verification, n-gram
  * Jaccard). Wrapping the projected expression pins it in place:
  * evaluated once, filtered above.
  *
  * The child MUST actually be deterministic (the wrapper lies to the
  * optimizer, not to the user): wrapping a truly non-deterministic
  * expression is unsupported.
  */
case class OptimizerBarrier(child: Expression) extends UnaryExpression {

  override lazy val deterministic: Boolean = false
  override def foldable: Boolean = false

  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "opt_barrier"

  override def eval(input: InternalRow): Any = child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ExprCode(c.code, c.isNull, c.value)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
