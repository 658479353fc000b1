package org.apache.spark.sql.graft
// Lives under org.apache.spark.sql for the same reason as DotProduct:
// the Column⇄Expression bridge (ExpressionUtils) is private[sql].

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.DataType

/** Identity pass-through that REPORTS itself non-deterministic so the
  * optimizer pins its Project as a once-per-row materialization point:
  * CollapseProject will not inline it into consumers, and
  * PushDownPredicates will not substitute it into a predicate pushed
  * below it. Evaluation and codegen are exactly the child's.
  *
  * Why it exists: a column aliased in a Project and consumed downstream
  * is re-inlined into a Filter pushed through the Project, and
  * subexpression elimination cannot rescue occurrences inside
  * conditionally-evaluated when/coalesce arms. Its one user is
  * `ValidatedIngest.routeTagged`'s abort check: pinned, the
  * `raise_error` of an invalid record runs before any filter a script
  * pushes down could drop that record.
  */
case class MaterializeOnce(child: Expression) extends UnaryExpression {
  // The flag is the entire mechanism: no state, no RNG — evaluation is
  // pure, but the optimizer must treat each reference as non-duplicable.
  override lazy val deterministic: Boolean = false
  override def nullable: Boolean = child.nullable
  override def dataType: DataType = child.dataType
  override def prettyName: String = "graft_materialize_once"
  override def eval(input: InternalRow): Any = child.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    child.genCode(ctx)
  override protected def withNewChildInternal(newChild: Expression): MaterializeOnce =
    copy(child = newChild)
}

object MaterializedFacade {
  def materializeOnce(c: Column): Column =
    ExpressionUtils.column(MaterializeOnce(ExpressionUtils.expression(c)))
}
