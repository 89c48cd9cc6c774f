package graft.operators

import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Optimizer barrier: a filter written above `Stage(child)` stays above it.
  *
  * `PushPredicateThroughNonJoin` pushes a Filter through a Project by
  * substituting every referenced alias with its full expression, so a
  * predicate over staged heavy columns re-evaluates the whole chain at the
  * bottom of the plan (Catalyst has no cross-operator common-subexpression
  * elimination). It only pushes through the unary nodes on its
  * `canPushThrough` allowlist; `Stage` is not on it, so the predicate stops
  * here by construction and reads the staged attributes, evaluated once in
  * the projection below. ColumnPruning's generic Project case still prunes
  * unused columns below the node.
  *
  * [[StageStrategy]] plans it as its child, so the physical plan and its
  * codegen stages are the ones the child alone would get. A session without
  * the strategy fails at planning ("No plan for Stage"); `GraftExtensions`
  * installs it.
  */
case class Stage(child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): Stage =
    copy(child = newChild)
}

/** Plans [[Stage]] as its child: the barrier exists only in the logical plan. */
object StageStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Stage(child) => planLater(child) :: Nil
    case _            => Nil
  }
}
