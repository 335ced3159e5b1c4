package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, ExpressionSet}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.graft.GraftSqlBridge

/** An optimizer fence: the fenced plan reaches every consumer of the
  * frame unchanged.
  *
  * Spark reuses an exchange only between identical subtrees. A frame
  * that several consumers read, each projecting it differently, gets
  * one copy of its plan per consumer, and the optimizer reshapes each
  * copy for its consumer: column pruning drops the columns that
  * consumer does not read, predicate pushdown moves that consumer's
  * filters (inferred ones too) below the exchange, and constraint
  * propagation carries the frame's literal filters into the other
  * side of every join. The copies then differ, so each plans its own
  * exchange. None of that crosses this node: it references its whole
  * child output, so nothing is pruned below it; no rule pushes a
  * predicate through a node it does not know; and it derives no
  * constraints. Every consumer therefore holds the same child, and an
  * exchange at its top is planned once and reused everywhere else.
  * Physically the node is nothing: it plans as its child.
  */
case class FencePlan(child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def references: AttributeSet = child.outputSet
  override protected lazy val validConstraints: ExpressionSet = ExpressionSet()
  override protected def withNewChildInternal(newChild: LogicalPlan): FencePlan =
    copy(child = newChild)
}

/** Plans [[FencePlan]] as its child; register per-session
  * (GraftSqlBridge does it on first use) or cluster-wide via
  * GraftExtensions. */
object FenceStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case FencePlan(child) => planLater(child) :: Nil
    case _ => Nil
  }
}

object Fence {
  /** `df` behind a [[FencePlan]]. */
  def apply(df: DataFrame): DataFrame =
    GraftSqlBridge.ofRows(df.sparkSession, FencePlan(df.queryExecution.analyzed), FenceStrategy)
}
