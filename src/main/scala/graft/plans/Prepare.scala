package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graft.GraftSqlBridge

/** Driver-side state that the expressions of a plan read, built when
  * the plan runs rather than when its frame is built. */
trait Prepared extends Serializable {
  /** Build the state if it is not held; runs on the driver. */
  def prepare(): Unit
}

/** A frame whose expressions read `state`: at every execution the node
  * prepares the state on the driver, then runs its child. An action is
  * therefore where the state is built (a frame that is only built, or
  * only planned, builds none), and a state released between two
  * actions is built again by the next one. */
case class PreparePlan(child: LogicalPlan, state: Prepared) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): PreparePlan =
    copy(child = newChild)
}

/** Runs [[Prepared.prepare]], then its child; otherwise its child. */
case class PrepareExec(child: SparkPlan, state: Prepared) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override protected def doExecute(): RDD[InternalRow] = {
    state.prepare()
    child.execute()
  }
  override protected def withNewChildInternal(newChild: SparkPlan): PrepareExec =
    copy(child = newChild)
}

/** Plans [[PreparePlan]] as a [[PrepareExec]]; register per-session
  * (GraftSqlBridge does it on first use) or cluster-wide via
  * GraftExtensions. */
object PrepareStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PreparePlan(child, state) => PrepareExec(planLater(child), state) :: Nil
    case _ => Nil
  }
}

object Prepare {
  /** `df`, preparing `state` at each of its executions. */
  def apply(state: Prepared)(df: DataFrame): DataFrame =
    GraftSqlBridge.ofRows(df.sparkSession, PreparePlan(df.queryExecution.analyzed, state),
      PrepareStrategy)
}
