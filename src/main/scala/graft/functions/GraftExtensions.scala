package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point: enable the graft SQL functions
  * cluster-wide with
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`
  * (the per-session alternative is GraftFunctions.register). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // whole-operator extension: the native streaming-merge as-of join
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // the optimizer fence shared frames are planned behind
    ext.injectPlannerStrategy(_ => graft.plans.FenceStrategy)
    // the node that builds a text snapshot's probe state at execution
    ext.injectPlannerStrategy(_ => graft.plans.PrepareStrategy)
    // optimizer extensions: predicate pushdown + column pruning
    // through the as-of plan (opaque to the built-in rules)
    ext.injectOptimizerRule(_ => graft.plans.AsOfFilterPushdown)
    ext.injectOptimizerRule(_ => graft.plans.AsOfColumnPruning)
    GraftFunctions.builders.foreach { case (name, b) =>
      ext.injectFunction((new FunctionIdentifier(name), new ExpressionInfo(b.getClass.getName, name), b))
    }
  }
}
