package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** Plan-regression guard: no query may plan a CartesianProduct or an
  * unbounded BroadcastNestedLoopJoin — the two shapes that silently
  * turn a working sf0.01 query into an O(n²) scale-killer.
  *
  * A BNLJ is tolerated only when one side is provably a scalar frame
  * (a global aggregate with no grouping — e.g. the 1-row period-bounds
  * frame the dense grid cross-joins). Cached subplans are descended so
  * memoized qc/filled frames can't hide a bad join.
  */
class PlanGuardSpec extends SparkSpec {

  /** Deliberate brute-force reference variants, each with a registered
    * scale-path twin (q_knn_bucketed, q_ann_lsh / q_dedup_embedding_lsh);
    * q_ann_ivf/q_ann_ivfpq appear for their coarse-quantizer pass — a
    * crossJoin against the nCells-row centroid broadcast, O(n·nCells)
    * linear work bounded by the filter-derived codebook, not all-pairs. */
  private val exempt = Set("q_ann_topk", "q_ann_lsh", "q_ann_ivf", "q_ann_ivfpq",
    "q_knn_dist", "q_knn_elev")

  private def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val here = p.collect { case n => n }
    here ++ here.flatMap {
      case s: InMemoryTableScanExec => allNodes(s.relation.cachedPlan)
      case _ => Nil
    }
  }

  /** A BNLJ is tolerated only for reviewed bounded shapes: a provably
    * scalar side (global aggregate, e.g. the 1-row period-bounds frame
    * the dense grid joins), a side under an explicit constant LIMIT —
    * as a GlobalLimitExec (Cluster.kmeans' k-row centroid broadcast)
    * or a TakeOrderedAndProjectExec (an orderBy+limit top-k, e.g. the
    * 1-row BPE merge winner) — or the knn exactness-rescue join,
    * marked structurally by its rescue_* columns
    * (Neighbors.knnDistBucketed — registry-bounded broadcast with a
    * vanishing probe side). */
  private def allowedBnlj(j: BroadcastNestedLoopJoinExec): Boolean =
    j.children.exists(_.collectFirst {
      case a: BaseAggregateExec if a.groupingExpressions.isEmpty => a
    }.nonEmpty) ||
    j.children.exists(_.collectFirst {
      case l: org.apache.spark.sql.execution.GlobalLimitExec => l
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }.nonEmpty) ||
    j.children.exists(_.output.exists(_.name.startsWith("rescue_")))

  test("no cartesian product / unbounded nested-loop join in any query plan") {
    val offenders = RegistrySweep(spark)
      .filterNot(q => exempt(q.name))
      .flatMap { case RegistrySweep.Swept(name, plan, _) =>
        allNodes(plan).collect {
          case _: CartesianProductExec => s"$name: CartesianProduct"
          case j: BroadcastNestedLoopJoinExec if !allowedBnlj(j) =>
            s"$name: unbounded BroadcastNestedLoopJoin"
        }
      }
    assert(offenders.isEmpty, s"scale-killer plans: ${offenders.distinct.mkString("; ")}")
  }
}
