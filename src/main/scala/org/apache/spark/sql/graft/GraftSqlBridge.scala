package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.catalyst.util.truncatedString
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.columnar.CachedBatch
import org.apache.spark.sql.execution.{LeafExecNode, SparkStrategy}
import org.apache.spark.sql.execution.columnar.{CachedRDDBuilder, InMemoryRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.LongAccumulator

/** Bridge into the `private[sql]` seams graft needs: the classic
  * `Dataset.ofRows` factory (wrap a custom LogicalPlan, or an RDD of
  * rows, as a DataFrame),
  * per-session strategy registration and the CacheManager's plan
  * matching. Lives under `org.apache.spark.sql` for access scope only —
  * contains no Spark code, just forwarding. Cluster deployments can
  * instead register the strategy via
  * `spark.sql.extensions=graft.functions.GraftExtensions` and never
  * touch [[ofRows]]. */
object GraftSqlBridge {

  /** Ensure `strategy` is registered on the session, then wrap `plan`
    * as a DataFrame (full analyzer/optimizer/planner pipeline). */
  def ofRows(spark: SparkSession, plan: LogicalPlan,
      strategy: SparkStrategy): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    if (!cs.experimental.extraStrategies.contains(strategy)) {
      cs.experimental.extraStrategies =
        cs.experimental.extraStrategies :+ strategy
    }
    // custom plans are opaque to PushDownPredicate — restore filter
    // pushdown through them (runs in the user-provided optimizer batch)
    for (rule <- Seq(graft.plans.AsOfFilterPushdown,
        graft.plans.AsOfColumnPruning))
      if (!cs.experimental.extraOptimizations.contains(rule))
        cs.experimental.extraOptimizations =
          cs.experimental.extraOptimizations :+ rule
    classic.Dataset.ofRows(cs, plan)
  }

  /** `rows`, an RDD of rows of `schema`, as a DataFrame: a scan of
    * the RDD, of unknown size to the planner, so broadcast only on a
    * hint. */
  def ofRdd(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** A Catalyst expression as a Column, and back: for native
    * expressions that take an argument no SQL text can carry. */
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `df` over what the CacheManager holds now: a persisted `df` becomes
    * one in-memory leaf, anything else keeps its plan with its cached
    * fragments substituted — the substitution an action would make,
    * but done here, so later operators analyze and plan over the leaf
    * instead of the whole lineage.
    *
    * The match is fresh on every call (never `df`'s memoized
    * `withCachedData`, which still names a cache after its release),
    * and every leaf reads the column buffers built at this call rather
    * than the cache's rebuildable builder: a frame held across a
    * release then recomputes those buffers from their lineage, as
    * unpersisted RDDs do, instead of persisting them again where no
    * release can reach them. */
  def fromCache(df: DataFrame): DataFrame = {
    val cs = df.sparkSession.asInstanceOf[classic.SparkSession]
    val plan = cs.withActive {
      cs.sharedState.cacheManager.useCachedData(df.queryExecution.normalized)
        .transformWithSubqueries { case r: InMemoryRelation => pinned(r) }
    }
    classic.Dataset.ofRows(cs, plan)
  }

  private def pinned(r: InMemoryRelation): InMemoryRelation = {
    val live = r.cacheBuilder
    InMemoryRelation(r.output, new PinnedBuffers(live, live.cachedColumnBuffers),
      r.outputOrdering, r.statsOfPlanToCache)
  }

  /** A cache builder fixed to `buffers`: it never builds, never
    * persists and never clears; it reads as loaded while `live` still
    * holds the blocks, and reports `live`'s size and row count. */
  private final class PinnedBuffers(live: CachedRDDBuilder, buffers: RDD[CachedBatch])
      extends CachedRDDBuilder(live.serializer, live.storageLevel,
        BuiltBuffers(live.cachedPlan.output, live.cachedPlan.outputPartitioning, buffers.id),
        live.tableName, live.logicalPlan) {
    override val sizeInBytesStats: LongAccumulator = live.sizeInBytesStats
    override val rowCountStats: LongAccumulator = live.rowCountStats
    override def cachedColumnBuffers: RDD[CachedBatch] = buffers
    override def isCachedColumnBuffersLoaded: Boolean =
      buffers.getStorageLevel != StorageLevel.NONE && live.isCachedColumnBuffersLoaded
    override def clearCache(blocking: Boolean): Unit = ()
  }

  /** Stands in for the cached plan under a pinned leaf: its output and
    * partitioning, which the scan reads, but none of its tree, which
    * the builder's name, `explain` and every action's SQL listener
    * event would otherwise render on each lookup. Never executed: the
    * leaf reads the buffers of RDD `rddId`. */
  private final case class BuiltBuffers(output: Seq[Attribute],
      override val outputPartitioning: Partitioning, rddId: Int)
      extends LeafExecNode {
    override def simpleString(maxFields: Int): String =
      s"BuiltBuffers ${truncatedString(output, "[", ", ", "]", maxFields)}, rdd $rddId"
    override protected def doExecute(): RDD[InternalRow] =
      throw new UnsupportedOperationException("a pinned cache leaf reads its built buffers")
  }
}
