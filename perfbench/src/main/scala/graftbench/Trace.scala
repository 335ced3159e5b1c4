package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan

/** Task- and block-level accounting from Spark's listener bus.
  *
  * Jobs are attributed to a step through the job group the step sets;
  * every task's metrics are folded into its job's group. Persisted RDD
  * blocks are tracked from block updates, which gives the current and
  * peak storage held without polling. */
class Recorder extends SparkListener {
  final class Group {
    var jobs = 0
    var taskMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var gcMs = 0L
    val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  }
  private val groups = mutable.Map.empty[String, Group]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val endedJobs = mutable.Set.empty[Int]
  private val blocks = mutable.Map.empty[String, Long]
  private var storage = 0L
  private var peak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    groups.getOrElseUpdate(g, new Group).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { endedJobs += e.jobId }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val g = groups.getOrElseUpdate(stageGroup.getOrElse(e.stageId, ""), new Group)
      g.taskMs += m.executorRunTime
      g.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      g.spillBytes += m.diskBytesSpilled
      g.gcMs += m.jvmGCTime
      g.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val id = info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      storage += size - blocks.getOrElse(id, 0L)
      if (size == 0L) blocks.remove(id) else blocks(id) = size
      peak = math.max(peak, storage)
    }
  }

  def group(g: String): Option[Group] = synchronized(groups.get(g))
  def taskMsWhere(p: String => Boolean): Long =
    synchronized(groups.collect { case (g, v) if p(g) => v.taskMs }.sum)
  def peakBytes: Long = synchronized(peak)

  /** Block until every job of the group has been seen ending: task-end
    * events precede their job's end event on the bus, so after this
    * the group's task metrics are complete. */
  def await(spark: SparkSession, group: String): Unit = {
    val ids = spark.sparkContext.statusTracker.getJobIdsForGroup(group)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (synchronized(!ids.forall(endedJobs.contains)) && System.nanoTime() < deadline)
      Thread.sleep(2)
  }
}

/** One timed call into a layer: the three phases of a DataFrame's life
  * plus the listener totals of the jobs it ran. */
final case class StepRecord(layer: String, requestId: Long, startNs: Long, endNs: Long,
    buildMs: Double, planMs: Double, execMs: Double, taskMs: Long, taskSkew: Double,
    shuffleBytes: Long, spillBytes: Long, gcMs: Long, jobs: Int,
    exchanges: Int, planCounts: Map[String, Int], planText: String, parent: Long)

final case class Span(id: Long, name: String, requestId: Long, parent: Long,
    startNs: Long, endNs: Long)

/** Spans and steps of one run, kept in memory and written at the end.
  * A step runs the same calls whether `traced` is on or off; tracing
  * only adds the job group, the timestamps and the listener records. */
class Tracer(val spark: SparkSession, val recorder: Recorder) {
  var traced = false
  val steps = mutable.ArrayBuffer.empty[StepRecord]
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var current = 0L
  private var request = 0L

  /** Run `body` as a request-level span (a pass, a lookup, a request);
    * steps inside it become its children. */
  def span[T](name: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val (parent, req) = (current, request)
    current = id
    if (parent == 0L) request = id
    val t0 = System.nanoTime()
    try body finally {
      if (traced) spans += Span(id, name, request, parent, t0, System.nanoTime())
      current = parent; request = req
    }
  }

  /** Call into `layer`: `build` returns the result (for most layers a
    * lazy DataFrame), `plans` forces and returns its executed plans,
    * `exec` materializes the result. */
  def step[T](layer: String)(build: => T)(plans: T => Seq[SparkPlan])(exec: T => Unit): T = {
    if (!traced) { val r = build; plans(r); exec(r); return r }
    val group = s"step:$layer#$nextId"
    nextId += 1
    val sc = spark.sparkContext
    sc.setJobGroup(group, layer, interruptOnCancel = false)
    try {
      val t0 = System.nanoTime()
      val r = build
      val t1 = System.nanoTime()
      val executed = plans(r)
      val t2 = System.nanoTime()
      exec(r)
      val t3 = System.nanoTime()
      recorder.await(spark, group)
      val g = recorder.group(group)
      val skews = g.toSeq.flatMap(_.stageTaskMs.values).filter(_.size >= 2).map { ts =>
        val s = ts.sorted
        val med = math.max(1L, s(s.size / 2))
        s.last.toDouble / med
      }
      val counts = executed.map(PlanStats.counts).foldLeft(Map.empty[String, Int]) { (a, b) =>
        (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0) + b.getOrElse(k, 0))).toMap
      }
      steps += StepRecord(layer, request, t0, t3, (t1 - t0) / 1e6, (t2 - t1) / 1e6,
        (t3 - t2) / 1e6, g.map(_.taskMs).getOrElse(0L), if (skews.isEmpty) 1.0 else skews.max,
        g.map(_.shuffleBytes).getOrElse(0L), g.map(_.spillBytes).getOrElse(0L),
        g.map(_.gcMs).getOrElse(0L), g.map(_.jobs).getOrElse(0),
        counts.getOrElse("exchange", 0) + counts.getOrElse("broadcast_exchange", 0), counts,
        executed.map(_.toString).mkString("\n---\n"), current)
      r
    } finally sc.setJobGroup(Tracer.OpGroup, "op", interruptOnCancel = false)
  }
}

object Tracer {
  /** Job group of a traced op's jobs that run outside every step. */
  val OpGroup = "op-unattributed"
}

/** Operator census of an executed plan. Cached relations are leaves
  * here: their plans ran when they were materialized, in their own
  * step. */
object PlanStats {
  private val kinds: Seq[(String, String)] = Seq(
    "ShuffleExchangeExec" -> "exchange",
    "BroadcastExchangeExec" -> "broadcast_exchange",
    "SortMergeJoinExec" -> "smj",
    "ShuffledHashJoinExec" -> "shj",
    "BroadcastHashJoinExec" -> "bhj",
    "BroadcastNestedLoopJoinExec" -> "bnlj",
    "WholeStageCodegenExec" -> "codegen_stages")

  def counts(plan: SparkPlan): Map[String, Int] = {
    val names = mutable.ArrayBuffer.empty[String]
    def walk(p: SparkPlan): Unit = {
      names += p.getClass.getSimpleName
      (p.children ++ p.subqueries).foreach(walk)
    }
    walk(plan)
    kinds.map { case (cls, key) => key -> names.count(_ == cls) }.toMap
  }

  /** Rows the plan's leaf scans produced (file scans and scans of
    * persisted frames): the rows a query examined to answer. */
  def leafRows(plan: SparkPlan): Long = {
    def walk(p: SparkPlan): Long =
      if (p.children.isEmpty) p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      else p.children.map(walk).sum
    walk(plan)
  }
}
