package graftbench

import java.io.File
import java.time.LocalDate
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import graft.tsdb.TsQueries

object Workloads {
  def apply(cfg: Config): Workload = cfg.workload match {
    case "station_cycle" => new StationCycle(cfg, LocalDate.parse(cfg.params("start")),
      cfg.params("base_days").toInt, cfg.params("stations").toInt)
    case "corpus_curate" => new CorpusCurate(cfg, cfg.params("ann_queries").toInt,
      cfg.params("request_docs").toInt, cfg.params("gate_first_id").toLong)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Persist `df` and return the plan the cache is built from. */
  def persisted(df: DataFrame): Seq[SparkPlan] = {
    df.persist()
    cachedPlanOf(df)
  }

  /** The plan behind a persisted frame (the frame's own plan is a scan
    * of its cache). */
  def cachedPlanOf(df: DataFrame): Seq[SparkPlan] = {
    val p = df.queryExecution.executedPlan
    Seq(p.collectFirst { case s: InMemoryTableScanExec => s.relation.cachedPlan }.getOrElse(p))
  }

  def planOf(df: DataFrame): Seq[SparkPlan] = Seq(df.queryExecution.executedPlan)

  /** Materialize every output column through the already planned
    * query (no second planning, unlike an action on a derived plan). */
  def drain(df: DataFrame): Unit = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("perfbench"))(qe.toRdd.foreach(_ => ()))
  }
}

/** What every workload runs, in order:
  *  1. `setups` set-ups of a fresh session with the inputs registered;
  *  2. one pass over the full inputs, the first in the JVM (traced runs
  *     add a traced warm one between two untraced ones), whose outputs
  *     are checked;
  *  3. closed-loop requests against the long-lived session, after
  *     `warmups` untimed ones, until `seconds` have passed and at least
  *     three were timed, in whole rounds of the request mix (traced runs
  *     trace every other round);
  *  4. the left-over storage and scratch, then clean-up.
  * Every op is failure-honest: a throwing op is counted and kept out of
  * every timing. */
abstract class Workload(val cfg: Config) {
  var spark: SparkSession = _
  var recorder: Recorder = _
  var tracer: Tracer = _
  val rng = new scala.util.Random(cfg.seed)
  val timings = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  val errors = mutable.ArrayBuffer.empty[String]
  val counters = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0
  var failed = 0
  /** Saved outputs: (name, output directory, input directory, check):
    * check "oracle" runs the registered oracle SQL of the query the
    * name ends in; "planted" and "ann" check against the generator's
    * planted duplicates. */
  val gate = mutable.ArrayBuffer.empty[(String, String, String, String)]
  val data: String = cfg.data
  def snapshotRoot: File = new File(cfg.scratch, "snap")
  lazy val outDir: File = { val d = new File(cfg.out, "outputs"); d.mkdirs(); d }

  /** Session-level input registration, repeated for every set-up. */
  def register(): Unit
  /** One full pass over the inputs. */
  def pass(): Unit
  /** Save the last pass's outputs for the checks. */
  def saveOutputs(): Unit
  /** One request of the serving phase; returns its timing key. */
  def request(i: Int): String
  /** Untimed first requests: the one-time code generation and JIT of
    * the request path, which a long-lived session pays once. */
  def warmups: Int = 1
  /** Requests in one round of the workload's request mix: the timed
    * requests are whole rounds, so every run times the same mix, and a
    * traced run traces every other round. */
  def mix: Int = 1
  /** Frames this benchmark persisted itself, released before the
    * left-over storage is measured. */
  def releaseOwn(): Unit

  def step[T](layer: String)(build: => T)(plans: T => Seq[SparkPlan])(exec: T => Unit): T =
    tracer.step(layer)(build)(plans)(exec)

  def addCounter(name: String, v: Double): Unit =
    counters.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def save(name: String, df: DataFrame, input: String, check: String = "oracle"): String = {
    val path = new File(outDir, name).getPath
    df.write.mode("overwrite").parquet(path)
    gate += ((name, path, input, check))
    path
  }

  private def startSession(): Unit = {
    spark = Session.start(cfg)
    recorder = new Recorder
    spark.sparkContext.addSparkListener(recorder)
    tracer = new Tracer(spark, recorder)
  }

  /** Run one op and file its time under the key it returns (`traced_`
    * prefixed when traced); a throwing op is counted, never timed. */
  def timed(key: String, traced: Boolean)(body: => String): Boolean = {
    tracer.traced = traced
    val sc = spark.sparkContext
    if (traced) sc.setJobGroup(Tracer.OpGroup, "op", interruptOnCancel = false)
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val k = Option(body).getOrElse(key)
      val ms = (System.nanoTime() - t0) / 1e6
      timings.getOrElseUpdate(if (traced) s"traced_$k" else k, mutable.ArrayBuffer.empty) += ms
      true
    } catch {
      case t: Throwable =>
        failed += 1
        val msg = Option(t.getMessage).getOrElse(t.getClass.getName)
        errors += s"$key: ${t.getClass.getSimpleName}: " +
          msg.linesIterator.find(_.trim.nonEmpty).getOrElse("").take(300)
        false
    } finally {
      sc.clearJobGroup()
      tracer.traced = false
    }
  }

  private def guarded(name: String)(body: => Unit): Unit =
    try body catch {
      case t: Throwable =>
        errors += s"$name: ${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(300)}"
        attempted += 1; failed += 1
    }

  def run(): Map[String, Any] = {
    val phases = mutable.LinkedHashMap.empty[String, Double]
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime(); phases(name) = (now - mark) / 1e9; mark = now
    }
    val setupMs = (1 to cfg.setups).map { _ =>
      if (spark != null) { spark.stop(); spark = null }
      System.gc() // the previous session's garbage is not this set-up's cost
      val t0 = System.nanoTime()
      startSession()
      register()
      (System.nanoTime() - t0) / 1e6
    }
    // the first pass of the fresh JVM is the timed one (a cron update
    // job pays exactly that); a traced run adds a traced warm pass between
    // two untraced ones: warm passes still speed up one after the other,
    // so the tracing overhead is the traced one minus the others' mean
    val passes = Seq("pass" -> false) ++
      (if (cfg.traced) Seq("warm_pass" -> false, "warm_pass" -> true, "warm_pass" -> false) else Nil)
    phase("setup")
    val ok = passes.map { case (k, t) => timed(k, t) { pass(); null } }
    phase("passes")
    if (ok.last) guarded("pass outputs")(saveOutputs())
    phase("outputs")
    var i = 0
    while (i < warmups) { timed("warmup", traced = false) { request(i); "warmup" }; i += 1 }
    val deadline = System.nanoTime() + (cfg.seconds * 1e9).toLong
    def more = System.nanoTime() < deadline || i < warmups + Workload.MinRequests ||
      (i - warmups) % mix != 0
    while (more && failed < 5) {
      timed("request", cfg.traced && (i - warmups) / mix % 2 == 1)(request(i))
      i += 1
    }
    phase("requests")
    recorder.await(spark, Tracer.OpGroup)
    val stepsTaskMs = recorder.taskMsWhere(_.startsWith("step:"))
    val opsTaskMs = recorder.taskMsWhere(g => g.startsWith("step:") || g == Tracer.OpGroup)
    Main.writeOracleSql(cfg.out, gate.collect { case (n, _, _, "oracle") => n.split("_", 2)(1) }
      .toSeq.distinct)
    val peakMb = recorder.peakBytes / 1048576.0
    releaseOwn()
    TsQueries.clearMemo(spark)
    val cacheLeftMb = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
    // what graft left of its own: graft* entries in java.io.tmpdir (the
    // fallback of graft.core.Scratch.root) and tables in the warehouse
    val tmpLeft = Option(new File(sys.props("java.io.tmpdir")).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("graft")).map(Workload.bytesUnder).sum
    val scratchLeftMb =
      (tmpLeft + Workload.bytesUnder(new File(cfg.scratch, "warehouse"))) / 1048576.0
    // hygiene after measuring, so that runs never compound
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    Workload.deleteTree(snapshotRoot)
    if (cfg.traced) writeTrace()
    spark.stop()
    phase("cleanup")
    Map(
      "workload" -> cfg.workload,
      "phases_s" -> phases,
      "setup_ms" -> setupMs,
      "timings" -> timings,
      "counters" -> counters,
      "attempted" -> attempted,
      "failed" -> failed,
      "errors" -> errors,
      "cache_peak_mb" -> peakMb,
      "cache_left_mb" -> cacheLeftMb,
      "scratch_left_mb" -> scratchLeftMb,
      "gate" -> gate.map { case (n, d, in, c) => Map("name" -> n, "dir" -> d, "data" -> in, "check" -> c) },
      "layers" -> layerMetrics,
      "steps_task_ms" -> stepsTaskMs,
      "listener_task_ms" -> opsTaskMs,
      "coverage" -> coverage,
      "cores" -> cfg.cores,
      "settings" -> Session.settings)
  }

  /** Share of the traced ops' wall time covered by step spans. */
  private def coverage: Double = {
    val wall = tracer.spans.filter(_.parent == 0L).map(s => (s.endNs - s.startNs).toDouble).sum
    val inSteps = tracer.steps.map(s => (s.endNs - s.startNs).toDouble).sum
    if (wall == 0) 0.0 else inSteps / wall
  }

  /** Per layer: each metric summed over the layer's steps within one
    * traced op, then the median over the traced ops of the kind that
    * exercises the layer (passes first, then requests). */
  private def layerMetrics: Map[String, Map[String, Double]] = {
    val kindOf = tracer.spans.filter(_.parent == 0L).map(s => s.id -> s.name).toMap
    tracer.steps.groupBy(_.layer).map { case (layer, ss) =>
      val byKind = ss.groupBy(s => kindOf.getOrElse(s.requestId, ""))
      val chosen = byKind.getOrElse("pass", byKind.values.head)
      val per = chosen.groupBy(_.requestId).values.toSeq.map { ss =>
        Map(
          "build_ms" -> ss.map(_.buildMs).sum, "plan_ms" -> ss.map(_.planMs).sum,
          "exec_ms" -> ss.map(_.execMs).sum, "task_ms" -> ss.map(_.taskMs.toDouble).sum,
          "task_skew" -> ss.map(_.taskSkew).max,
          "shuffle_mb" -> ss.map(_.shuffleBytes).sum / 1048576.0,
          "spill_mb" -> ss.map(_.spillBytes).sum / 1048576.0,
          "gc_ms" -> ss.map(_.gcMs.toDouble).sum,
          "exchanges" -> ss.map(_.exchanges.toDouble).sum,
          "jobs" -> ss.map(_.jobs.toDouble).sum)
      }
      layer -> per.head.keys.map(k => k -> Workload.median(per.map(_(k)))).toMap
    }
  }

  /** Spans and step records as JSON lines, and the executed plan of
    * every step of the last traced op of each kind. */
  private def writeTrace(): Unit = {
    val w = new java.io.PrintWriter(new File(cfg.out, "spans.jsonl"), "UTF-8")
    try {
      tracer.spans.foreach { s =>
        w.println(Json(Map("id" -> s.id, "name" -> s.name, "request" -> s.requestId,
          "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
      }
      tracer.steps.zipWithIndex.foreach { case (s, i) =>
        w.println(Json(Map("id" -> s"step$i", "name" -> s.layer, "request" -> s.requestId,
          "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
          "build_ms" -> s.buildMs, "plan_ms" -> s.planMs, "exec_ms" -> s.execMs,
          "task_ms" -> s.taskMs, "task_skew" -> s.taskSkew, "shuffle_bytes" -> s.shuffleBytes,
          "spill_bytes" -> s.spillBytes, "gc_ms" -> s.gcMs, "jobs" -> s.jobs,
          "plan_counts" -> s.planCounts)))
      }
    } finally w.close()
    val plans = new File(cfg.out, "plans"); plans.mkdirs()
    val top = tracer.spans.filter(_.parent == 0L)
    top.groupBy(_.name).values.map(_.maxBy(_.startNs)).foreach { req =>
      tracer.steps.filter(_.requestId == req.id).zipWithIndex.foreach { case (s, i) =>
        val f = new java.io.PrintWriter(new File(plans, f"${req.name}_$i%02d_${s.layer}.txt"), "UTF-8")
        try { f.println(Json(s.planCounts)); f.println(s.planText) } finally f.close()
      }
    }
  }
}

object Workload {
  /** Requests a run makes even when `seconds` has passed. */
  val MinRequests = 3

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.size / 2) }

  def bytesUnder(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(bytesUnder).sum

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
