package graft.tools

import scala.collection.mutable
import scala.util.Try
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import graft.{Bench, SparkEntry}
import graft.core.{Json, Session}
import graft.tsdb.TsQueries

/** Dev tool: where a query's time goes, as one JSON line per query, in
  * the bench-contract session. Never part of the bench/verify
  * contract.
  *
  * Record fields:
  *  - `query`;
  *  - `build_s`, `analyze_s`, `optimize_s`, `physical_s`: driver-side
  *    building and planning of the query on first contact — Catalyst
  *    cost, a per-query constant on a real cluster, apart from the
  *    distributed work that scales with data volume;
  *  - `cold` and `warm`: one pass each through Bench's noop-sink timer
  *    under Bench's warm-pass rule (`TsQueries.clearMemo` before every
  *    pass, so both passes redo all distributed work and only the JVM
  *    stays warm). `cold` executes the frame the split built and
  *    planned, so the split plus `cold.s` is the query's cold time in
  *    Bench; `warm` builds the query again. Each has `s`, `error`
  *    (null, or the first line of what the query threw),
  *    `codegen_compiles` and `codegen_compile_ms` — the Janino compiles
  *    the pass started (generated classes the codegen cache did not
  *    hold) and their compile time, from Spark's `CodegenMetrics` and
  *    `CodeGenerator.compileTime`; the cold pass's include the build's
  *    and the planning split's — `n_jobs`, the number of jobs the
  *    pass started (the cold pass's include any job the build ran),
  *    and `jobs` — the pass's 12 longest jobs (`job`, `wall_s`, `desc`; the cold
  *    pass's include any job the build ran), each with its 4 longest
  *    stages (`stage`, `wall_s`, `tasks`, `task_ms`, `gc_ms`, `name`):
  *    the local-mode substitute for the Spark UI's stage table. A wall
  *    of -1 never ended.
  *
  * Bench's session warm-up runs once before the first query.
  *
  * Usage: `runMain graft.tools.Profile [query...]` (default: every
  * registered query) on `SPARK_GRAFT_SF_DIR`. `SPARK_GRAFT_CONF` =
  * "k=v;k=v" layers session settings over the bench contract — the one
  * way to A/B a session setting without editing the contract.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val conf = sys.env.get("SPARK_GRAFT_CONF").toSeq.flatMap(_.split(";"))
      .filter(_.contains("=")).map { kv => val Array(k, v) = kv.split("=", 2); k -> v }
    val spark = Session.contract(conf.toMap)
    Bench.warmUp(spark, sfDir)
    val table = new StageTable
    spark.sparkContext.addSparkListener(table)
    // Janino compiles so far in this JVM and their total time in ms
    def codegen(): (Long, Double) =
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime / 1e6)
    def pass(label: String, since: (Long, Double))(timing: Bench.Timing): String = {
      Thread.sleep(300) // let listener events drain
      val (s, err) = timing
      val (n, ms) = codegen()
      s""""$label":{"s":$s,"error":${err.fold("null")(Json.str)},""" +
        s""""codegen_compiles":${n - since._1},"codegen_compile_ms":${ms - since._2},""" +
        s""""n_jobs":${table.jobCount},"jobs":${table.json()}}"""
    }
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      TsQueries.clearMemo(spark)
      table.reset()
      val compiled = codegen()
      val marks = mutable.ArrayBuffer(System.nanoTime())
      def mark(): Unit = marks += System.nanoTime()
      // a phase that throws ends the split; the cold pass reports the error
      val built = Try(SparkEntry.queries(name)(spark, sfDir))
      Try {
        val qe = built.get.queryExecution
        mark()
        Seq(() => qe.analyzed, () => qe.optimizedPlan, () => qe.executedPlan)
          .foreach { phase => phase(); mark() }
      }
      val split = Seq("build_s", "analyze_s", "optimize_s", "physical_s")
        .zip(marks.zip(marks.tail)).map { case (k, (a, b)) => s""""$k":${(b - a) / 1e9}""" }
      val cold = pass("cold", compiled)(Bench.timed(built.get))
      TsQueries.clearMemo(spark)
      table.reset()
      val warm = pass("warm", codegen())(Bench.timed(SparkEntry.queries(name)(spark, sfDir)))
      println((s""""query":${Json.str(name)}""" +: (split :+ cold :+ warm)).mkString("{", ",", "}"))
    }
    spark.stop()
  }

  /** Wall time, tasks, task time and GC of the jobs and stages the
    * listener bus reported since the last [[reset]]. */
  private final class StageTable extends SparkListener {
    private final class Stage(val name: String, val submitted: Long) {
      var completed = 0L; var tasks = 0; var taskMs = 0L; var gcMs = 0L
    }
    private final class Job(val desc: String, val stageIds: Seq[Int], val started: Long) {
      var ended = 0L
    }
    private val stages = mutable.Map[Int, Stage]()
    private val jobs = mutable.Map[Int, Job]()

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      stages(e.stageInfo.stageId) = new Stage(e.stageInfo.name.take(60), System.nanoTime())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stages.get(e.stageInfo.stageId).foreach { st =>
        st.completed = System.nanoTime(); st.tasks = e.stageInfo.numTasks
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (st <- stages.get(e.stageId); m <- Option(e.taskMetrics)) {
        st.taskMs += m.executorRunTime; st.gcMs += m.jvmGCTime
      }
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      jobs(e.jobId) = new Job(desc.getOrElse(""), e.stageIds, System.nanoTime())
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.ended = System.nanoTime())
    }

    def reset(): Unit = synchronized { stages.clear(); jobs.clear() }

    def jobCount: Int = synchronized(jobs.size)

    def json(): String = synchronized {
      def wall(from: Long, to: Long): Double = if (to > 0) (to - from) / 1e9 else -1.0
      jobs.toSeq.sortBy { case (_, j) => -wall(j.started, j.ended) }.take(12).map { case (id, j) =>
        val top = j.stageIds.flatMap(sid => stages.get(sid).map(sid -> _))
          .sortBy { case (_, st) => -wall(st.submitted, st.completed) }.take(4)
          .map { case (sid, st) =>
            s"""{"stage":$sid,"wall_s":${wall(st.submitted, st.completed)},"tasks":${st.tasks},""" +
              s""""task_ms":${st.taskMs},"gc_ms":${st.gcMs},"name":${Json.str(st.name)}}"""
          }
        s"""{"job":$id,"wall_s":${wall(j.started, j.ended)},"desc":${Json.str(j.desc)},""" +
          s""""stages":${top.mkString("[", ",", "]")}}"""
      }.mkString("[", ",", "]")
    }
  }
}
