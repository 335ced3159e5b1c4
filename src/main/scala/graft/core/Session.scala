package graft.core

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory of every graft main and of the test
  * fixture. Two profiles, both in local mode with one shuffle
  * partition per core, UTC session time, `nanosAsLong` for the old
  * nanosecond `ts` encoding, the UI off, and the sort shuffle writer:
  *
  *  - [[contract]]: the bench contract — the session every timing,
  *    plan audit and probe runs in, so a measured plan is the benched
  *    plan;
  *  - [[adaptive]]: AQE at its default (on) — correctness and recall
  *    must be exercised under the adaptive plans a real deployment
  *    runs; only the latency-focused harness disables it.
  *
  * The library itself sets no session config.
  */
object Session {
  /** Local cores: `SPARK_GRAFT_CPUS`, else the machine's available
    * processors. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The bench-contract session; `conf` is layered over it before the
    * session starts (the profiler's A/B path for session settings). */
  def contract(conf: Map[String, String] = Map.empty): SparkSession =
    start(cpus, Seq(
      // Session tuning for BENCH scale: with ≤ sf0.1 inputs and a fixed
      // one-partition-per-core layout, AQE's per-stage re-optimization
      // is pure scheduling overhead (~20% of total at 32 cores) and its
      // benefits — partition coalescing, skew-join splitting — only
      // materialize on large shuffles. A cluster deployment at real
      // scale runs with AQE on.
      "spark.sql.adaptive.enabled" -> "false",
      // allow co-partitioned joins on a SUBSET of the join keys: the
      // engine's frames are all hash-partitioned by station_id, and its
      // (station_id, day) joins are correct under that partitioning —
      // with this flag EnsureRequirements recognizes it and the QC/fill
      // pipeline runs with a single big-frame shuffle end-to-end
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
      // Shuffle/spill scratch on the RAM-backed tmpfs when Scratch
      // elects it: thread dumps show map tasks serializing on the
      // per-shuffle commit (index write + data-file rename under a key
      // lock) — metadata ops a real cluster spreads over many
      // executors' local disks land on ONE slow device here.
      "spark.local.dir" -> new java.io.File(Scratch.root, "graft_spark_local").getPath
    ) ++ conf)

  /** A session with AQE at its default; `cores` defaults to [[cpus]]. */
  def adaptive(cores: Int = cpus): SparkSession = start(cores, Nil)

  private def start(cores: Int, conf: Seq[(String, String)]): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Sort-based shuffle writer at every reducer count: the default
      // bypass-merge writer opens one file PER REDUCE PARTITION per map
      // task — M×R tiny shuffle files per exchange — which on a single
      // local disk serializes every stage on file creation (thread
      // dumps show most task threads inside FileOutputStream.open0,
      // and per-task time inflates ~10× at local[32] vs local[8]). A
      // real cluster never takes the bypass path (it requires ≤200
      // reduce partitions), so forcing the sort writer also makes the
      // measured shuffle path the at-scale one: one data+index file
      // pair per map task instead of R files.
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
