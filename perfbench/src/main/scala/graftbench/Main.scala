package graftbench

import java.io.{File, PrintWriter}
import org.apache.spark.sql.SparkSession

/** Benchmark process: one workload, one JVM.
  *
  * Usage: `Main <workload> key=value...` with keys `data` (generated
  * inputs), `out` (result directory), `scratch` (every file the run
  * writes), `seconds`, `trace` (0|1), `seed`, `cores`, `setups`.
  * Writes `result.json` (timings, counts, per-layer records),
  * `oracle_sql.json` (the registered oracle SQL for every output saved
  * under `outputs/`), `spans.jsonl` and `plans/` when traced.
  * Workload sizes come as further keys (see run.py).
  * `Main oracle-sql out=<dir> names=a,b` only writes the oracle SQL. */
object Main {
  def main(argv: Array[String]): Unit = {
    val workload = argv.head
    val kv = argv.tail.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val out = new File(kv("out")); out.mkdirs()
    if (workload == "oracle-sql") {
      writeOracleSql(out, kv("names").split(",").toSeq)
      return
    }
    val cfg = Config(workload, kv("data"), out, new File(kv("scratch")), kv("seconds").toDouble,
      kv("trace") == "1", kv("seed").toLong, kv("cores").toInt, kv("setups").toInt, kv)
    val result = Workloads(cfg).run()
    Json.write(new File(out, "result.json"), result)
    sys.exit(0)
  }

  def writeOracleSql(out: File, names: Seq[String]): Unit = {
    val all = graft.SparkEntry.oracleSql
    Json.write(new File(out, "oracle_sql.json"), names.map(n => n -> all(n)).toMap)
  }
}

final case class Config(workload: String, data: String, out: File, scratch: File,
    seconds: Double, traced: Boolean, seed: Long, cores: Int, setups: Int,
    params: Map[String, String])

/** The session every workload runs in: graft.Bench's contract settings
  * (AQE off, sort shuffle writer, subset co-partitioning), with every
  * scratch location inside the benchmark's scratch directory. */
object Session {
  def start(cfg: Config): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${cfg.cores}]")
      .config("spark.sql.shuffle.partitions", cfg.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.local.dir", new File(cfg.scratch, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(cfg.scratch, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  val settings: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.shuffle.sort.bypassMergeThreshold" -> "1",
    "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
    "spark.sql.session.timeZone" -> "UTC")
}

/** Minimal JSON writer for the result records (maps, sequences,
  * options, strings, numbers, booleans). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def write(f: File, v: Any): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try w.println(apply(v)) finally w.close()
  }
}
