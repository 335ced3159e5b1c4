package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-provided parquet tables.
  *
  * Mirrors the reference's per-table access layer
  * (weatherdb/db/connections.py) but as plain Spark reads: predicate
  * pushdown and column pruning are left to the parquet datasource, and
  * so is schema discovery, except for the corpus tables, whose schemas
  * are pinned.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The driver writes timestamps as parquet timestamp[us] with
    * isAdjustedToUTC=false, which Spark reads as TIMESTAMP_NTZ. The
    * engine computes in plain UTC TimestampType everywhere (sessions
    * pin spark.sql.session.timeZone=UTC), so normalize every NTZ
    * column at the loader — one cast node per column, folded into the
    * scan's projection, never a per-row cost. */
  private def normalizeNtz(df: DataFrame): DataFrame =
    df.schema.fields.collect {
      case f if f.dataType == TimestampNTZType => f.name
    }.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast(TimestampType)))

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    normalizeNtz(spark.read.parquet(s"$dir/$name.parquet"))

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** The driver has shipped events.parquet `ts` in several physical
    * encodings across rounds: TIMESTAMP(NANOS) (read as long nanos via
    * `spark.sql.legacy.parquet.nanosAsLong`), and parquet
    * `timestamp[us]` with isAdjustedToUTC=false (read as
    * TIMESTAMP_NTZ). Normalize every encoding to a plain UTC
    * TimestampType here — every downstream operator (`unix_micros`,
    * `cast(ts as bigint)`, window banding) requires it — and fail
    * loudly if a future driver format change introduces a new one. */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = load(s, d, "events") // NTZ already normalized by load
    val normalized = df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _        => df
    }
    require(normalized.schema("ts").dataType == TimestampType,
      s"events.ts must normalize to TimestampType, got ${df.schema("ts").dataType} " +
        "— a driver data-format change needs a new branch in Tables.events")
    normalized
  }
  /** Small parquet files arrive as one split, which would serialize
    * the expensive per-document hash/vector projections onto a single
    * core; spread them across the session's parallelism. Decided from
    * driver-side file metadata ONLY (inputFiles + FS stat) — never by
    * materializing an RDD lineage at plan-build time. At cluster
    * scale real inputs are either many files (first branch) or large
    * ones the scan already splits at maxPartitionBytes (second
    * branch) — both no-ops. */
  def ensureParallelism(s: SparkSession, df: DataFrame): DataFrame = {
    val target = s.sparkContext.defaultParallelism
    val files = df.inputFiles
    if (files.length >= target) df
    else {
      val conf = s.sparkContext.hadoopConfiguration
      val total = files.map { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(conf).getFileStatus(p).getLen
      }.sum
      // only a genuinely small input (sub-one-split at the default
      // 128 MB parquet split size) needs spreading; a big few-file
      // input already splits inside the scan
      if (total < 128L * 1024 * 1024) df.repartition(target) else df
    }
  }

  /** The corpus tables, read under the schemas the test data stores
    * them in (no schema-inference job per call); a missing column fails
    * the call, a column stored in another type the first scan. */
  private val corpus = new Artifact(
    "documents.parquet" -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings.parquet" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")

  def documents(s: SparkSession, d: String): DataFrame =
    ensureParallelism(s, corpus.read(s, d, "documents.parquet"))
  def embeddings(s: SparkSession, d: String): DataFrame =
    ensureParallelism(s, corpus.read(s, d, "embeddings.parquet"))
}
