package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.StructType

/** Source/sink layer.
  *
  * Reference: update_raw (StationBases.py:1021) normalizes and upserts
  * DWD CDC files into per-station tables. Here ingest is
  * file-to-DataFrame with explicit schemas (never inference on big
  * data), dedup-keep-latest normalization, and bucketed parquet output
  * so downstream per-station operators read co-partitioned data
  * without a shuffle.
  */
object Sources {

  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** CSV with explicit schema — schema inference would scan 100 TB
    * twice. */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true): DataFrame =
    spark.read.schema(schema).option("header", header.toString).csv(path)

  /** JSON-lines with explicit schema. */
  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Order-independent content checksum of the events table — the
    * data-integrity primitive of a 100 TB copy/migration: verify
    * source and destination hold the same rows WITHOUT sorting either
    * side. Each row serializes canonically (floats as scaled
    * integers — never engine-dependent float formatting), hashes with
    * the deterministic polynomial hash, and reduces with
    * order-independent aggregates:
    *  - `xor_hash`  — bit_xor of row hashes (any single changed row
    *    flips it; insensitive to duplicate-pair insertions),
    *  - `sum_hash`  — modular sum of row hashes (catches what xor
    *    misses: a row inserted twice),
    *  - `n_rows`.
    * Plan: map-side partial aggregation only — the network carries one
    * 3-field partial per partition, nothing else. */
  def tableChecksum(events: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(events.sparkSession)
    val canon = concat_ws("|",
      col("event_id"), unix_micros(col("ts")), col("user_id"), col("event_type"),
      expr("cast(round(value * cast(1000000 as double) + 1e-9, 0) as bigint)"),
      col("props"))
    events
      .withColumn("c", canon)
      .withColumn("h", expr("graft_polyhash(c)"))
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(h)").as("xor_hash"),
        (sum(col("h").cast("decimal(38,0)")) % lit(1000000007L))
          .cast("long").as("sum_hash_mod"))
  }

  /** Ingest normalization: exact-duplicate rows collapse; conflicting
    * measurements for the same (station, timestamp) resolve to the
    * latest import (highest event_id) — the reference's
    * ON CONFLICT DO UPDATE upsert semantics. */
  def ingestDedup(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("ts")).orderBy(col("event_id").desc)
    events.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** Bucketed, sorted parquet table: downstream joins/windows keyed on
    * bucketCol become shuffle-free scans. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      nBuckets: Int = 32, basePath: String = "spark-warehouse"): Unit =
    df.write.mode("overwrite")
      .bucketBy(nBuckets, bucketCol).sortBy(bucketCol)
      .option("path", s"$basePath/$table")
      .saveAsTable(table)

  /** Bucketed-table ingest round-trip — the storage-side co-location
    * contract: events write as a bucketed+sorted parquet table (8
    * buckets on user_id) through [[writeBucketed]], read back via the
    * catalog, and the user_id-keyed aggregates + join consume the
    * bucketing so NO exchange appears in the plan (SourcesSpec pins
    * the shuffle-free plan on the registered query): bucketing
    * pre-pays the shuffle once at write time, and at 100 TB every
    * downstream keyed join/agg on the bucket column reuses it.
    * Output checksums are integer-exact (counts, id sums, truncated
    * value cents — order-independent), so the oracle computes them
    * straight off the parquet the table was written from. */
  def bucketedRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = graft.core.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("value"))
    val wh = graft.core.Scratch.runDir(spark, "bucket", sfDir)
    val sfx = Integer.toHexString(sfDir.hashCode)
    val ta = s"graft_ev_bucket_a_$sfx"; val tb = s"graft_ev_bucket_b_$sfx"
    writeBucketed(ev, ta, "user_id", nBuckets = 8, basePath = wh)
    writeBucketed(ev.filter(col("event_id") % 2 === 0), tb, "user_id",
      nBuckets = 8, basePath = wh)
    val a = spark.table(ta).groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("event_id")).as("sum_ids"),
        sum((col("value") * 100).cast("long")).as("value_cents"))
    val b = spark.table(tb).groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_even_events"))
    a.join(b, Seq("user_id"))
      .select(col("user_id"), col("n_events"), col("sum_ids"),
        col("value_cents"), col("n_even_events"))
  }

  /** JSONL round-trip fidelity check over the documents table — JSONL
    * is THE corpus interchange format of LLM training pipelines, and
    * the property that matters is losslessness: every code point,
    * quote, backslash and newline must survive write → escape → parse.
    * The corpus text is plain prose, so each doc also gets a
    * `payload` column synthesized deterministically from its own
    * fields with the hostile characters baked in (quote, backslash,
    * newline, tab, and non-ASCII BMP code points) — both engines
    * build the identical string, but ONLY the Spark side routes it
    * through an actual JSONL write+read; the oracle checksums the
    * synthesized column directly, so any escaping defect shows up as
    * a checksum mismatch.
    *
    * Scale shape: the write and read are both fully distributed file
    * scans (one task per split, no driver involvement); the checksum
    * is a keyed aggregation with map-side combine down to #sources
    * rows. */
  def jsonlRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val payload = concat(
      lit("\""), substring(col("text"), 1, 40),
      lit("\\"), lit("\n"), col("lang"), lit("\t"),
      lit("äπ中"), col("n_chars").cast("string"))
    val docs = graft.core.Tables.documents(spark, sfDir)
      .withColumn("payload", payload)
    val tmp = graft.core.Scratch.runDir(spark, "jsonl", sfDir)
    docs.write.mode("overwrite").json(tmp)
    val back = spark.read.schema(docs.schema).json(tmp)
    back.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_ids"),
        sum(col("n_chars")).as("sum_chars"),
        sum(expr("graft_polyhash(text)")).as("text_sum"),
        sum(expr("graft_polyhash(payload)")).as("payload_sum"))
  }

  /** Gzip-compressed JSONL round-trip — the wire format crawl dumps
    * actually arrive in (.jsonl.gz): a real distributed gzip write
    * (one .json.gz part per task through the Hadoop codec) and a
    * schema-pinned read-back that must decompress transparently; the
    * per-source checksums (including polyhash of a hostile escaped
    * payload) must equal the oracle's computed straight off parquet.
    * The payload salt differs from [[jsonlRoundtrip]] (48-char slice,
    * 3× char count) so the two ingest queries cannot accidentally
    * share results.
    *
    * Scale note: gzip members are NOT splittable — one task per file
    * on read. That is the real trade-off at 100 TB: the distributed
    * writer shards into many parts (parallelism preserved across
    * files, not within one), exactly how production .jsonl.gz corpora
    * are laid out; a single giant .gz would serialize the scan. */
  def jsonlGzRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val payload = concat(
      lit("\""), substring(col("text"), 1, 48),
      lit("\\"), lit("\n"), col("lang"), lit("\t"),
      lit("äπ中"), (col("n_chars") * 3).cast("string"))
    val docs = graft.core.Tables.documents(spark, sfDir)
      .withColumn("payload", payload)
    val tmp = graft.core.Scratch.runDir(spark, "jsonlgz", sfDir)
    docs.write.mode("overwrite").option("compression", "gzip").json(tmp)
    val back = spark.read.schema(docs.schema).json(tmp)
    back.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_ids"),
        sum(col("n_chars")).as("sum_chars"),
        sum(expr("graft_polyhash(text)")).as("text_sum"),
        sum(expr("graft_polyhash(payload)")).as("payload_sum"))
  }

  /** CSV round-trip fidelity — the quoting/escaping gauntlet for the
    * other interchange format pipelines actually receive: a hostile
    * payload (embedded quote, comma, newline, backslash, tab,
    * multi-byte unicode) rides a real distributed CSV write
    * (quote-escaped) and schema-pinned read-back; the per-source
    * checksums must equal the oracle's computed straight off parquet.
    * Any quoting or multiline-parse loss breaks the hash match.
    *
    * Scale shape: identical to [[jsonlRoundtrip]] — distributed write
    * + scan, map-combined keyed checksum. (`multiLine` read is
    * per-file; quoted-newline CSV is not splittable — a real 100 TB
    * pipeline shards by writing many files, which the distributed
    * writer already does.) */
  def csvRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val payload = concat(
      lit("\""), substring(col("text"), 1, 40),
      lit(","), lit("\\"), lit("\n"), col("lang"), lit("\t"),
      lit("äπ中"), col("n_chars").cast("string"))
    val docs = graft.core.Tables.documents(spark, sfDir)
      .withColumn("payload", payload)
    val tmp = graft.core.Scratch.runDir(spark, "csv", sfDir)
    docs.write.mode("overwrite")
      .option("header", "true").option("escape", "\"")
      .csv(tmp)
    val back = spark.read.schema(docs.schema)
      .option("header", "true").option("escape", "\"")
      .option("multiLine", "true")
      .csv(tmp)
    back.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_ids"),
        sum(col("n_chars")).as("sum_chars"),
        sum(expr("graft_polyhash(text)")).as("text_sum"),
        sum(expr("graft_polyhash(payload)")).as("payload_sum"))
  }

  /** Day-partitioned parquet layout — the 100 TB raw-store convention
    * (the reference's per-station tables keyed by time): one directory
    * per day value, so ANY time-ranged query prunes to its days at
    * PLANNING time (PartitionFilters in the scan — zero I/O for
    * excluded days, no footer reads, no tasks). Incremental ingest
    * appends new day directories without touching existing ones, which
    * is what makes the streaming update cycle's per-batch slice read
    * O(batch), not O(history). */
  def writePartitioned(df: DataFrame, path: String,
      partitionCol: String = "day"): Unit =
    df.write.mode("overwrite").partitionBy(partitionCol).parquet(path)

  /** MERGE-INTO-style keyed upsert into a day-partitioned parquet
    * table (the Delta/Iceberg MERGE shape on plain parquet): rows of
    * `updates` replace existing rows with the same key, new keys
    * append — and ONLY the partitions present in `updates` are
    * rewritten. Untouched history never moves, which is the entire
    * point at 100 TB: a daily correction batch touching 3 days
    * rewrites 3 partition directories, not the table.
    *
    * Mechanics: touched partitions are the update batch's partitions
    * PLUS any partition still holding an old version of an updated key
    * (a date correction moves a row ACROSS partitions — the old
    * partition must be rewritten too or the key would survive twice;
    * finding those takes one keyed semi-join pass over the table, the
    * same find-touched-files scan Delta's MERGE runs). The existing
    * rows of touched partitions are then read under a partition-pruned
    * scan (semi join against the broadcast O(#touched-days) day list —
    * planning-time pruning, zero I/O for untouched days), old versions
    * of updated keys drop via one keyed anti join, the union with
    * `updates` is materialized (localCheckpoint — Spark cannot
    * overwrite a path it is still reading lazily), and the write uses
    * DYNAMIC partition overwrite so exactly the touched day
    * directories swap. */
  def mergeUpsert(spark: SparkSession, path: String, updates: DataFrame,
      keyCols: Seq[String], partitionCol: String = "day"): Unit = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val table = spark.read.parquet(path)
    val updKeys = updates.select(keyCols.map(col): _*).distinct()
    val movedParts = table.join(updKeys, keyCols, "left_semi")
      .select(partitionCol).distinct()
    // snapshot the touched-day list BEFORE the overwrite: the frame is
    // lazily derived from the table being rewritten, and the vacated
    // diff below must see the PRE-write partition set
    val touched = updates.select(partitionCol).union(movedParts).distinct()
      .localCheckpoint(true)
    val existing = table
      .join(broadcast(touched), Seq(partitionCol), "left_semi")
    val merged = existing
      .join(updKeys, keyCols, "left_anti")
      .unionByName(updates.select(existing.columns.map(col): _*))
      .localCheckpoint(true)
    merged.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol).parquet(path)
    // dynamic overwrite only replaces partitions PRESENT in the output:
    // a partition whose every row moved away (a date correction
    // vacating a day) has zero merged rows and would silently keep its
    // stale directory — delete vacated touched partitions explicitly.
    // Both frames are O(#touched-days); the collect is a dim-sized list.
    val vacated = touched.select(col(partitionCol).cast("string"))
      .except(merged.select(col(partitionCol).cast("string")))
      .collect().map(_.getString(0))
    if (vacated.nonEmpty) {
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      vacated.foreach { v =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/$partitionCol=$v"), true)
      }
    }
  }

  /** Small-file compaction: rewrite a (flat) parquet dataset into
    * ≈`targetMB` files — the maintenance pass every long-lived 100 TB
    * table needs after streaming/incremental ingest leaves thousands
    * of tiny files (each costing a footer read + a scheduler task per
    * scan). File COUNT comes from the filesystem's size summary (a
    * driver-side STATUS listing; no data moves through the driver);
    * the rewrite is one distributed round-robin repartition. Writes to
    * a sibling tmp dir and swaps, so a failed compaction never
    * destroys the source. Day-partitioned layouts compact per
    * partition dir instead (pass the partition path), keeping the
    * directory pruning contract intact. Returns the target file
    * count. */
  def compact(spark: SparkSession, path: String, targetMB: Int = 128): Int = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(p).getLength
    val nFiles = math.max(1, math.ceil(bytes.toDouble / (targetMB.toLong << 20)).toInt)
    val tmp = new org.apache.hadoop.fs.Path(path.stripSuffix("/") + "__compact_tmp")
    spark.read.parquet(path).repartition(nFiles)
      .write.mode("overwrite").parquet(tmp.toString)
    fs.delete(p, true)
    if (!fs.rename(tmp, p)) throw new java.io.IOException(
      s"compaction swap failed: $tmp -> $p (source removed, data in tmp)")
    nFiles
  }

  /** Z-order clustered parquet layout: rows sorted along a Morton
    * curve over TWO query dimensions, so per-file (and per-row-group)
    * min/max stats stay tight on BOTH columns — a 2-D range query
    * prunes to ~O(√files) instead of scanning every file the way a
    * single-column sort forces for the second dimension. This is the
    * data-skipping convention (Delta/Iceberg OPTIMIZE ZORDER) for the
    * "filter by station AND time" / "user AND time" shape that
    * dominates the reference's raw-store access.
    *
    * Mechanics: each column is affinely scaled to 20-bit code space
    * from its (min, max) — a 4-scalar collect, the repo's tiny-dim
    *  exception — then the native codegen'd
    * [[graft.functions.InterleaveBits]] builds the 40-bit z-code,
    * `repartitionByRange` range-partitions on it (one sampling pass;
    * file count = nFiles) and rows sort by z within each partition.
    * Everything is one distributed sort — no driver data path. */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
      nFiles: Int = 32): Unit = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val s = df.agg(
      min(col(colA).cast("double")), max(col(colA).cast("double")),
      min(col(colB).cast("double")), max(col(colB).cast("double"))).head()
    if (s.isNullAt(0)) { // empty input: nothing to cluster, write as-is
      df.write.mode("overwrite").parquet(path)
      return
    }
    def scale(c: String, lo: Double, hi: Double): String = {
      val span = math.max(hi - lo, java.lang.Double.MIN_NORMAL)
      s"CAST((CAST($c AS DOUBLE) - ${lo}D) / ${span}D * ${(1 << 20) - 1} AS BIGINT)"
    }
    df.withColumn("__z", expr(s"graft_interleave_bits(" +
        s"${scale(colA, s.getDouble(0), s.getDouble(1))}, " +
        s"${scale(colB, s.getDouble(2), s.getDouble(3))})"))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** ORC round-trip fidelity — the columnar sibling of the CSV/JSONL
    * gauntlets: the same hostile payload PLUS a typed bigint-array
    * column (a type CSV structurally cannot carry; ORC must preserve
    * it exactly through its own encoder/decoder stack). Checksums of
    * the read-back must equal the oracle's computed straight off
    * parquet.
    *
    * Plan: one distributed write + schema-self-describing read, one
    * keyed checksum aggregate — Spark's third columnar format
    * exercised end-to-end. */
  def orcRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.functions.GraftFunctions.register(spark)
    val payload = concat(
      lit("\""), substring(col("text"), 1, 40),
      lit(","), lit("\\"), lit("\n"), col("lang"), lit("\t"),
      lit("äπ中"), col("n_chars").cast("string"))
    val docs = graft.core.Tables.documents(spark, sfDir)
      .withColumn("payload", payload)
      .withColumn("h_arr",
        expr("array(graft_polyhash(text), cast(n_chars AS bigint), cast(doc_id AS bigint))"))
    val tmp = graft.core.Scratch.runDir(spark, "orc", sfDir)
    docs.write.mode("overwrite").orc(tmp)
    val back = spark.read.orc(tmp)
    back.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_ids"),
        sum(expr("graft_polyhash(text)")).as("text_sum"),
        sum(expr("graft_polyhash(payload)")).as("payload_sum"),
        sum(expr("aggregate(h_arr, 0L, (a, x) -> a + x)")).as("arr_sum"))
  }
}
