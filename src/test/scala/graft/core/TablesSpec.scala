package graft.core

import graft.{Observe, SparkSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** Loader normalization guard.
  *
  * The driver has already changed the physical encoding of
  * events.parquet `ts` once mid-run (long TIMESTAMP(NANOS) →
  * parquet timestamp[us]/TIMESTAMP_NTZ), which silently broke every
  * `unix_micros(ts)` call site for two rounds. This spec pins the
  * loader contract: whatever the driver writes, `Tables.events`
  * must hand operators a plain UTC TimestampType — and must fail
  * loudly (require) rather than pass an unknown encoding through.
  */
class TablesSpec extends SparkSpec with Observe {

  private val sfDirs =
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")

  test("events.ts normalizes to TimestampType on every sf dir") {
    for (dir <- sfDirs) {
      val df = Tables.events(spark, dir)
      assert(df.schema("ts").dataType == TimestampType,
        s"$dir: ts is ${df.schema("ts").dataType}, expected TimestampType")
    }
  }

  test("every table keeps the dtypes the operator suite assumes") {
    import org.apache.spark.sql.types._
    // the columns whose physical encoding a future driver change could
    // silently shift (the events.ts incident, generalized): numeric
    // keys stay integral, value/embedding stay floating, text stays
    // string. A change here must fail THIS test, not 50 queries.
    val expectations: Seq[(String, String, DataType => Boolean)] = Seq(
      ("events", "user_id", _.isInstanceOf[LongType]),
      ("events", "value", _.isInstanceOf[DoubleType]),
      ("events", "props", _.isInstanceOf[StringType]),
      ("documents", "doc_id", _.isInstanceOf[LongType]),
      ("documents", "text", _.isInstanceOf[StringType]),
      ("documents", "source", _.isInstanceOf[StringType]),
      ("embeddings", "vec_id", _.isInstanceOf[LongType]),
      ("embeddings", "embedding",
        dt => dt match {
          case ArrayType(FloatType, _) => true
          case _ => false
        }),
      ("lineitem", "l_quantity", dt =>
        dt.isInstanceOf[DoubleType] || dt.isInstanceOf[DecimalType]),
      ("orders", "o_orderdate", dt =>
        dt.isInstanceOf[DateType] || dt.isInstanceOf[TimestampType]))
    for (dir <- sfDirs; (table, col0, ok) <- expectations) {
      val dt = Tables.load(spark, dir, table).schema(col0).dataType
      assert(ok(dt), s"$dir/$table.$col0: unexpected dtype $dt")
    }
  }

  test("normalized ts supports unix_micros and bigint cast") {
    // the two access patterns the NTZ regression broke
    val df = Tables.events(spark, "/root/testdata/sf0.001")
      .select(unix_micros(col("ts")).as("us"), col("ts").cast("long").as("s"))
    val row = df.agg(min("us"), min("s")).head()
    assert(!row.isNullAt(0) && !row.isNullAt(1))
    assert(row.getLong(0) / 1000000L == row.getLong(1),
      "unix_micros and bigint-cast must agree on the same instant")
  }

  test("the corpus tables load under pinned schemas without a job") {
    for (dir <- sfDirs) {
      val (_, jobs) = observe {
        Tables.documents(spark, dir); Tables.embeddings(spark, dir)
        spark.emptyDataFrame.collect()
      }
      assert(jobs === 0, s"$dir: loading the corpus tables ran $jobs jobs")
    }
  }

  private val dirs = scala.collection.mutable.ListBuffer.empty[java.io.File]

  override def afterAll(): Unit = {
    dirs.foreach(org.apache.commons.io.FileUtils.deleteQuietly)
    super.afterAll()
  }

  /** A tmp directory holding `df` as `name`.parquet. */
  private def written(name: String, df: org.apache.spark.sql.DataFrame): String = {
    dirs += java.nio.file.Files.createTempDirectory("graft-tables").toFile
    df.write.parquet(s"${dirs.last}/$name.parquet")
    dirs.last.getPath
  }

  test("a corpus table missing a column fails the load") {
    val sf = sfDirs.head
    val docs = written("documents", Tables.documents(spark, sf).drop("n_chars"))
    val e = intercept[IllegalArgumentException](Tables.documents(spark, docs))
    assert(e.getMessage.contains("n_chars"), e.toString)
    val embs = written("embeddings", Tables.embeddings(spark, sf).drop("label"))
    val f = intercept[IllegalArgumentException](Tables.embeddings(spark, embs))
    assert(f.getMessage.contains("label"), f.toString)
  }

  test("a corpus table column stored in another type fails the scan") {
    val sf = sfDirs.head
    val docs = written("documents",
      Tables.documents(spark, sf).withColumn("doc_id", col("doc_id").cast("string")))
    val e = intercept[Exception](Tables.documents(spark, docs).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("doc_id")), e.toString)
  }
}
