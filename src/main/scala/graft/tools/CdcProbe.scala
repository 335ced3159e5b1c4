package graft.tools

import org.apache.spark.sql.functions._

/** Dev probe for the CDC chunking hot path: times the round-7 composed
  * filter/transform form (quadratic in practice — CollapseProject
  * inlines the O(n) boundary filter into the extraction lambda, so it
  * re-runs per chunk; at sf0.1 it blew the census broadcast's 300 s
  * timeout) against the native one-pass graft_cdc_chunks expression,
  * and asserts the two produce identical chunk streams on a slice. */
object CdcProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.core.Session.contract()
    graft.functions.GraftFunctions.register(spark)
    val docs = graft.core.Tables.documents(spark, sfDir)
    def t[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[cdc] $name%-34s ${(System.nanoTime() - t0) / 1e9}%8.2f s -> $r"); r
    }
    val B = 257L; val P = 1000003L
    val c3 = B * B * B % P; val c2 = B * B % P
    val h = s"((ascii(substring(text, i - 3, 1)) * ${c3}L" +
      s" + ascii(substring(text, i - 2, 1)) * ${c2}L" +
      s" + ascii(substring(text, i - 1, 1)) * ${B}L" +
      s" + ascii(substring(text, i, 1))) % ${P}L)"
    def composed(df: org.apache.spark.sql.DataFrame) = df
      .filter(length(col("text")) > 0)
      .withColumn("bounds", expr(
        s"CASE WHEN length(text) >= 4 THEN " +
          s"filter(sequence(4, length(text)), i -> $h % 16 = 0 AND i < length(text)) " +
          "ELSE array() END"))
      .withColumn("starts", expr("concat(array(1), transform(bounds, b -> b + 1))"))
      .withColumn("ends", expr("concat(bounds, array(length(text)))"))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(starts))," +
          " k -> substring(text, starts[k - 1], ends[k - 1] - starts[k - 1] + 1))")).as("chunk"))
    def native(df: org.apache.spark.sql.DataFrame) = df
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), explode(expr("graft_cdc_chunks(text, 16)")).as("chunk"))
    val slice = docs.limit(200).persist(); slice.count()
    val a = t("composed form, 200-doc slice")(composed(slice).count())
    val b = t("native form, 200-doc slice")(native(slice).count())
    require(a == b, s"chunk count mismatch $a vs $b")
    val diff = t("equivalence (exceptAll both ways)")(
      composed(slice).exceptAll(native(slice)).count() +
        native(slice).exceptAll(composed(slice)).count())
    require(diff == 0, s"$diff differing chunk rows")
    slice.unpersist()
    t(s"native form, full $sfDir")(native(docs).count())
    t("full q_cdc_chunks query")(graft.text.TextAnalysis.cdcChunks(docs).count())
    spark.stop()
  }
}
