package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: head-to-head of the two as-of join routes (composed
  * union+window vs native streaming-merge exec) on a synthetic frame
  * whose size is an argument — the crossover experiment behind the
  * SURVEY §4 claims. Usage: runMain graft.AsOfBench [leftRows] [rightRows] */
object AsOfBench {
  def main(args: Array[String]): Unit = {
    val nL = if (args.length > 0) args(0).toLong else 5000000L
    val nR = if (args.length > 1) args(1).toLong else 2000000L
    val spark = graft.core.Session.contract()
    val keys = 10000L
    val payload = if (args.length > 2) args(2).toInt else 6
    // events: (event_id, user_id, ts); orders: (o_orderkey, o_custkey, o_orderdate)
    // + `payload` extra columns per side: realistic row width — the
    // composed route's union exchange carries BOTH sides' payloads
    // (null-padded) on every row, the native route only each side's own
    def widen(df: DataFrame, tag: String): DataFrame =
      (0 until payload).foldLeft(df)((d, i) =>
        d.withColumn(s"${tag}_p$i", (col(df.columns.head) * (i + 3)).cast("double")))
    val left = widen(spark.range(nL).select(col("id").as("event_id"),
      pmod(col("id") * 2654435761L, lit(keys)).as("user_id"),
      timestamp_seconds(lit(1600000000L) + pmod(col("id") * 40503L, lit(86400L * 365))).as("ts")), "l")
    val right = widen(spark.range(nR).select(col("id").as("o_orderkey"),
      pmod(col("id") * 968665207L, lit(keys)).as("o_custkey"),
      timestamp_seconds(lit(1600000000L) + pmod(col("id") * 69621L, lit(86400L * 365))).as("o_orderdate")), "r")
    // both routes return: all left columns + the matched right row's
    // (o_orderkey + right payloads) — what a user of an as-of join gets
    val rightCols = right.columns.filterNot(_ == "o_custkey").filterNot(_ == "o_orderdate")
    def composed(): DataFrame = {
      // same shape as Queries.qAsofJoin: union, window last(ignoreNulls);
      // the matched right row travels as ONE struct so a single window
      // function covers all right columns
      val rrowType = org.apache.spark.sql.types.StructType(
        rightCols.map(c => right.schema(c)))
      val l = left.select(col("user_id").as("k") +: col("ts").as("t") +:
        lit(null).cast(rrowType).as("rrow") +:
        lit(1).as("src") +: left.columns.map(col): _*)
      val r = right.select(col("o_custkey").as("k") +: col("o_orderdate").as("t") +:
        struct(rightCols.map(col): _*).as("rrow") +: lit(0).as("src") +:
        left.columns.map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("k"))
        .orderBy(col("t"), col("src"), col("rrow.o_orderkey"))
        .rowsBetween(Long.MinValue, 0)
      l.unionByName(r)
        .withColumn("m", last(col("rrow"), ignoreNulls = true).over(w))
        .filter(col("src") === 1)
        .select(left.columns.map(col) :+ col("m.*"): _*)
    }
    def native(): DataFrame =
      graft.plans.AsOf.join(left, right,
          "user_id", "ts", "o_custkey", "o_orderdate", tiebreak = Seq("o_orderkey"))
        .select(left.columns.map(col) ++ rightCols.map(col): _*)
    def time(name: String, f: () => DataFrame): Unit = {
      for (i <- 1 to 3) {
        val t0 = System.nanoTime()
        // noop sink: count() would prune the window out of the composed plan
        f().write.format("noop").mode("overwrite").save()
        println(f"$name%-9s run$i ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      }
    }
    println(s"leftRows=$nL rightRows=$nR keys=$keys")
    time("composed", composed _)
    time("native", native _)
    time("composed", composed _)
    spark.stop()
  }
}
