package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.graft.GraftSqlBridge
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Global running order without a single-partition sort: the one
  * spelling of the row number and running sums that a global
  * `Window.orderBy` would otherwise compute in one task. */
object Ordinals {

  /** `df`'s rows with `ord`, the 1-based row number under `order`;
    * `cum_<c>`, the running sum of each long column `c` in `sums` over
    * rows from the first to the current one; and `n` and `tot_<c>`, the
    * row count and the totals. A NULL adds nothing. Rows that tie on
    * `order` take consecutive ordinals in an unspecified order, so a
    * caller that needs one answer gives a total order.
    *
    * The method of `RDD.zipWithIndex`: `df` is range-partitioned and
    * sorted within partitions on `order` once, one job sums the count
    * and `sums` of each partition, and one streaming pass adds each
    * partition's exclusive prefix to its rows. Building the frame runs
    * two jobs: the range partitioner's sample and the totals (under
    * AQE also the map stage, which the totals job otherwise runs).
    * The action over the result reads the same shuffle output, so it
    * skips the map stage. Nothing is persisted or checkpointed, so
    * there is nothing to release. */
  def running(df: DataFrame, order: Seq[Column], sums: String*): DataFrame = {
    val sorted = df.repartitionByRange(order: _*).sortWithinPartitions(order: _*)
    val idx = sums.map(sorted.schema.fieldIndex).toArray
    for (i <- idx) require(sorted.schema(i).dataType == LongType,
      s"running sum over non-long column ${sorted.schema(i).name}")
    // adds a row to (row count, sum of each column)
    val add = (acc: Array[Long], r: InternalRow) => {
      acc(0) += 1
      for (j <- idx.indices if !r.isNullAt(idx(j))) acc(j + 1) += r.getLong(idx(j))
    }
    val rows = sorted.queryExecution.toRdd
    val parts = df.sparkSession.sparkContext.runJob(rows, (it: Iterator[InternalRow]) => {
      val acc = new Array[Long](idx.length + 1)
      it.foreach(add(acc, _))
      acc
    })
    val starts = parts.scanLeft(new Array[Long](idx.length + 1))(
      (a, b) => a.zip(b).map { case (x, y) => x + y })
    val totals = starts.last
    val added = ("ord" +: sums.map("cum_" + _)) ++ ("n" +: sums.map("tot_" + _))
    val schema = StructType(sorted.schema.fields ++
      added.map(StructField(_, LongType, nullable = false)))
    val out = rows.mapPartitionsWithIndex[InternalRow] { (p, it) =>
      val run = starts(p).clone()
      val extra = new GenericInternalRow(2 * run.length)
      for (j <- totals.indices) extra.setLong(run.length + j, totals(j))
      val joined = new JoinedRow
      it.map { r =>
        add(run, r)
        for (j <- run.indices) extra.setLong(j, run(j))
        joined(r, extra)
      }
    }
    GraftSqlBridge.ofRdd(df.sparkSession, out, schema)
  }
}
