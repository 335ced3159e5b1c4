package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Same-frame pair enumeration, shared by every near-duplicate
  * candidate generator. */
object Pairs {

  /** Every pair of `rows` that agree on all `keys` columns, as
    * (id_a, id_b, c_a, c_b, …) with id_a < id_b: `id` gives the ids and
    * each other non-key column c is carried per side. A pair sharing
    * several key values gives one row per value (callers `distinct`,
    * `count` or `min`); a NULL key pairs with nothing, as in an
    * equi-join.
    *
    * The plan is one keyed collapse plus a partition-local double
    * explode, NOT a self-join: a join would evaluate the `rows` subtree
    * once per side (ReusedExchange shares only the exchange, not the
    * work above it) and broadcast one side per action. The output
    * equals the self-join's id_a < id_b rows as a multiset. A bucket of
    * s rows is paired in one task, so callers bound their buckets. */
  def within(rows: DataFrame, keys: Seq[String], id: String): DataFrame = {
    val carried = rows.columns.filterNot(c => c == id || keys.contains(c)).toSeq
    rows.filter(keys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col): _*)
      .agg(collect_list(struct((id +: carried).map(col): _*)).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(explode(col("ds")).as("a"), col("ds"))
      .select(col("a"), explode(col("ds")).as("b"))
      .filter(col(s"a.$id") < col(s"b.$id"))
      .select(Seq(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b")) ++
        carried.flatMap(c => Seq(col(s"a.$c").as(s"${c}_a"), col(s"b.$c").as(s"${c}_b"))): _*)
  }
}
