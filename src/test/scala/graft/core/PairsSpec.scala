package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** [[Pairs.within]] against a driver-side model of the self-equi-join
  * it replaces: every (r, s) row pair with equal, non-NULL keys and
  * r.id < s.id, as a multiset, on seeded random keyed frames. */
class PairsSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(7)

  /** (band, bucket, id, v): a row per (id, band) like a banded
    * signature frame, so a pair can share several buckets; small key
    * and id domains give NULL keys, single-row and empty buckets,
    * negative ids and ids repeated within a bucket. */
  private def randomRows(n: Int): Seq[(Option[Int], Int, Long, String)] =
    Seq.fill(n)((if (rnd.nextInt(6) == 0) None else Some(rnd.nextInt(3)),
      rnd.nextInt(4), rnd.nextInt(11).toLong - 5, rnd.alphanumeric.take(3).mkString))

  private def model(rows: Seq[(Option[Int], Int, Long, String)]) =
    (for (r <- rows; s <- rows
      if r._1.isDefined && r._1 == s._1 && r._2 == s._2 && r._3 < s._3)
      yield (r._3, s._3, r._4, s._4)).groupBy(identity).view.mapValues(_.size).toMap

  test("within equals the self-join model on random keyed frames") {
    for (n <- Seq(0, 1, 2, 3, 8, 25, 60); _ <- 1 to 3) {
      val rows = randomRows(n)
      val out = Pairs.within(rows.toDF("band", "bucket", "id", "v"), Seq("band", "bucket"), "id")
      assert(out.columns.toSeq === Seq("id_a", "id_b", "v_a", "v_b"))
      val got = out.as[(Long, Long, String, String)].collect().toSeq
        .groupBy(identity).view.mapValues(_.size).toMap
      assert(got === model(rows), s"rows: $rows")
    }
  }

  test("a pair sharing several keys gives one row per shared key") {
    // ids 1 and 2 share bands 0 and 1; id 3 shares band 1 only with 1
    val rows = Seq((0, 10L, 1L), (0, 10L, 2L), (1, 20L, 1L), (1, 20L, 2L), (1, 20L, 3L),
      (2, 30L, 3L), (2, 31L, 4L)).toDF("band", "sig", "id")
    val out = Pairs.within(rows, Seq("band", "sig"), "id")
    assert(out.columns.toSeq === Seq("id_a", "id_b"))
    assert(out.orderBy(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSeq ===
      Seq((1L, 2L), (1L, 2L), (1L, 3L), (2L, 3L)))
  }
}
