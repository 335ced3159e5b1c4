package graft.core

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using
import graft.{Observe, SparkEntry, SparkSpec}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.col

/** [[Ordinals.running]] against a driver-side model on seeded random
  * frames: sort the rows under the order, number them from 1 and
  * accumulate the sums. Where the order has ties, only what holds under
  * every tie order is checked. */
class OrdinalsSpec extends SparkSpec with Observe {
  import spark.implicits._

  private val rnd = new scala.util.Random(11)

  /** (k, id, a, b): order key k, a unique id, a signed sum a and a
    * nullable sum b. */
  private type Row4 = (Long, Long, Long, Option[Long])
  private type Out = (Long, Long, Long, Option[Long], Long, Long, Long, Long, Long, Long)

  private def randomRows(n: Int)(key: => Long): Seq[Row4] =
    Seq.tabulate(n)(i => (key, i.toLong, rnd.nextInt(2001).toLong - 1000,
      if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(100).toLong)))

  /** The operator over `rows` spread on three input partitions and
    * range-split into `partitions`; AQE, which would coalesce them, is
    * on unless `adaptive` is false. */
  private def running(rows: Seq[Row4], order: Seq[Column], partitions: Int,
      adaptive: Boolean = true) = {
    val conf = Seq("spark.sql.shuffle.partitions" -> partitions.toString,
      "spark.sql.adaptive.enabled" -> adaptive.toString)
    val prev = conf.map { case (k, _) => k -> spark.conf.get(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try Ordinals.running(rows.toDF("k", "id", "a", "b").repartition(3), order, "a", "b")
    finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  /** The operator's rows in `ord` order. */
  private def run(rows: Seq[Row4], order: Seq[Column], partitions: Int,
      adaptive: Boolean = true): Seq[Out] = {
    val out = running(rows, order, partitions, adaptive)
    assert(out.columns.toSeq ===
      Seq("k", "id", "a", "b", "ord", "cum_a", "cum_b", "n", "tot_a", "tot_b"))
    out.as[Out].collect().toSeq.sortBy(_._5)
  }

  /** `ord` is 1..n, the rows along it are the input's and sorted under
    * `by`, and the running sums and totals are the model's along it. */
  private def check(rows: Seq[Row4], got: Seq[Out], by: Ordering[Row4]): Unit = {
    val along = got.map(g => (g._1, g._2, g._3, g._4))
    assert(got.map(_._5) === (1L to rows.size.toLong))
    assert(along.sortBy(_._2) === rows.sortBy(_._2))
    assert(along.zip(along.drop(1)).forall { case (x, y) => by.lteq(x, y) }, along)
    val cumA = along.map(_._3).scanLeft(0L)(_ + _)
    val cumB = along.map(_._4.getOrElse(0L)).scanLeft(0L)(_ + _)
    assert(got.map(_._6) === cumA.tail)
    assert(got.map(_._7) === cumB.tail)
    assert(got.forall(g => g._8 == rows.size && g._9 == cumA.last && g._10 == cumB.last))
  }

  test("duplicate order keys: ord is a permutation consistent with the order, cum_* agrees with it") {
    for (n <- Seq(1, 7, 60, 400); parts <- Seq(2, 5)) {
      val rows = randomRows(n)(rnd.nextInt(4).toLong)
      check(rows, run(rows, Seq(col("k")), parts), Ordering.by(_._1))
    }
  }

  test("a total order gives exactly the model's numbering, descending keys and negative sums too") {
    for (n <- Seq(2, 50, 300)) {
      val rows = randomRows(n)(rnd.nextInt(40).toLong - 20)
      val by: Ordering[Row4] = Ordering.by(r => (-r._1, r._2))
      val got = run(rows, Seq(col("k").desc, col("id")), 4)
      check(rows, got, by)
      assert(got.map(g => (g._1, g._2, g._3, g._4)) === rows.sorted(by))
      assert(got.exists(_._6 < 0), "the signed sum goes negative somewhere")
    }
  }

  test("skewed range boundaries: 95% of the rows on one key") {
    val rows = randomRows(1000)(if (rnd.nextInt(20) == 0) rnd.nextInt(100).toLong else 42L)
    for (adaptive <- Seq(true, false))
      check(rows, run(rows, Seq(col("k")), 8, adaptive), Ordering.by(_._1))
    // without AQE's coalescing the hot key fills one of the eight
    // ranges and the other ranges hold a few rows each
    val sizes = running(rows, Seq(col("k")), 8, adaptive = false)
      .queryExecution.toRdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(sizes.length > 1 && sizes.max >= 900, sizes.mkString(","))
  }

  test("an empty frame and a single-partition frame") {
    for (adaptive <- Seq(true, false)) assert(run(Nil, Seq(col("k")), 4, adaptive).isEmpty)
    val rows = randomRows(80)(rnd.nextInt(10).toLong)
    check(rows, run(rows, Seq(col("k"), col("id")), 1), Ordering.by(r => (r._1, r._2)))
  }

  test("a sum over a non-long column is refused") {
    intercept[IllegalArgumentException](
      Ordinals.running(Seq((1, 2)).toDF("k", "v"), Seq(col("k")), "v"))
  }

  test("the built frame persists nothing and its action runs one job") {
    // leftPersistent's pin needs some RDD persistent while a job runs
    val sentinel = spark.sparkContext.parallelize(Seq(1)).persist()
    try {
      var jobs = 0
      val left = leftPersistent {
        val out = Ordinals.running(randomRows(200)(rnd.nextInt(9).toLong).toDF("k", "id", "a", "b"),
          Seq(col("k")), "a")
        jobs = observe(out.collect())._2
      }
      assert(left.isEmpty)
      assert(jobs === 1, "the action reads the shuffle output the build's jobs wrote")
    } finally sentinel.unpersist()
  }

  test("the six range-ordinal queries leave no persistent RDD") {
    val sf = "/root/testdata/sf0.001"
    val sentinel = spark.sparkContext.parallelize(Seq(1)).persist()
    try {
      for (q <- Seq("q_heaps_fit", "q_corpus_shuffle", "q_concurrency", "q_gini",
          "q_customer_deciles", "q_abc_xyz")) {
        SparkEntry.queries(q)(spark, sf).collect() // loads what the inputs memoize
        assert(leftPersistent(SparkEntry.queries(q)(spark, sf).collect()).isEmpty, q)
      }
    } finally sentinel.unpersist()
  }

  test("one spelling: src/main calls spark_partition_id only in core/Ordinals.scala") {
    val main = Paths.get("src/main/scala")
    val hits = Using.resource(Files.walk(main))(_.iterator.asScala.filter(Files.isRegularFile(_))
      .filter(p => new String(Files.readAllBytes(p), UTF_8).contains("spark_partition_id("))
      .map(p => main.relativize(p).toString).toSet)
    assert(hits -- Set("graft/core/Ordinals.scala") === Set.empty[String])
  }
}
