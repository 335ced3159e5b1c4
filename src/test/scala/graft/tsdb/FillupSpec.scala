package graft.tsdb

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.sql.Date

class FillupSpec extends SparkSpec {
  import spark.implicits._

  private def day(d: Int): Date = Date.valueOf(f"2024-01-$d%02d")

  private def qcSeries(rows: Seq[(Long, Int, Option[Double])]) =
    rows.map { case (s, d, v) => (s, day(d), v, v, 1L) }
      .toDF("station_id", "day", "raw", "qc", "n_obs")

  private val meta = Seq((0L, 0.0, 0.0, 0.0), (1L, 1.0, 0.0, 0.0), (2L, 5.0, 0.0, 0.0))
    .toDF("station_id", "x", "y", "elev")

  test("neighbor fill takes the nearest non-null neighbor, regionalized") {
    val s = qcSeries(Seq(
      (0L, 1, Some(100.0)), (0L, 2, None),
      (1L, 1, Some(200.0)), (1L, 2, Some(200.0)),
      (2L, 1, Some(400.0)), (2L, 2, Some(400.0))))
    val out = Fillup.fillNeighbor(s, meta)
      .filter($"station_id" === 0).orderBy("day")
      .select("filled", "filled_by").as[(Option[Double], Option[Long])].collect()
    assert(out(0) === ((Some(100.0), None)))
    // ma0=100, ma1=200 -> coef 0.5; nearest neighbor (1) value 200*0.5=100
    assert(out(1) === ((Some(100.0), Some(1L))))
  }

  test("neighbor fill falls through to the next neighbor when nearest is null") {
    val s = qcSeries(Seq(
      (0L, 1, Some(100.0)), (0L, 2, None),
      (1L, 1, Some(200.0)), (1L, 2, None),
      (2L, 1, Some(400.0)), (2L, 2, Some(400.0))))
    val out = Fillup.fillNeighbor(s, meta)
      .filter($"station_id" === 0 && $"day" === day(2))
      .select("filled", "filled_by").as[(Option[Double], Option[Long])].collect()
    // ma0=100, ma2=400 -> coef 0.25; neighbor 2 value 400*0.25=100
    assert(out.head === ((Some(100.0), Some(2L))))
  }

  test("a neighbor whose MA is 0 gives no coefficient: the next neighbor fills") {
    val s = qcSeries(Seq(
      (0L, 1, Some(100.0)), (0L, 2, None),
      (1L, 1, Some(0.0)), (1L, 2, Some(0.0)),
      (2L, 1, Some(400.0)), (2L, 2, Some(400.0))))
    def slot(df: org.apache.spark.sql.DataFrame) =
      df.filter($"station_id" === 0 && $"day" === day(2)).head
    // ma1 = 0 divides nothing; ma0=100, ma2=400 -> coef 0.25, 400*0.25=100
    val nb = slot(Fillup.fillNeighbor(s, meta))
    assert((nb.getAs[Double]("filled"), nb.getAs[Long]("filled_by")) === ((100.0, 2L)))
    assert(slot(Fillup.fillMedian(s, meta)).getAs[Double]("filled") === 100.0)
    // January: the winter coefficient, NULL for neighbor 1
    assert(slot(Fillup.fillSeasonal(s, meta)).getAs[Double]("filled") === 100.0)
  }

  test("idw fill weights neighbor values by inverse squared distance") {
    val s = qcSeries(Seq(
      (0L, 1, Some(100.0)), (0L, 2, None),
      (1L, 1, Some(200.0)), (1L, 2, Some(200.0)),
      (2L, 1, Some(400.0)), (2L, 2, Some(400.0))))
    val out = Fillup.fillIdw(s, meta)
      .filter($"station_id" === 0).orderBy("day")
      .select("filled", "n_donors").as[(Option[Double], Option[Long])].collect()
    assert(out(0) === ((Some(100.0), None))) // observed day untouched
    // d(0,1)=1, d(0,2)=5 -> w 1 and 0.04:
    // (200*1 + 400*0.04) / 1.04 = 216/1.04 = 207.6923... -> 207.69
    assert(out(1) === ((Some(207.69), Some(2L))))
  }

  test("virtual station: a P-only station gets a filled T companion and a non-NULL corr") {
    // station 1 has precipitation events but NO 'view' (temperature)
    // events -> is_real = false; raster regionalization still yields a
    // companion T series, so Richter typing works at that location
    val ts = java.sql.Timestamp.valueOf("2024-07-01 12:00:00")
    val events = Seq(
      (1L, ts, 0L, "click", 100.0),
      (2L, ts, 1L, "view", 80.0), // neighbor temps: 80-50=30 deg
      (3L, ts, 1L, "click", 100.0),
      (4L, ts, 2L, "view", 80.0),
      (5L, ts, 2L, "click", 100.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val meta = Series.stationMeta(events)
    assert(meta.filter($"station_id" === 0).head.getAs[Boolean]("is_real") === false)
    val tFilled = Fillup.fillTemp(Series.dailyTemp(events), meta, Series.raster(events))
    val t0 = tFilled.filter($"station_id" === 0).head.getAs[Double]("t_filled")
    assert(!tFilled.filter($"station_id" === 0).head.isNullAt(
      tFilled.columns.indexOf("t_filled")), "virtual station must get a filled T")
    val filled = qcSeries(Seq((0L, 1, Some(100.0)), (1L, 1, Some(100.0)), (2L, 1, Some(100.0))))
      .withColumn("day", lit(Date.valueOf("2024-07-01")))
      .withColumn("filled", $"qc")
    val corr = Richter.correct(spark, filled,
        tFilled.select($"station_id", $"day", $"t_filled".as("t")), meta)
      .filter($"station_id" === 0).head
    assert(corr.getAs[String]("precipitation_typ") != null,
      s"typing must use the virtual T (t=$t0)")
    assert(corr.getAs[Double]("corr") > corr.getAs[Double]("filled"),
      "undercatch delta must be applied at the virtual station")
  }

  test("interpolation fills only gaps within the limit, linearly") {
    val s = qcSeries(Seq(
      (0L, 1, Some(10.0)), (0L, 2, None), (0L, 3, None), (0L, 4, Some(40.0)), // gap 2 <= 3
      (0L, 5, None), (0L, 6, None), (0L, 7, None), (0L, 8, None), (0L, 9, None),
      (0L, 10, Some(100.0)))) // gap 5 > 3 -> left null
    val out = Fillup.fillInterp(s).orderBy("day")
      .select("filled", "filled_by").as[(Option[Double], Option[Long])].collect()
    assert(out(1) === ((Some(20.0), Some(-1L))))
    assert(out(2) === ((Some(30.0), Some(-1L))))
    assert(out(4)._1 === None)
    assert(out(9) === ((Some(100.0), None)))
  }

  test("seasonal fill applies the winter or summer coefficient per day") {
    def d(m: Int, day: Int) = Date.valueOf(f"2024-$m%02d-$day%02d")
    // station 0: winter mean 100, summer mean 10; station 1 (neighbor):
    // winter mean 250, summer mean 50 -> coef_wi=0.4, coef_so=0.2
    val rows = Seq(
      (0L, d(1, 1), Some(100.0)), (0L, d(1, 2), None),
      (0L, d(7, 1), Some(10.0)), (0L, d(7, 2), None),
      (1L, d(1, 1), Some(200.0)), (1L, d(1, 2), Some(300.0)),
      (1L, d(7, 1), Some(40.0)), (1L, d(7, 2), Some(60.0)))
    val s = rows.map { case (id, dy, v) => (id, dy, v, v, 1L) }
      .toDF("station_id", "day", "raw", "qc", "n_obs")
    val meta = Seq((0L, 0.0, 0.0, 0.0), (1L, 1.0, 0.0, 0.0))
      .toDF("station_id", "x", "y", "elev")
    val out = Fillup.fillSeasonal(s, meta)
      .filter($"station_id" === 0 && $"qc".isNull)
      .orderBy("day").select("day", "filled").collect()
    assert(out(0).getDouble(1) === 120.0) // winter: 300 * (100/250)
    assert(out(1).getDouble(1) === 12.0)  // summer: 60 * (10/50)
  }

  test("seasonal fill falls through when the nearest neighbor has no coefficient for the season") {
    def d(m: Int, day: Int) = Date.valueOf(f"2024-$m%02d-$day%02d")
    // station 1 (nearest) has no winter values: coef_wi NULL, coef_so
    // 200 -> 0.5; station 2 has both: coef_wi = coef_so = 100/400
    val rows = Seq(
      (0L, d(1, 1), Some(100.0)), (0L, d(1, 2), None),
      (0L, d(7, 1), Some(100.0)), (0L, d(7, 2), None),
      (1L, d(1, 1), None), (1L, d(1, 2), None),
      (1L, d(7, 1), Some(200.0)), (1L, d(7, 2), Some(200.0)),
      (2L, d(1, 1), Some(400.0)), (2L, d(1, 2), Some(400.0)),
      (2L, d(7, 1), Some(400.0)), (2L, d(7, 2), Some(400.0)))
    val s = rows.map { case (id, dy, v) => (id, dy, v, v, 1L) }
      .toDF("station_id", "day", "raw", "qc", "n_obs")
    val out = Fillup.fillSeasonal(s, meta)
      .filter($"station_id" === 0 && $"qc".isNull).orderBy("day")
      .select("is_winter", "filled", "filled_by").as[(Boolean, Option[Double], Option[Long])]
      .collect()
    assert(out(0) === ((true, Some(100.0), Some(2L))))  // winter: 400 * 0.25
    assert(out(1) === ((false, Some(100.0), Some(1L)))) // summer: 200 * 0.5
    // without a winter mean of its own, station 0 has no winter
    // coefficient with any neighbor: its winter hole stays unfilled
    // and unattributed, its summer hole fills as before
    val noWinter = s.withColumn("qc",
      when($"station_id" === 0 && month($"day") === 1, lit(null)).otherwise($"qc"))
    val out2 = Fillup.fillSeasonal(noWinter, meta)
      .filter($"station_id" === 0 && $"day".isin(d(1, 2), d(7, 2))).orderBy("day")
      .select("filled", "filled_by").as[(Option[Double], Option[Long])].collect()
    assert(out2.toSeq === Seq((None, None), (Some(100.0), Some(1L))))
  }

  test("additive fill takes min/max from the same donor and coefficient as the value") {
    // ma0=10, ma1=20, ma2=40; station 1 (nearest) has no qc on day 2,
    // so station 0's day 2 comes from station 2 with coef 10-40 = -30
    val s = qcSeries(Seq(
      (0L, 1, Some(10.0)), (0L, 2, None),
      (1L, 1, Some(20.0)), (1L, 2, None),
      (2L, 1, Some(40.0)), (2L, 2, Some(40.0))))
    val minMax = Seq(
      (0L, day(1), 8.0, 12.0), (0L, day(2), 1.0, 99.0),
      (1L, day(1), 15.0, 25.0), (1L, day(2), 15.0, 25.0),
      (2L, day(1), 35.0, 45.0), (2L, day(2), 35.0, 45.0))
      .toDF("station_id", "day", "raw_min", "raw_max")
    val out = Fillup.fillAdditive(s, meta, minMax)
      .filter($"station_id" === 0).orderBy("day")
      .select("filled", "filled_min", "filled_max", "filled_by")
      .as[(Option[Double], Option[Double], Option[Double], Option[Long])].collect()
    assert(out(0) === ((Some(10.0), Some(8.0), Some(12.0), None))) // observed: raw min/max
    assert(out(1) === ((Some(10.0), Some(5.0), Some(15.0), Some(2L))))
  }

  test("median fill uses the median of regionalized neighbor values") {
    val s = qcSeries(Seq(
      (0L, 1, Some(100.0)), (0L, 2, None),
      (1L, 1, Some(100.0)), (1L, 2, Some(120.0)),
      (2L, 1, Some(100.0)), (2L, 2, Some(140.0))))
    val out = Fillup.fillMedian(s, meta)
      .filter($"station_id" === 0 && $"day" === day(2))
      .select("filled", "filled_by").as[(Option[Double], Option[Long])].collect()
    // ma0=100, ma1=110, ma2=120 -> cands 120*(100/110), 140*(100/120)
    // median of {109.090909, 116.666667} = 112.878788
    assert(out.head._1.exists(v => math.abs(v - 112.88) < 0.005))
    assert(out.head._2 === Some(-2L))
  }

  test("cross-validation masks a slice, reconstructs it, and scores the fill") {
    // real data: the masked slots must be reconstructable from donors
    val events = graft.core.Tables.events(spark, "/root/testdata/sf0.001")
    val qc = QualityCheck.all(Series.dailyRaw(events),
      Series.dailyRef(events), Series.stationMeta(events))
    val cv = Fillup.crossValidate(qc, Series.stationMeta(events))
    val rows = cv.select("station_id", "n_masked", "n_reconstructed",
      "mae", "coverage").collect()
    assert(rows.nonEmpty, "cross-validation produced no stations")
    // masking is content-free id arithmetic -> every station with
    // enough observed days gets masked slots; donors exist on a dense
    // grid, so coverage should be total and errors finite
    assert(rows.forall(_.getLong(1) > 0), "every station needs masked slots")
    val covered = rows.count(r => r.getDouble(4) >= 0.99)
    assert(covered >= rows.length - 1,
      s"fill should reconstruct nearly all masked slots, covered=$covered/${rows.length}")
    assert(rows.forall(r => r.isNullAt(3) || r.getDouble(3) >= 0.0))
    // determinism: a second run scores identically
    val again = Fillup.crossValidate(qc, Series.stationMeta(events))
      .select("station_id", "mae").collect().map(r => (r.getLong(0), r.get(1))).toMap
    assert(rows.map(r => again(r.getLong(0)) ==
      cv.select("station_id", "mae").collect()
        .find(_.getLong(0) == r.getLong(0)).get.get(1)).forall(identity))
  }
}
