package graft.api

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.col
import graft.{Observe, SparkSpec}
import graft.core.{Tables, TimestampPeriod}
import graft.tsdb._

class WeatherApiSpec extends SparkSpec with AdaptiveSparkPlanHelper with Observe {

  private lazy val db = new WeatherDb(spark, "/root/testdata/sf0.001")

  test("station series retrieval with period filter") {
    val s = db.station(0L)
    val all = s.getDf()
    val period = TimestampPeriod.of("2024-01-05", "2024-01-10")
    val windowed = s.getDf(period = period)
    assert(all.count() === 30)
    assert(windowed.count() === 6)
    assert(windowed.columns.toSeq === Seq("day", "raw", "qc", "filled"))
  }

  test("neighbors, filled period, corrected series") {
    val s = db.station(0L)
    val nbs = s.getNeighbors(3)
    assert(nbs.size === 3 && !nbs.contains(0L))
    val fp = s.getFilledPeriod("raw")
    assert(fp.start.nonEmpty && fp.end.nonEmpty)
    val coef = s.getCoef(nbs.head)
    assert(coef.exists(c => c > 0))
    assert(s.getCorr().count() === 30)
    assert(s.getDist(1L) === 1.0) // grid neighbors are unit-spaced
    assert(s.isReal || s.isVirtual)
    assert(db.stations.getValidStids.contains(0L))
  }

  test("membership guards and per-kind period meta") {
    val s = db.station(0L)
    assert(s.isinMeta && s.isinDb)
    assert(!db.station(99999L).isinMeta)
    val filled = s.getPeriodMeta("filled")
    val raw = s.getPeriodMeta("raw")
    val max = s.getPeriodMeta("max")
    assert(filled.start.nonEmpty && raw.start.nonEmpty && max.start.nonEmpty)
    // grid extent contains the per-kind filled periods
    assert(!max.start.get.isAfter(filled.start.get))
    assert(!max.end.get.isBefore(filled.end.get))
    intercept[IllegalArgumentException](s.getPeriodMeta("nope"))
  }

  test("adjusted series matches the raster target; ma raster accessor prunes") {
    val s = db.station(0L)
    val adj = s.getAdj()
    assert(adj.columns.toSeq === Seq("day", "filled", "adj"))
    assert(adj.count() === 30)
    // multiplicative adjustment: mean(adj) lands on the raster_p target
    val meanAdj = adj.agg(org.apache.spark.sql.functions.avg("adj")).head.getDouble(0)
    val rasterP = s.getMaRaster.select("raster_p").head.getDouble(0)
    assert(math.abs(meanAdj - rasterP) < 0.01, s"mean(adj)=$meanAdj vs raster_p=$rasterP")
    assert(s.getMaRaster.count() === 1)
  }

  test("free-form filter is pushed into the scan and agg_to aggregates") {
    val s = db.station(0L)
    val flt = s.getDf(Seq("raw", "filled"), sqlAddWhere = "filled > 100")
    assert(flt.count() > 0)
    assert(flt.collect().forall(_.getAs[Double]("filled") > 100))
    // the predicate must reach the scan-side filter, not a post-sort step
    assert(flt.queryExecution.optimizedPlan.toString.contains("100.0"))
    val monthly = s.getDf(Seq("filled"), aggTo = "month")
    assert(monthly.columns.toSeq === Seq("month", "filled", "filled_na_share"))
    assert(monthly.count() === 1)
    intercept[IllegalArgumentException] { s.getDf(Seq("filled"), aggTo = "minute") }
  }

  test("broker last-import cycle merges window recompute into persisted frames") {
    import java.sql.Date
    val b = db.broker
    val lo = Date.valueOf("2024-01-20"); val hi = Date.valueOf("2024-01-30")
    val inc = b.lastImpQualityCheck(db.qc, lo, hi)
    assert(inc.count() === db.qc.count())
    // the merge must be a no-op when prev already equals the full run
    assert(inc.except(db.qc).count() === 0)
    assert(b.updateDb.columns.contains("corr"))
  }

  test("stations-level actions and group view") {
    assert(db.stations.getMeta.count() > 0)
    val q = db.stations.getQuotient(Seq("filled"), Seq("raw"))
    assert(q.count() > 0)
    val g = db.groupStation(0L).getDf()
    assert(g.columns.toSeq === Seq("station_id", "day", "p_raw", "t_raw", "et_raw"))
    assert(g.count() === 30)
  }

  test("create_ts writes the delimited model-input export") {
    val out = java.nio.file.Files.createTempDirectory("graft_ts").toString + "/st0"
    db.groupStation(0L).createTs(out)
    // reference layout: 2 meta-header lines + column header + 30 days
    val back = spark.read.text(s"$out/station_id=0/file=P.txt")
    assert(back.count() === 33)
    val header = back.filter(org.apache.spark.sql.functions.col("value")
      .startsWith("Jahr\t")).head().getString(0)
    assert(header === "Jahr\tMonat\tTag\tP")
  }

  test("get_max_period: inner union of kinds vs full grid extent") {
    val s = db.station(0L)
    val inner = s.getMaxPeriod()
    val outer = s.getMaxPeriod(nasAllowed = true)
    assert(inner.start.nonEmpty && inner.end.nonEmpty)
    assert(outer.contains(inner)) // the NAs-allowed extent covers the inner period
  }

  test("all-stations create_ts writes one partition directory per location") {
    val out = java.nio.file.Files.createTempDirectory("graft_all_ts").toString + "/all"
    db.groupStations.createTs(out)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("station_id=")).toSeq
    assert(dirs.size === db.groupStations.getValidStids.size)
    // every station dir carries the three per-parameter files
    val files = new java.io.File(s"$out/${dirs.head}").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(files === Seq("file=ET.txt", "file=P.txt", "file=T.txt"))
  }

  test("all-stations create_roger_ts uses toolbox names and MA accessors derive") {
    val out = java.nio.file.Files.createTempDirectory("graft_all_rg").toString + "/rg"
    db.groupStations.createRogerTs(out)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("station_id=")).toSeq
    assert(dirs.size === db.groupStations.getValidStids.size)
    val files = new java.io.File(s"$out/${dirs.head}").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(files === Seq("file=PET.txt", "file=PREC.txt", "file=TA.txt"))
    assert(db.stations.update.count() > 0)
    assert(db.stations.updateMaTimeseries.count() ===
      db.stations.getValidStids.size)
    assert(db.stations.updateMaRaster.count() > 0)
  }

  test("neighbor options: only_real default and elevation weighting") {
    val s = db.station(0L)
    val realIds = db.meta.filter(org.apache.spark.sql.functions.col("is_real"))
      .select("station_id").as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSet
    val nbs = s.getNeighbors(3) // onlyReal = true by default, like the reference
    assert(nbs.forall(realIds.contains))
    val weighted = s.getNeighbors(3, pElev = Some((250.0, 1.5)))
    assert(weighted.size === 3 && weighted.forall(realIds.contains))
  }

  test("get_geom round-trips a station point through WKT and GeoJSON") {
    val s = db.station(0L)
    // single-station form (reference get_geom returns a shapely Point;
    // ours a WKT string): parse it back and compare with the registry
    val wkt = s.getGeom
    val Array(x, y) = wkt.stripPrefix("POINT (").stripSuffix(")")
      .split(" ").map(_.toDouble)
    val meta = s.getMeta.select("x", "y").head
    assert(x === meta.getDouble(0) && y === meta.getDouble(1),
      s"WKT round-trip mismatch: $wkt vs $meta")
    // frame form: one geometry per registry row, WKT and GeoJSON agree
    val g = db.stations.getGeom
    assert(g.count() === db.meta.count())
    val r0 = g.filter(org.apache.spark.sql.functions.col("station_id") === 0L).head
    assert(r0.getAs[String]("geometry") === wkt)
    val gj = r0.getAs[String]("geometry_geojson")
    assert(gj === s"""{"type":"Point","coordinates":[$x,$y]}""")
  }

  test("get_geom WGS84 transform matches the independently computed UTM-32N anchors") {
    import org.apache.spark.sql.functions.col
    val g = db.stations.getGeomWgs84.collect()
      .map(r => (r.getAs[Double]("x"), r.getAs[Double]("y"))
        -> (r.getAs[Double]("lon"), r.getAs[Double]("lat"))).toMap
    // station at grid (0,0) = the (500000, 5400000) zone-32N anchor:
    // lon is EXACTLY the central meridian, lat the footpoint latitude
    // (independently computed with a separate Python implementation
    // of the Snyder series: 9.0, 48.753013)
    assert(g((0.0, 0.0)) === ((9.0, 48.753013)), s"anchor: ${g((0.0, 0.0))}")
    // monotone: east of the central meridian lon grows with x,
    // lat grows with y
    g.keys.groupBy(_._2).values.foreach { row =>
      val sorted = row.toSeq.sortBy(_._1)
      sorted.sliding(2).foreach {
        case Seq(a, b) => assert(g(a)._1 < g(b)._1, s"lon not monotone $a $b")
        case _ =>
      }
    }
    // the WKT carries the transformed point, on the frame AND the
    // single-station crs accessor (the reference's get_geom(crs=...))
    val wkt = db.stations.getGeomWgs84
      .filter(col("station_id") === 0L).head.getAs[String]("geometry")
    assert(wkt === "POINT (9.0 48.753013)", wkt)
    assert(db.station(0L).getGeom("wgs84") === wkt)
    assert(db.station(0L).getGeom("grid") === db.station(0L).getGeom)
    intercept[IllegalArgumentException](db.station(0L).getGeom("epsg:9999"))
  }

  test("last-import bookkeeping: mark -> pending flags -> broker marks done") {
    // fresh db so the session-local flags start clean
    val db2 = new WeatherDb(spark, "/root/testdata/sf0.001")
    val s = db2.station(0L)
    // nothing pending: done by definition, empty period
    assert(s.isLastImpDone("qc") && s.isLastImpDone("filled") && s.isLastImpDone("corr"))
    assert(s.getLastImpPeriod().start.isEmpty)
    intercept[IllegalArgumentException](s.isLastImpDone("bogus"))
    val p = TimestampPeriod.of("2024-01-20", "2024-01-25")
    db2.markLastImport(p)
    assert(!s.isLastImpDone("qc") && !s.isLastImpDone("filled") && !s.isLastImpDone("corr"))
    assert(s.getLastImpPeriod() === p)
    assert(s.getPeriodMeta("last_imp") === p)
    val broker = db2.broker
    val lo = java.sql.Date.valueOf("2024-01-20"); val hi = java.sql.Date.valueOf("2024-01-25")
    broker.lastImpQualityCheck(db2.qc, lo, hi)
    assert(s.isLastImpDone("qc") && !s.isLastImpDone("filled"))
    broker.lastImpFillup(db2.filled, db2.qc, lo, hi)
    broker.lastImpCorr(db2.corr, db2.filled, lo, hi)
    assert(s.isLastImpDone("filled") && s.isLastImpDone("corr"))
    // a processed window that does NOT cover the pending import must
    // NOT mark the kind done (the reference's fillup coverage check,
    // StationBases.py:1667-1669) — the flag only flips once a window
    // spanning the whole import period has run
    db2.markLastImport(TimestampPeriod.of("2024-01-20", "2024-01-25"))
    assert(!s.isLastImpDone("qc"))
    val hiShort = java.sql.Date.valueOf("2024-01-22")
    broker.lastImpQualityCheck(db2.qc, lo, hiShort)
    assert(!s.isLastImpDone("qc"))
    broker.lastImpQualityCheck(db2.qc, lo, hi)
    assert(s.isLastImpDone("qc"))
    // registry membership twins
    assert(s.isinMa && s.isinMetaP)
  }

  test("last-import prerequisite gating: out-of-order broker calls leave kinds pending") {
    // the reference marks 'filled' done only when qc already is
    // (StationBases.py:1664-1669) and 'corr' only when qc AND filled
    // are (StationP.py:643-646) — a corr call against a stale upstream
    // must not read 'done'
    val db2 = new WeatherDb(spark, "/root/testdata/sf0.001")
    val s = db2.station(0L)
    db2.markLastImport(TimestampPeriod.of("2024-01-20", "2024-01-25"))
    val broker = db2.broker
    val lo = java.sql.Date.valueOf("2024-01-20"); val hi = java.sql.Date.valueOf("2024-01-25")
    // corr first: neither qc nor filled done -> corr stays pending
    broker.lastImpCorr(db2.corr, db2.filled, lo, hi)
    assert(!s.isLastImpDone("corr"))
    // fillup before qc: filled stays pending too
    broker.lastImpFillup(db2.filled, db2.qc, lo, hi)
    assert(!s.isLastImpDone("filled"))
    // in order, the chain completes
    broker.lastImpQualityCheck(db2.qc, lo, hi)
    assert(s.isLastImpDone("qc"))
    broker.lastImpFillup(db2.filled, db2.qc, lo, hi)
    assert(s.isLastImpDone("filled"))
    broker.lastImpCorr(db2.corr, db2.filled, lo, hi)
    assert(s.isLastImpDone("corr"))
  }

  test("get_meta_explanation documents every meta column") {
    val exp = db.stations.getMetaExplanation()
    assert(exp.columns.toSeq === Seq("info", "explanation"))
    // catalog and live frame must stay in sync, both directions
    val documented = exp.select("info")
      .as[String](org.apache.spark.sql.Encoders.STRING).collect().toSet
    assert(documented === db.meta.columns.toSet)
    // subset selection like the reference's infos=[...]
    val sub = db.stations.getMetaExplanation(Seq("station_id", "elev"))
    assert(sub.count() === 2)
    intercept[IllegalArgumentException] {
      db.stations.getMetaExplanation(Seq("no_such_info"))
    }
    // explorer frame exposes the documented columns in catalog order
    assert(db.stations.getMetaExplorer.columns.toSeq ===
      Stations.metaExplanation.map(_._1))
  }

  // The specs below drop the session's memoized kind frames, so they
  // come last and each builds its own WeatherDb.

  /** The kinds' plain lineage — what TsQueries memoizes, built here
    * without its persist — computed once and held as local rows. Built
    * after the memo is dropped and before the served side exists, it
    * reads no kind cache (only what a derivation persists for itself,
    * such as the neighbor ranking). */
  private class Lineage(dir: String) {
    private val ev = Tables.events(spark, dir)
    private val meta = Series.stationMeta(ev)
    private val filledPlan =
      Fillup.fillNeighbor(QualityCheck.all(Series.dailyRaw(ev), Series.dailyRef(ev), meta), meta)
    private val corrPlan = Richter.correct(spark, filledPlan,
      Fillup.fillTemp(Series.dailyTemp(ev), meta, Series.raster(ev))
        .select(col("station_id"), col("day"), col("t_filled").as("t")), meta)
    private def local(plan: DataFrame): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(plan.collect(): _*), plan.schema)
    val filled: DataFrame = local(filledPlan)
    val corr: DataFrame = local(corrPlan)

    /** The station's rows of `frame` in `period`: a plain filter on
      * the whole frame. */
    def select(frame: DataFrame, id: Long, period: TimestampPeriod): DataFrame =
      WeatherDb.inPeriod(frame.filter(col("station_id") === id), period)
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  test("served lookups equal the uncached lineage row for row") {
    import org.apache.spark.sql.functions.expr
    // the suite's sf0.001 data and its sf0.01 sibling
    val sf0_01 = new java.io.File(new java.io.File(db.dir).getParentFile, "sf0.01").getPath
    for (dir <- Seq(db.dir, sf0_01)) {
      TsQueries.clearMemo(spark)
      val lin = new Lineage(dir)
      val dbs = new WeatherDb(spark, dir)
      val periods = Seq(
        TimestampPeriod.empty,
        TimestampPeriod.of("2024-01-05", "2024-01-19"),
        TimestampPeriod(Some(java.time.LocalDate.parse("2024-01-20")), None),
        TimestampPeriod(None, Some(java.time.LocalDate.parse("2024-01-03"))),
        TimestampPeriod.of("2025-01-01", "2025-01-31")) // no day of the data
      val cases = periods.map(7L -> _) ++ periods.take(2).map(99999L -> _) // unknown station
      for ((id, p) <- cases) {
        val st = dbs.station(id)
        val f = lin.select(lin.filled, id, p)
        def check(served: DataFrame, lineage: DataFrame, what: String): Unit = {
          assert(served.schema === lineage.schema, s"$what schema")
          assert(rows(served) === rows(lineage), s"$what rows ($dir, station $id, $p)")
        }
        def kinds(ks: String*) = f.select((col("day") +: ks.map(col)): _*).orderBy(col("day"))
        check(st.getDf(period = p), kinds("raw", "qc", "filled"), "getDf")
        check(st.getRaw(p), kinds("raw"), "getRaw")
        check(st.getQc(p), kinds("qc"), "getQc")
        check(st.getFilled(p), kinds("filled", "filled_by"), "getFilled")
        check(st.getCorr(p),
          lin.select(lin.corr, id, p).select("day", "corr").orderBy("day"), "getCorr")
        for (g <- Seq("month", "year"))
          check(st.getDf(Seq("filled", "raw"), p, aggTo = g),
            Aggregate.aggTo(f, "day", "day", g, mean = false, Seq("filled", "raw"))
              .drop("station_id").orderBy(col(g)), s"aggTo $g")
        check(st.getDf(Seq("raw", "filled"), p, sqlAddWhere = "filled > 100"),
          f.filter(expr("filled > 100")).select("day", "raw", "filled").orderBy("day"),
          "sqlAddWhere")
        if (id == 99999L) assert(st.getDf(period = p).isEmpty)
      }
      assert(rows(dbs.station(7L).getDf()).nonEmpty)
    }
    TsQueries.clearMemo(spark)
  }

  test("plan-shape guard: a lookup over persisted kinds is one cache leaf, one job, no exchange") {
    TsQueries.clearMemo(spark)
    val dbp = new WeatherDb(spark, db.dir)
    val raster = Series.raster(dbp.events)
    // what each reader reads, persisted the way a serving deployment
    // holds it (the memo persists raw, meta, qc and filled itself)
    val held = Seq(dbp.corr, MultiAnnual.adjustMult(dbp.filled, raster),
      Aggregate.countHoles(dbp.qc), Aggregate.groupWide(dbp.events)).map(_.persist())
    try {
      (Seq(dbp.raw, dbp.meta, dbp.qc, dbp.filled) ++ held).foreach(_.count())
      val st = dbp.station(3L)
      val p = TimestampPeriod.of("2024-01-04", "2024-01-21")
      val readers: Seq[(String, () => Any)] = Seq(
        "getDf" -> (() => st.getDf(period = p).collect()),
        "getRaw" -> (() => st.getRaw(p).collect()),
        "getQc" -> (() => st.getQc(p).collect()),
        "getFilled" -> (() => st.getFilled(p).collect()),
        "getDf aggTo" -> (() => st.getDf(Seq("filled"), p, aggTo = "month").collect()),
        "getDf sqlAddWhere" -> (() => st.getDf(period = p, sqlAddWhere = "raw > 0").collect()),
        "getCorr" -> (() => st.getCorr(p).collect()),
        "getAdj" -> (() => st.getAdj(period = p).collect()),
        "getFilledPeriod" -> (() => st.getFilledPeriod()),
        "getMaxPeriod" -> (() => st.getMaxPeriod()),
        "countHoles" -> (() => st.countHoles.collect()),
        "isinDb" -> (() => st.isinDb),
        "GroupStation.getDf" -> (() => dbp.groupStation(3L).getDf(p).collect()))
      for ((name, read) <- readers) {
        val (qes, jobs) = observe(read())
        assert(qes.size === 1, s"$name ran ${qes.size} queries")
        val qe = qes.head
        val exchanges = collect(qe.executedPlan) { case e: Exchange => e }
        assert(exchanges.isEmpty, s"$name plans exchanges:\n${qe.executedPlan}")
        assert(jobs === 1, s"$name ran $jobs jobs")
        val leaves = qe.analyzed.collectLeaves()
        assert(leaves.size === 1 && leaves.head.isInstanceOf[InMemoryRelation],
          s"$name reads ${leaves.map(_.nodeName).mkString(", ")}")
      }
    } finally {
      held.foreach(_.unpersist())
      TsQueries.clearMemo(spark)
    }
  }

  test("a lookup held across a release recomputes and persists nothing") {
    val sc = spark.sparkContext
    def station() = new WeatherDb(spark, db.dir).station(0L)
    // a first cycle gives the expected rows and leaves only what
    // outlives the memo (the neighbor ranking's own memo)
    TsQueries.clearMemo(spark)
    val (dfRows, corrRows) = (rows(station().getDf()), rows(station().getCorr()))
    TsQueries.clearMemo(spark)
    val before = sc.getPersistentRDDs.keySet
    val st = station()
    val df = st.getDf()
    assert(rows(df) === dfRows) // read from the cache before its release
    val corr = st.getCorr()     // built, never run before the release
    assert(sc.getPersistentRDDs.keySet.diff(before).nonEmpty) // the memo's kinds
    TsQueries.clearMemo(spark)
    assert(sc.getPersistentRDDs.keySet.subsetOf(before))
    val left = leftPersistent {
      assert(rows(df) === dfRows)
      assert(rows(corr) === corrRows)
    }
    assert(left.isEmpty, s"persisted again after the release: ${left.flatMap(sc.getPersistentRDDs.get)}")
  }
}
