package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSqlBridge
import graft.core.{Tables, TimestampPeriod}
import graft.tsdb._

/** Typed facade mirroring the reference's user API
  * (station.StationP/T/ET, stations.StationsBase, GroupStation,
  * broker.Broker) so a WeatherDB user can switch: one object per
  * station exposing the per-kind series, one grouping object for
  * all-stations actions, a group view joining parameters per location.
  *
  * The kind frames are [[TsQueries]]' memoized, persisted ones; the
  * all-stations methods are lazy plan builders over them. A
  * single-station read is served from the cache instead of a separate
  * table as in the reference: the station's rows of the persisted kind
  * frame, planned over that one in-memory leaf and read in one task
  * with no shuffle (see [[Station.lookup]]).
  */
class WeatherDb(val spark: SparkSession, val dir: String) {
  lazy val events: DataFrame = Tables.events(spark, dir)
  lazy val meta: DataFrame = TsQueries.meta(spark, dir)
  lazy val raw: DataFrame = TsQueries.rawDaily(spark, dir)
  lazy val qc: DataFrame = TsQueries.qcAll(spark, dir)
  lazy val filled: DataFrame = TsQueries.filledSeries(spark, dir)
  /** Filled temperature companion — virtual-station cycle, see
    * Fillup.fillTemp. */
  lazy val tempFilled: DataFrame = TsQueries.tempFilled(spark, dir)
  lazy val corr: DataFrame =
    Richter.correct(spark, filled, tempFilled, meta)

  /** Last-import bookkeeping — the reference's meta last_imp_from/
    * until columns plus the per-kind last_imp_qc/fillup/corr done
    * flags (models.py MetaP, written by update_raw and consumed by
    * the broker's last_imp cycle). The functional model keeps them
    * session-local: [[markLastImport]] records the imported window
    * and resets the flags; the [[Broker]]'s lastImp* methods mark
    * their kind done as the reference's _mark_last_imp_done would. */
  @volatile private[api] var lastImpPeriodState: TimestampPeriod = TimestampPeriod.empty
  private[api] val lastImpDone =
    scala.collection.concurrent.TrieMap("qc" -> true, "filled" -> true, "corr" -> true)
  def markLastImport(period: TimestampPeriod): Unit = synchronized {
    lastImpPeriodState = period
    Seq("qc", "filled", "corr").foreach(k => lastImpDone.put(k, false))
  }

  def station(id: Long): Station = new Station(this, id)
  def stations: Stations = new Stations(this)
  def groupStation(id: Long): GroupStation = new GroupStation(this, id)
  def groupStations: GroupStations = new GroupStations(this)
  def broker: Broker = new Broker(this)

  /** Register the engine's frames as temp views so users can run free
    * SQL over them (`spark.sql("SELECT ... FROM graft_filled ...")`) —
    * the Spark-native form of the reference's free SQL access to its
    * timeseries tables (get_df / sql_add_where). Views are lazy plans:
    * predicates written against them reach the parquet scans through
    * the usual pushdown. */
  def createViews(prefix: String = "graft_"): Unit = {
    events.createOrReplaceTempView(s"${prefix}events")
    meta.createOrReplaceTempView(s"${prefix}meta")
    raw.createOrReplaceTempView(s"${prefix}raw")
    qc.createOrReplaceTempView(s"${prefix}qc")
    filled.createOrReplaceTempView(s"${prefix}filled")
    corr.createOrReplaceTempView(s"${prefix}corr")
  }
}

object WeatherDb {
  private[api] def inPeriod(df: DataFrame, period: TimestampPeriod): DataFrame =
    periodBounds(period).reduceOption(_ && _).map(df.filter).getOrElse(df)

  /** `day` on or after the period's start and on or before its end;
    * an open end adds no bound. */
  private[api] def periodBounds(period: TimestampPeriod): Seq[Column] =
    period.start.map(d => col("day") >= lit(java.sql.Date.valueOf(d))).toSeq ++
      period.end.map(d => col("day") <= lit(java.sql.Date.valueOf(d)))
}

/** One station, one parameter — the reference's StationBase surface. */
class Station(db: WeatherDb, val id: Long) {
  private def lookup(frame: DataFrame,
      period: TimestampPeriod = TimestampPeriod.empty): DataFrame =
    Station.lookup(frame, id, period)

  /** get_df: selected kinds over a period (StationBases.py:2463), with
    * the reference's free-form filter (`sql_add_where`,
    * StationBases.py:2463-2530) and `agg_to` granularity. The filter is
    * a SQL boolean expression over the kind columns — it enters the
    * plan as a Catalyst predicate, so it is pushed into the in-memory
    * scan like any native filter, not applied post-hoc. */
  def getDf(kinds: Seq[String] = Seq("raw", "qc", "filled"),
      period: TimestampPeriod = TimestampPeriod.empty,
      sqlAddWhere: String = null,
      aggTo: String = null): DataFrame = {
    val base = lookup(db.filled, period)
    val filtered = Option(sqlAddWhere).map(w => base.filter(expr(w))).getOrElse(base)
    Option(aggTo) match {
      case Some(g) =>
        Aggregate.aggTo(filtered, "day", "day", g, mean = false, kinds)
          .drop("station_id").orderBy(col(g))
      case None =>
        filtered.select((col("day") +: kinds.map(col)): _*).orderBy(col("day"))
    }
  }

  def getRaw(period: TimestampPeriod = TimestampPeriod.empty): DataFrame =
    getDf(Seq("raw"), period)
  def getQc(period: TimestampPeriod = TimestampPeriod.empty): DataFrame =
    getDf(Seq("qc"), period)
  def getFilled(period: TimestampPeriod = TimestampPeriod.empty): DataFrame =
    getDf(Seq("filled", "filled_by"), period)
  /** Richter-corrected series (StationP.get_corr). */
  def getCorr(period: TimestampPeriod = TimestampPeriod.empty): DataFrame =
    lookup(db.corr, period).select("day", "corr").orderBy("day")

  def getMeta: DataFrame = lookup(db.meta)

  /** get_neighboor_stids (StationBases.py:2211): `onlyReal` mirrors
    * the reference's only_real=True default (virtual stations are
    * never donors); `pElev` is the optional LARSIM (P1, P2) elevation
    * weighting — None means plain distance, like the reference's
    * p_elev=None (T/ET pass their (250, 1.5) default). */
  def getNeighbors(n: Int = Constants.NeighborK, onlyReal: Boolean = true,
      pElev: Option[(Double, Double)] = None): Seq[Long] = {
    val knn = pElev match {
      case Some((p1, p2)) => Neighbors.knnElev(db.meta, n, p1, p2, onlyReal)
      case None => Neighbors.knnDist(db.meta, n, onlyReal)
    }
    lookup(knn).orderBy(col("rank")).select(col("nb_id")).collect().map(_.getLong(0)).toSeq
  }

  /** get_max_period (StationBases.py:2133): NAs allowed → the full
    * grid extent; else the inner union of the kinds' filled periods. */
  def getMaxPeriod(kinds: Seq[String] = Seq("raw", "qc", "filled"),
      nasAllowed: Boolean = false): TimestampPeriod =
    Aggregate.maxPeriod(lookup(db.filled), kinds).collect().headOption match {
      case None => TimestampPeriod.empty // unknown station: no period
      case Some(r) =>
        val (f, u) = if (nasAllowed) (r.getDate(1), r.getDate(2)) else (r.getDate(3), r.getDate(4))
        TimestampPeriod(Option(f).map(_.toLocalDate), Option(u).map(_.toLocalDate))
    }

  /** get_name (StationBases.py:1872) — the registry has no name
    * column; the id-derived label mirrors the derived meta model. */
  def getName: String = s"station_$id"

  /** get_geom (StationBases.py:1817): WKT point of the station's
    * (grid-UTM-like) coordinates. */
  def getGeom: String =
    getMeta.select(col("x"), col("y")).collect().headOption match {
      case Some(r) => s"POINT (${r.getDouble(0)} ${r.getDouble(1)})"
      case None => throw new IllegalArgumentException(
        s"station $id is not in the registry") // reference: _check_isin_meta
    }

  /** get_geom with the crs parameter (the reference transforms to the
    * requested CRS via pyproj; None → WGS84): "grid" returns the raw
    * registry coordinates, "wgs84" the inverse-Transverse-Mercator
    * point of [[Stations.getGeomWgs84]]. */
  def getGeom(crs: String): String = crs match {
    case "grid" => getGeom
    case "wgs84" =>
      lookup(db.stations.getGeomWgs84).select(col("geometry")).collect().headOption match {
        case Some(r) => r.getString(0)
        case None => throw new IllegalArgumentException(
          s"station $id is not in the registry")
      }
    case other => throw new IllegalArgumentException(
      s"unknown crs '$other' — use \"grid\" or \"wgs84\"")
  }

  /** is_real / is_virtual (StationCanVirtualBase): whether the
    * station's temperature companion has real observations. */
  def isReal: Boolean =
    getMeta.select(col("is_real")).head.getBoolean(0)
  def isVirtual: Boolean = !isReal

  /** get_dist (StationBases.py): distance to another station, from the
    * neighbor ranking's metric. */
  def getDist(otherId: Long): Double = {
    val m = db.meta.filter(col("station_id").isin(id, otherId))
      .select(col("station_id"), col("x"), col("y"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val (a, b) = (m(id), m(otherId))
    math.sqrt((a._1 - b._1) * (a._1 - b._1) + (a._2 - b._2) * (a._2 - b._2))
  }

  /** get_coef (StationBases.py:2423): regionalization coefficient
    * against another station — ratio of MA means (P/ET semantics) or
    * difference (T semantics). */
  def getCoef(otherId: Long, multiplicative: Boolean = true): Option[Double] = {
    val ma = Series.maMean(db.raw, "raw")
      .filter(col("station_id").isin(id, otherId))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for (a <- ma.get(id); b <- ma.get(otherId))
      yield if (multiplicative) a / b else a - b
  }

  /** get_filled_period for a kind (StationBases.py:2083). */
  def getFilledPeriod(kind: String = "filled"): TimestampPeriod = {
    val r = lookup(db.filled).agg(
      min(when(col(kind).isNotNull, col("day"))).as("from"),
      max(when(col(kind).isNotNull, col("day"))).as("until")).collect().head
    TimestampPeriod(
      Option(r.getDate(0)).map(_.toLocalDate),
      Option(r.getDate(1)).map(_.toLocalDate))
  }

  /** isin_meta / isin_db (StationBases.py:693,713): registry and data
    * membership — the guards the reference runs before any per-station
    * operation. */
  def isinMeta: Boolean = !getMeta.isEmpty
  def isinDb: Boolean = !lookup(db.raw).filter(col("raw").isNotNull).isEmpty

  /** isin_ma (StationBases.py:727): the station carries a
    * multi-annual mean — i.e. its raw series has at least one
    * observation to average. */
  def isinMa: Boolean =
    !lookup(Series.maMean(db.raw, "raw")).filter(col("ma").isNotNull).isEmpty

  /** isin_meta_p (StationBases.py:2887): membership in the
    * precipitation registry. The single-events-table model derives
    * every parameter's registry from the same events, so meta_p
    * membership coincides with meta membership (the T-side virtual
    * split is carried by is_real instead). */
  def isinMetaP: Boolean = isinMeta

  /** get_last_imp_period (StationBases.py:2179): the window recorded
    * by the last [[WeatherDb.markLastImport]]. Per-station and
    * all-stations views coincide in the single-ingest model (one
    * events table imports atomically), so `all` only mirrors the
    * reference signature. */
  def getLastImpPeriod(all: Boolean = false): TimestampPeriod =
    db.lastImpPeriodState

  /** is_last_imp_done (StationBases.py:779): has the broker worked
    * the pending import into the given kind's frame? True when no
    * import is pending. */
  def isLastImpDone(kind: String): Boolean = {
    require(db.lastImpDone.contains(kind),
      s"unknown last-imp kind '$kind' (expected ${db.lastImpDone.keys.toSeq.sorted.mkString("|")})")
    db.lastImpDone(kind)
  }

  /** get_period_meta (StationBases.py:2031): the per-kind period from
    * the (derived) meta model — 'filled' = the kind's filled period,
    * 'raw' = the raw coverage period, 'last_imp' = the pending
    * import's window, 'max' = the grid extent. */
  def getPeriodMeta(kind: String = "filled"): TimestampPeriod = kind match {
    case "filled" => getFilledPeriod("filled")
    case "raw" => getFilledPeriod("raw")
    case "last_imp" => getLastImpPeriod()
    case "max" => getMaxPeriod(nasAllowed = true)
    case other => throw new IllegalArgumentException(
      s"unknown period kind '$other' (expected filled|raw|last_imp|max)")
  }

  /** count_holes (StationBases.py:1925). */
  def countHoles: DataFrame = lookup(Aggregate.countHoles(db.qc))

  /** get_adj (StationBases.py:2763, StationP.py:3094, StationT.py:3136):
    * the filled series adjusted so its multi-annual mean matches the
    * raster climate value — multiplicative scaling for P/ET, additive
    * shift for T. The adjustment needs the station's whole series (its
    * MA mean), so the period applies to the adjusted frame. */
  def getAdj(multiplicative: Boolean = true,
      period: TimestampPeriod = TimestampPeriod.empty): DataFrame = {
    val raster = Series.raster(db.events)
    val adj = if (multiplicative) MultiAnnual.adjustMult(db.filled, raster)
      else MultiAnnual.adjustAdd(db.filled, raster)
    lookup(adj, period).select("day", "filled", "adj").orderBy("day")
  }

  /** get_ma_raster / get_multi_annual_raster (StationBases.py:2298,
    * 2333): the station's multi-annual raster climate values. */
  def getMaRaster: DataFrame = lookup(Series.raster(db.events))
}

object Station {
  /** The one single-station read path: `frame` resolved against the
    * cache now (a persisted frame becomes one in-memory leaf, see
    * [[GraftSqlBridge.fromCache]]), the station and period predicates
    * (pushed into the in-memory scan), then one partition: over a
    * persisted frame a later sort or per-station aggregate needs no
    * exchange, and the read is one job of one task. */
  private[api] def lookup(frame: DataFrame, id: Long, period: TimestampPeriod): DataFrame =
    GraftSqlBridge.fromCache(frame)
      .filter(((col("station_id") === id) +: WeatherDb.periodBounds(period)).reduce(_ && _))
      .coalesce(1)
}

/** All stations of one parameter — the reference's StationsBase. */
class Stations(db: WeatherDb) {
  def getMeta: DataFrame = db.meta
  /** get_df over ALL stations: tall (station_id, day, kinds…) frame
    * with period + free-form filter (StationsBase.get_df). */
  def getDf(kinds: Seq[String] = Seq("raw", "qc", "filled"),
      period: TimestampPeriod = TimestampPeriod.empty,
      sqlAddWhere: String = null): DataFrame = {
    val base = WeatherDb.inPeriod(db.filled, period)
    Option(sqlAddWhere).map(w => base.filter(expr(w))).getOrElse(base)
      .select((col("station_id") +: col("day") +: kinds.map(col)): _*)
  }
  /** quality_check over all stations (StationsBase.quality_check). */
  def qualityCheck: DataFrame = db.qc
  /** fillup over all stations (StationsBase.fillup). */
  def fillup: DataFrame = db.filled
  /** richter_correct over all stations (broker.richter_correct). */
  def richterCorrect: DataFrame = db.corr
  /** get_quotient (StationsBase.get_quotient). */
  def getQuotient(kindsNum: Seq[String], kindsDenom: Seq[String]): DataFrame =
    MultiAnnual.quotientKinds(db.filled)
      .filter(col("kind_num").isin(kindsNum: _*) && col("kind_denom").isin(kindsDenom: _*))
  /** count_holes for all stations (StationsBase.count_holes). */
  def countHoles: DataFrame = Aggregate.countHoles(db.qc)
  /** update (StationsBase.update): the full per-parameter cycle —
    * identical to Broker.updateDb; the persisted frames ARE the
    * "tables" the reference's update writes. */
  def update: DataFrame = db.corr
  /** update_ma_timeseries (StationsBase): the multi-annual means
    * derived from the current series — a recompute of the derived
    * frame, not a side-effecting table write. */
  def updateMaTimeseries: DataFrame = Series.maMean(db.raw, "raw")
  /** update_ma_raster (StationsBase): the raster climate values. */
  def updateMaRaster: DataFrame = Series.raster(db.events)
  /** get_valid_stids / get_stations (StationsBase). */
  def getValidStids: Seq[Long] =
    db.meta.select(col("station_id")).orderBy(col("station_id"))
      .collect().map(_.getLong(0)).toSeq

  /** get_geom over the whole registry (StationBases.py:1817 get_geom /
    * :1848 get_geom_shp, frame form): the station registry with its
    * point location serialized as WKT and GeoJSON string columns —
    * the engine's CRS-free analog of the reference's PostGIS/shapely
    * export (coordinates are the derived grid UTM-like x/y; a real
    * deployment would chain a proj transform here). Stateless
    * projection over the meta frame — no shuffle, no action. */
  def getGeom: DataFrame =
    db.meta.select(col("station_id"), col("x"), col("y"))
      .withColumn("geometry",
        concat(lit("POINT ("), col("x").cast("string"), lit(" "),
          col("y").cast("string"), lit(")")))
      .withColumn("geometry_geojson",
        concat(lit("""{"type":"Point","coordinates":["""),
          col("x").cast("string"), lit(","), col("y").cast("string"),
          lit("]}")))

  /** get_geom with the reference's CRS TRANSFORM (StationBases.py:1817
    * transforms EPSG:25832 → WGS84 via pyproj): the grid maps onto UTM
    * zone 32N (1 km spacing from the 500000/5400000 anchor) and the
    * inverse Transverse Mercator runs as [[graft.core.Geo]]'s shared
    * SQL chain — the identical expression strings power the DuckDB
    * oracle, so the projection arithmetic itself is cross-checked.
    * Stateless projection; every step is a codegen'd column. */
  def getGeomWgs84: DataFrame = {
    import graft.core.Geo
    val base = db.meta.select(col("station_id"), col("x"), col("y"))
      .withColumn("easting", lit(Geo.FalseEasting) + col("x") * lit(Geo.GridMeters))
      .withColumn("northing", lit(Geo.AnchorNorthing) + col("y") * lit(Geo.GridMeters))
    Geo.inverseUtmChain.foldLeft(base) { case (df, (name, sql)) =>
      df.withColumn(name, expr(sql))
    }
      .withColumn("geometry",
        concat(lit("POINT ("), col("lon").cast("string"), lit(" "),
          col("lat").cast("string"), lit(")")))
      .select(col("station_id"), col("x"), col("y"), col("easting"),
        col("northing"), col("lon"), col("lat"), col("geometry"))
  }

  /** get_meta_explanation (StationBases.py:1758): the describable
    * catalog of the meta frame's columns — name → explanation, the
    * reference's column-comment introspection re-expressed as a static
    * frame (our meta frame is a plan, not a commented DB table).
    * `infos = "all"` or a subset of column names, like the reference. */
  def getMetaExplanation(infos: Seq[String] = Seq("all")): DataFrame = {
    val all = Stations.metaExplanation
    val picked = if (infos == Seq("all")) all
      else {
        val unknown = infos.filterNot(i => all.exists(_._1 == i))
        require(unknown.isEmpty, s"unknown meta infos: ${unknown.mkString(", ")}")
        all.filter { case (k, _) => infos.contains(k) }
      }
    import db.spark.implicits._
    picked.toDF("info", "explanation")
  }

  /** get_meta_explorer (StationsBase): the explanation joined column-
    * wise onto the live meta values — one row per station, plus the
    * catalog available for tooling. Spark-native: the values frame IS
    * db.meta; this accessor just pins the documented column order. */
  def getMetaExplorer: DataFrame =
    db.meta.select(Stations.metaExplanation.map(e => col(e._1)): _*)
}

object Stations {
  /** One entry per column of [[WeatherDb.meta]] (Series.stationMeta),
    * mirroring the reference's meta-table column comments
    * (models.py MetaBase/MetaP/…, surfaced via get_meta_explanation). */
  val metaExplanation: Seq[(String, String)] = Seq(
    "station_id" -> "unique station identifier (the reference's Station_ID)",
    "x" -> "grid easting of the station location (UTM-like coordinate)",
    "y" -> "grid northing of the station location (UTM-like coordinate)",
    "elev" -> "station elevation above sea level (stationshoehe)",
    "horizon" -> "horizon shading angle used for the Richter exposition class",
    "raw_from" -> "first timestamp with raw data for this station",
    "raw_until" -> "last timestamp with raw data for this station",
    "n_obs" -> "number of raw observations on record",
    "is_real" -> "whether the station has own measurements (false = virtual station, series filled from neighbors)")
}

/** The reference's Broker (broker.py): orchestrates the update cycle —
  * full runs over all stations and period-scoped last-import runs that
  * merge into the persisted frames (`last_imp_quality_check`,
  * `last_imp_fillup`, `last_imp_corr`, `update_db`). */
class Broker(db: WeatherDb) {
  import java.sql.Date

  /** update_db: the full cycle raw → qc → fillup → corr; returns the
    * final corrected frame (each stage persists via the db fields). */
  def updateDb: DataFrame = db.corr

  /** _mark_last_imp_done twin — fired AFTER the stage's frame is
    * built, and only when the processed [lo,hi] window actually covers
    * the pending last-import period (the reference marks fillup done
    * only under that coverage check, StationBases.py:1667-1669; a
    * window that misses the import would otherwise read 'done' while
    * the imported rows were never processed). A full-recompute
    * fallback always covers everything, so coverage always holds then.
    *
    * Prerequisite-kind gating on top of coverage: the reference marks
    * 'filled' done only when qc is already done (StationBases.py:
    * 1664-1669) and 'corr' only when qc AND filled are
    * (StationP.py:643-646) — an out-of-order broker call (lastImpCorr
    * before lastImpQualityCheck) must leave its kind pending, because
    * the stage just ran against a stale upstream frame. */
  private def markDone(kind: String, lo: Date, hi: Date, full: Boolean): Unit = {
    val window = TimestampPeriod(Some(lo.toLocalDate), Some(hi.toLocalDate))
    // Divergence note: the reference keys the prerequisite set off each
    // station type's _valid_kinds — StationBases.py:1664 marks 'filled'
    // done when 'qc' is not a valid kind at all (e.g. StationPD has no
    // qc stage). graft models only the P-style station, where qc IS
    // valid, so the unconditional gate below is equivalent; if non-P
    // station types are added, derive `prereqsDone` from a per-station
    // valid-kinds set instead.
    val prereqsDone = kind match {
      case "filled" => db.lastImpDone("qc")
      case "corr"   => db.lastImpDone("qc") && db.lastImpDone("filled")
      case _        => true
    }
    if (prereqsDone && (full || window.contains(db.lastImpPeriodState)))
      db.lastImpDone.put(kind, true)
  }

  /** last_imp_quality_check: QC only for the last-import window,
    * merged into the persisted qc frame. Falls back to a full QC run
    * when the import introduced stations absent from `prevQc`. */
  def lastImpQualityCheck(prevQc: DataFrame, lo: Date, hi: Date): DataFrame = {
    val incremental = Incremental.coversAllStations(prevQc, db.meta)
    val out =
      if (incremental)
        Incremental.updateQc(prevQc, db.raw, Series.dailyRef(db.events), db.meta, lo, hi)
      else db.qc
    markDone("qc", lo, hi, full = !incremental)
    out
  }

  /** last_imp_fillup: fill-up only for the last-import window; full
    * recompute when `prevFilled` misses a (new) station. */
  def lastImpFillup(prevFilled: DataFrame, qc: DataFrame, lo: Date, hi: Date): DataFrame = {
    val incremental = Incremental.coversAllStations(prevFilled, db.meta)
    val out =
      if (incremental) Incremental.updateFilled(prevFilled, qc, db.meta, lo, hi)
      else Fillup.fillNeighbor(qc, db.meta)
    markDone("filled", lo, hi, full = !incremental)
    out
  }

  /** last_imp_corr: Richter correction only for the last-import window;
    * full recompute when `prevCorr` misses a (new) station. */
  def lastImpCorr(prevCorr: DataFrame, filled: DataFrame, lo: Date, hi: Date): DataFrame = {
    val incremental = Incremental.coversAllStations(prevCorr, db.meta)
    val out =
      if (incremental)
        Incremental.updateCorr(prevCorr, filled, db.tempFilled, db.meta, lo, hi)
      else Richter.correct(db.spark, filled, db.tempFilled, db.meta)
    markDone("corr", lo, hi, full = !incremental)
    out
  }
}

/** All parameters of one location — the reference's GroupStation
  * (create_ts model-input export). */
class GroupStation(db: WeatherDb, val id: Long) {
  /** Wide per-day frame of the P/T/ET-like parameters
    * (GroupStation.get_df / create_ts). */
  def getDf(period: TimestampPeriod = TimestampPeriod.empty): DataFrame =
    Station.lookup(Aggregate.groupWide(db.events), id, period).orderBy(col("day"))

  /** create_ts: write the model-input export in the reference's text
    * layout — per-parameter tab-separated files with the 2-line meta
    * header, split-date columns and empty-string NAs
    * (GroupStation.py create_ts / _create_ts; layout details in
    * [[ModelExport]]). */
  def createTs(outDir: String, period: TimestampPeriod = TimestampPeriod.empty,
      splitDate: Boolean = true, addMeta: Boolean = true): Unit =
    ModelExport.writeTs(
      WeatherDb.inPeriod(Aggregate.groupWide(db.events), period)
        .filter(col("station_id") === id),
      db.meta, outDir, ModelExport.defaultParas, splitDate = splitDate,
      roger = false, addMeta = addMeta)

  /** create_roger_ts (GroupStation.py:347): the RoGeR toolbox wrapper
    * around create_ts — PREC/TA/PET column+file names, YYYY/MM/DD date
    * parts, no meta header, constant R/R0 column on the PET file. */
  def createRogerTs(outDir: String, period: TimestampPeriod = TimestampPeriod.empty,
      rR0: Double = 1.0): Unit =
    ModelExport.writeTs(
      WeatherDb.inPeriod(Aggregate.groupWide(db.events), period)
        .filter(col("station_id") === id),
      db.meta, outDir, ModelExport.rogerParas, splitDate = true,
      roger = true, addMeta = false, rR0 = Some(rR0))
}

/** All group stations — the reference's GroupStations
  * (GroupStations.py: create_ts over every location). */
class GroupStations(db: WeatherDb) {
  /** get_valid_stids (GroupStations.py:37). */
  def getValidStids: Seq[Long] = new Stations(db).getValidStids

  /** create_ts for ALL locations in one distributed write: the
    * reference loops stations and writes one text file each
    * (GroupStations.py:296); here every (station, parameter) file text
    * is assembled in one shuffle and written partitionBy(station_id,
    * file) — the same one-directory-per-location layout, but each
    * executor writes its own stations, so the export scales with the
    * cluster instead of a driver loop. */
  def createTs(outDir: String, period: TimestampPeriod = TimestampPeriod.empty,
      splitDate: Boolean = true, addMeta: Boolean = true): Unit =
    ModelExport.writeTs(
      WeatherDb.inPeriod(Aggregate.groupWide(db.events), period),
      db.meta, outDir, ModelExport.defaultParas, splitDate = splitDate,
      roger = false, addMeta = addMeta)

  /** create_roger_ts for ALL locations (GroupStations.py create_roger_ts):
    * the RoGeR toolbox layout — YYYY/MM/DD columns, PREC/TA/PET names,
    * constant R/R0 on the PET file, no meta header. */
  def createRogerTs(outDir: String, period: TimestampPeriod = TimestampPeriod.empty,
      rR0: Double = 1.0): Unit =
    ModelExport.writeTs(
      WeatherDb.inPeriod(Aggregate.groupWide(db.events), period),
      db.meta, outDir, ModelExport.rogerParas, splitDate = true,
      roger = true, addMeta = false, rR0 = Some(rR0))
}
