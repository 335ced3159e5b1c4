package graft.tsdb

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Driver-contract entry points for the station-timeseries operators. */
object TsQueries {

  private def ev(s: SparkSession, d: String): DataFrame = Tables.events(s, d)

  def qMetaDerive(s: SparkSession, d: String): DataFrame =
    meta(s, d).orderBy(col("station_id"))

  def qExpandGrid(s: SparkSession, d: String): DataFrame =
    rawDaily(s, d).orderBy(col("station_id"), col("day"))

  def qKnnDist(s: SparkSession, d: String): DataFrame =
    Neighbors.knnDist(meta(s, d)).orderBy(col("station_id"), col("rank"))

  def qKnnBucketed(s: SparkSession, d: String): DataFrame =
    Neighbors.knnDistBucketed(meta(s, d))
      .orderBy(col("station_id"), col("rank"))

  def qKnnElev(s: SparkSession, d: String): DataFrame =
    Neighbors.knnElev(meta(s, d)).orderBy(col("station_id"), col("rank"))

  /** only_real neighbor selection (reference default): virtual
    * stations never serve as donors; still via the bucketed scale
    * path. */
  def qKnnReal(s: SparkSession, d: String): DataFrame =
    Neighbors.knnDistBucketed(meta(s, d), onlyReal = true)
      .orderBy(col("station_id"), col("rank"))

  def qQcRange(s: SparkSession, d: String): DataFrame =
    QualityCheck.range(rawDaily(s, d))
      .select("station_id", "day", "raw", "qc").orderBy(col("station_id"), col("day"))

  def qQcRepeats(s: SparkSession, d: String): DataFrame =
    QualityCheck.repeats(rawDaily(s, d))
      .select("station_id", "day", "raw", "qc").orderBy(col("station_id"), col("day"))

  def qQcSpike(s: SparkSession, d: String): DataFrame =
    QualityCheck.spike(rawDaily(s, d))
      .select("station_id", "day", "raw", "qc").orderBy(col("station_id"), col("day"))

  def qQcDailyCompare(s: SparkSession, d: String): DataFrame =
    QualityCheck.dailyCompare(rawDaily(s, d), ref(s, d))
      .select("station_id", "day", "raw", "ref", "day_failed", "qc")
      .orderBy(col("station_id"), col("day"))

  def qQcNeighborMedian(s: SparkSession, d: String): DataFrame =
    QualityCheck.neighborMedian(rawDaily(s, d), meta(s, d))
      .select("station_id", "day", "raw", "nbs_median", "qc")
      .orderBy(col("station_id"), col("day"))

  /** Combined QC series — also the input for fill-up stages.
    *
    * Memoized + persisted per (session, sf dir): the qc and filled
    * kinds are consumed by a dozen downstream queries (and the fill
    * join consumes the qc frame three times in one plan); caching the
    * materialized frame mirrors the reference's stored qc/filled
    * columns — the reference also computes each kind once and persists
    * it in the timeseries table rather than recomputing per query. */
  private val memo = scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), DataFrame]

  /** Drop this session's memoized kind frames. Benchmark hygiene: a
    * timed re-run must recompute the real distributed plans rather
    * than read the previous run's cache — clearing the memo between
    * runs separates "the compute is fast" from "the cache is warm". */
  def clearMemo(s: SparkSession): Unit =
    memo.keys.filter(_._1 eq s).foreach { k =>
      memo.remove(k).foreach(_.unpersist())
    }

  /** Memoized + persisted base daily series (consumed by every QC rule
    * branch and several retrieval queries). */
  def rawDaily(s: SparkSession, d: String): DataFrame =
    memo.getOrElseUpdate((s, d, "raw"), Series.dailyRaw(ev(s, d)).persist())

  /** Memoized station registry — one events scan + agg consumed by
    * nearly every timeseries query (knn, QC, every fill variant,
    * Richter); the O(#stations) frame mirrors the reference's persisted
    * meta_{para} table. */
  def meta(s: SparkSession, d: String): DataFrame =
    memo.getOrElseUpdate((s, d, "meta"), Series.stationMeta(ev(s, d)).persist())

  /** Memoized independent daily reference series (daily-compare QC). */
  def ref(s: SparkSession, d: String): DataFrame =
    memo.getOrElseUpdate((s, d, "ref"), Series.dailyRef(ev(s, d)).persist())

  /** Memoized dense hourly series (agg_to ladder base + sub-daily
    * Richter). */
  def hourly(s: SparkSession, d: String): DataFrame =
    memo.getOrElseUpdate((s, d, "hourly"), Series.hourlyRaw(ev(s, d)).persist())

  def qcAll(s: SparkSession, d: String): DataFrame =
    memo.getOrElseUpdate((s, d, "qc"),
      QualityCheck.all(rawDaily(s, d), ref(s, d), meta(s, d)).persist())

  def qQcAll(s: SparkSession, d: String): DataFrame =
    qcAll(s, d).select("station_id", "day", "raw", "n_obs", "qc", "qn")
      .orderBy(col("station_id"), col("day"))

  def qQcDroppedShare(s: SparkSession, d: String): DataFrame =
    QualityCheck.droppedShare(qcAll(s, d)).orderBy(col("station_id"))

  /** Standard filled series: combined QC + multiplicative neighbor fill. */
  def filledSeries(s: SparkSession, d: String): DataFrame =
    memo.getOrElseUpdate((s, d, "filled"),
      Fillup.fillNeighbor(qcAll(s, d), meta(s, d)).persist())

  def qFillNeighbor(s: SparkSession, d: String): DataFrame =
    filledSeries(s, d)
      .select("station_id", "day", "raw", "qc", "filled", "filled_by")
      .orderBy(col("station_id"), col("day"))

  def qFillSeasonal(s: SparkSession, d: String): DataFrame =
    Fillup.fillSeasonal(qcAll(s, d), meta(s, d))
      .select("station_id", "day", "is_winter", "qc", "filled", "filled_by")
      .orderBy(col("station_id"), col("day"))

  def qFillMedian5(s: SparkSession, d: String): DataFrame =
    Fillup.fillMedian(qcAll(s, d), meta(s, d))
      .select("station_id", "day", "qc", "filled", "filled_by")
      .orderBy(col("station_id"), col("day"))

  def qFillAdditive(s: SparkSession, d: String): DataFrame =
    Fillup.fillAdditive(qcAll(s, d), meta(s, d), Series.dailyMinMax(ev(s, d)))
      .select("station_id", "day", "qc", "filled", "filled_min", "filled_max", "filled_by")
      .orderBy(col("station_id"), col("day"))

  def qFillInterp(s: SparkSession, d: String): DataFrame =
    Fillup.fillInterp(qcAll(s, d))
      .select("station_id", "day", "qc", "filled", "filled_by")
      .orderBy(col("station_id"), col("day"))

  def qFillShare(s: SparkSession, d: String): DataFrame =
    Fillup.filledShare(filledSeries(s, d)).orderBy(col("station_id"), col("month"))

  def qFillIdw(s: SparkSession, d: String): DataFrame =
    Fillup.fillIdw(qcAll(s, d), meta(s, d))
      .select("station_id", "day", "qc", "filled", "n_donors")
      .orderBy(col("station_id"), col("day"))

  def qRollingStats(s: SparkSession, d: String): DataFrame =
    Aggregate.rollingStats(filledSeries(s, d))
      .orderBy(col("station_id"), col("day"))

  def qMaTimeseries(s: SparkSession, d: String): DataFrame =
    MultiAnnual.maTimeseries(filledSeries(s, d)).orderBy(col("station_id"), col("kind"))

  def qMaSeasonal(s: SparkSession, d: String): DataFrame =
    MultiAnnual.maTimeseriesTerms(filledSeries(s, d))
      .orderBy(col("station_id"), col("kind"), col("term"))

  def qQuotientKinds(s: SparkSession, d: String): DataFrame =
    MultiAnnual.quotientKinds(filledSeries(s, d))
      .orderBy(col("station_id"), col("kind_num"), col("kind_denom"))

  def qQuotientRaster(s: SparkSession, d: String): DataFrame =
    MultiAnnual.quotientRaster(filledSeries(s, d), Series.raster(ev(s, d)))
      .orderBy(col("station_id"), col("kind"))

  def qAdjustMult(s: SparkSession, d: String): DataFrame =
    MultiAnnual.adjustMult(filledSeries(s, d), Series.raster(ev(s, d)))
      .orderBy(col("station_id"), col("day"))

  def qAdjustAdd(s: SparkSession, d: String): DataFrame =
    MultiAnnual.adjustAdd(filledSeries(s, d), Series.raster(ev(s, d)))
      .orderBy(col("station_id"), col("day"))

  def qAggDay(s: SparkSession, d: String): DataFrame =
    Aggregate.aggDayFromHourly(hourly(s, d))
      .orderBy(col("station_id"), col("day"))

  def qAggMonth(s: SparkSession, d: String): DataFrame =
    Aggregate.aggMonthSum(filledSeries(s, d)).orderBy(col("station_id"), col("month"))

  def qAggMonthMean(s: SparkSession, d: String): DataFrame =
    Aggregate.aggMonthMean(filledSeries(s, d)).orderBy(col("station_id"), col("month"))

  def qAggYear(s: SparkSession, d: String): DataFrame =
    Aggregate.aggYearSum(filledSeries(s, d)).orderBy(col("station_id"), col("year"))

  def qGroupWide(s: SparkSession, d: String): DataFrame =
    Aggregate.groupWide(ev(s, d)).orderBy(col("station_id"), col("day"))

  def qFilledPeriod(s: SparkSession, d: String): DataFrame =
    Aggregate.filledPeriod(filledSeries(s, d)).orderBy(col("station_id"), col("kind"))

  def qMaxPeriod(s: SparkSession, d: String): DataFrame =
    Aggregate.maxPeriod(filledSeries(s, d)).orderBy(col("station_id"))

  def qCountHoles(s: SparkSession, d: String): DataFrame =
    Aggregate.countHoles(qcAll(s, d)).orderBy(col("station_id"))

  def qRichterClass(s: SparkSession, d: String): DataFrame =
    Richter.richterClass(meta(s, d)).orderBy(col("station_id"))

  /** Filled temperature companion (virtual-station cycle): the Richter
    * typing joins the T station's FILLED series, as the reference does
    * (StationP.py:604 joins tst."filled" after forcing stat_t.fillup). */
  private[graft] def tempFilled(s: SparkSession, d: String): DataFrame =
    memo.getOrElseUpdate((s, d, "tfill"), {
      Fillup.tempCompanion(ev(s, d), meta(s, d)).persist()
    })

  def qRichterCorrect(s: SparkSession, d: String): DataFrame =
    Richter.correct(s, filledSeries(s, d), tempFilled(s, d), meta(s, d))
      .orderBy(col("station_id"), col("day"))

  def qRichterCorrectHourly(s: SparkSession, d: String): DataFrame =
    Richter.correctHourly(s, hourly(s, d), tempFilled(s, d),
      meta(s, d))
      .orderBy(col("station_id"), col("hour"))

  def qSessionize(s: SparkSession, d: String): DataFrame =
    Aggregate.sessionize(ev(s, d)).orderBy(col("station_id"), col("session_id"))

  def qSessionStats(s: SparkSession, d: String): DataFrame =
    Aggregate.sessionStats(ev(s, d))

  def qStreamWindow(s: SparkSession, d: String): DataFrame =
    Aggregate.streamWindowBatch(ev(s, d)).orderBy(col("window_start"), col("event_type"))

  def qWindowSliding(s: SparkSession, d: String): DataFrame =
    Aggregate.slidingWindow(ev(s, d)).orderBy(col("window_start"), col("event_type"))

  def qUnpivot(s: SparkSession, d: String): DataFrame =
    Aggregate.unpivotWide(Aggregate.groupWide(ev(s, d)))
      .orderBy(col("station_id"), col("day"), col("para"))

  def qRangeJoinTime(s: SparkSession, d: String): DataFrame =
    Aggregate.rangeJoinTime(ev(s, d)).orderBy(col("event_id"))

  /** Model-input export as a frame (GroupStation.create_ts,
    * GroupStation.py:434): one row per (station, parameter file) with
    * the complete text content — the driver-gated form of
    * [[graft.api.ModelExport.writeTs]] (header + split date + NA
    * encoding reproduced byte-for-byte by the DuckDB oracle). */
  def qModelExport(s: SparkSession, d: String): DataFrame =
    graft.api.ModelExport.tsFiles(
      Aggregate.groupWide(ev(s, d)), meta(s, d),
      graft.api.ModelExport.defaultParas,
      splitDate = true, roger = false, addMeta = false, rR0 = None)
      .orderBy(col("station_id"), col("file"))

  def qDrySpells(s: SparkSession, d: String): DataFrame =
    Climate.drySpells(rawDaily(s, d)).orderBy(col("station_id"), col("yr"))

  def qDegreeDays(s: SparkSession, d: String): DataFrame =
    Climate.degreeDays(Series.dailyTemp(ev(s, d)))
      .orderBy(col("station_id"), col("month"))

  def qReturnPeriod(s: SparkSession, d: String): DataFrame =
    Climate.returnPeriods(rawDaily(s, d)).orderBy(col("station_id"), col("m"))

  def qSpiZscore(s: SparkSession, d: String): DataFrame =
    Climate.spiZscore(rawDaily(s, d)).orderBy(col("station_id"), col("day"))

  /** The trend family runs on the WEEKLY aggregate of the 30-day test
    * feed (n ≈ 5 per station; multi-year data uses the operators'
    * monthly default) — the pair-enumeration input is always the
    * pre-aggregated, cap-guarded frame, never raw days. */
  def qTrendMk(s: SparkSession, d: String): DataFrame =
    Climate.mannKendall(rawDaily(s, d), granularity = "week")
      .orderBy(col("station_id"))

  def qDoubleMass(s: SparkSession, d: String): DataFrame =
    Climate.doubleMass(rawDaily(s, d), Neighbors.knnDistBucketed(meta(s, d)))
      .orderBy(col("station_id"))

  def qSeasonalDecompose(s: SparkSession, d: String): DataFrame =
    Climate.seasonalDecompose(rawDaily(s, d))
      .orderBy(col("station_id"), col("day"))

  def qTheilSen(s: SparkSession, d: String): DataFrame =
    Climate.theilSen(rawDaily(s, d), granularity = "week")
      .orderBy(col("station_id"))

  def qRunsTest(s: SparkSession, d: String): DataFrame =
    Climate.runsTest(rawDaily(s, d)).orderBy(col("station_id"))

  def qIdfCurve(s: SparkSession, d: String): DataFrame =
    Climate.idfCurve(hourly(s, d)).orderBy(col("station_id"), col("duration_h"))

  def qApiIndex(s: SparkSession, d: String): DataFrame =
    Climate.apiIndex(rawDaily(s, d)).orderBy(col("station_id"), col("day"))

  def qHeatWaves(s: SparkSession, d: String): DataFrame =
    Climate.heatWaves(tempStats(s, d)).orderBy(col("station_id"), col("yr"))

  def qClimatologyBands(s: SparkSession, d: String): DataFrame =
    Climate.climatologyBands(rawDaily(s, d))
      .orderBy(col("station_id"), col("moy"))

  def qMonthlyExtremes(s: SparkSession, d: String): DataFrame =
    Climate.monthlyExtremes(rawDaily(s, d))
      .orderBy(col("station_id"), col("month"))

  def qAvailability(s: SparkSession, d: String): DataFrame =
    Climate.availability(rawDaily(s, d)).orderBy(col("station_id"), col("month"))

  /** Memoized dense daily temperature stats (mean + extrema in one
    * frame) — shared by the count indices and Hargreaves ET. */
  private def tempStats(s: SparkSession, d: String): DataFrame =
    memo.getOrElseUpdate((s, d, "tstats"),
      Series.dailyTempStats(ev(s, d)).persist())

  def qEtHargreaves(s: SparkSession, d: String): DataFrame =
    Climate.etHargreaves(tempStats(s, d), meta(s, d))
      .orderBy(col("station_id"), col("day"))

  def qNeighborCorr(s: SparkSession, d: String): DataFrame =
    Climate.neighborCorr(rawDaily(s, d), Neighbors.knnDistBucketed(meta(s, d)))
      .orderBy(col("station_id"), col("rank"))

  def qNearestTime(s: SparkSession, d: String): DataFrame =
    Aggregate.nearestTimeJoin(ev(s, d)).orderBy(col("event_id"))

  def qFrostDays(s: SparkSession, d: String): DataFrame =
    Climate.countIndices(tempStats(s, d))
      .orderBy(col("station_id"), col("yr"))

  def qRx5day(s: SparkSession, d: String): DataFrame =
    Climate.rxNday(rawDaily(s, d)).orderBy(col("station_id"), col("yr"))

  def qR95p(s: SparkSession, d: String): DataFrame =
    Climate.r95p(rawDaily(s, d)).orderBy(col("station_id"))

  def qClimatology(s: SparkSession, d: String): DataFrame =
    Climate.climatology(rawDaily(s, d)).orderBy(col("station_id"), col("day"))

  def qLapseRate(s: SparkSession, d: String): DataFrame =
    Climate.lapseRate(Series.dailyTemp(ev(s, d)), meta(s, d)).orderBy(col("day"))

  def qAcf(s: SparkSession, d: String): DataFrame =
    Climate.acf(rawDaily(s, d)).orderBy(col("station_id"), col("lag"))

  def qLjungBox(s: SparkSession, d: String): DataFrame =
    Climate.ljungBox(rawDaily(s, d)).orderBy(col("station_id"))

  def qOlsTrend(s: SparkSession, d: String): DataFrame =
    Climate.olsTrend(rawDaily(s, d)).orderBy(col("station_id"))

  def qHurst(s: SparkSession, d: String): DataFrame =
    Climate.hurstRs(hourly(s, d)).orderBy(col("station_id"))

  def qDtr(s: SparkSession, d: String): DataFrame =
    Climate.diurnalRange(tempStats(s, d)).orderBy(col("station_id"), col("mon"))

  def qGrubbs(s: SparkSession, d: String): DataFrame =
    Climate.grubbs(rawDaily(s, d)).orderBy(col("station_id"))

  def qHoltBrown(s: SparkSession, d: String): DataFrame =
    Climate.brownDouble(rawDaily(s, d)).orderBy(col("station_id"), col("day"))

  def qHoltWinters(s: SparkSession, d: String): DataFrame =
    Climate.holtWinters(rawDaily(s, d)).orderBy(col("station_id"), col("day"))

  def qGranger(s: SparkSession, d: String): DataFrame =
    Climate.grangerNeighbor(rawDaily(s, d), Neighbors.knnDistBucketed(meta(s, d)))
      .orderBy(col("station_id"))

  def qPacf(s: SparkSession, d: String): DataFrame =
    Climate.pacf(rawDaily(s, d)).orderBy(col("station_id"), col("lag"))

  def qSeasonalStrength(s: SparkSession, d: String): DataFrame =
    Climate.seasonalStrength(rawDaily(s, d)).orderBy(col("station_id"))

  def qPrecipIndices(s: SparkSession, d: String): DataFrame =
    Climate.precipIndices(rawDaily(s, d)).orderBy(col("station_id"), col("yr"))

  def qTxTnPercentile(s: SparkSession, d: String): DataFrame =
    Climate.txTnPercentile(tempStats(s, d)).orderBy(col("station_id"))

  def qWetDryMarkov(s: SparkSession, d: String): DataFrame =
    Climate.wetDryMarkov(rawDaily(s, d)).orderBy(col("station_id"))

  def qDiurnalCycle(s: SparkSession, d: String): DataFrame =
    Climate.diurnalCycle(hourly(s, d)).orderBy(col("station_id"), col("hod"))

  def qOhlc(s: SparkSession, d: String): DataFrame =
    Climate.ohlc(hourly(s, d)).orderBy(col("station_id"), col("day"))

  def qDtw(s: SparkSession, d: String): DataFrame =
    Climate.dtwNeighbors(rawDaily(s, d), Neighbors.knnDistBucketed(meta(s, d)))
      .orderBy(col("station_id"), col("rank"))

  def qGumbel(s: SparkSession, d: String): DataFrame =
    Climate.gumbelFit(hourly(s, d)).orderBy(col("station_id"))

  def qFloodSeasonality(s: SparkSession, d: String): DataFrame =
    Climate.floodSeasonality(rawDaily(s, d)).orderBy(col("station_id"))

  def qBudyko(s: SparkSession, d: String): DataFrame =
    Climate.budyko(tempStats(s, d), rawDaily(s, d)).orderBy(col("station_id"))

  def qPeriodogramDaily(s: SparkSession, d: String): DataFrame =
    Climate.periodogramDaily(rawDaily(s, d))
      .orderBy(col("station_id"), col("period_days"))

  def qWeibullFit(s: SparkSession, d: String): DataFrame =
    Climate.weibullFit(rawDaily(s, d)).orderBy(col("station_id"))

  def qEsdOutliers(s: SparkSession, d: String): DataFrame =
    Climate.esdOutliers(rawDaily(s, d))
      .orderBy(col("station_id"), col("round"))

  def qQuantileMapping(s: SparkSession, d: String): DataFrame =
    Climate.quantileMapping(rawDaily(s, d), Neighbors.knnDistBucketed(meta(s, d)))
      .orderBy(col("station_id"), col("day"))

  def qSolarRa(s: SparkSession, d: String): DataFrame =
    Climate.solarRa(Series.grid(ev(s, d)), meta(s, d))
      .orderBy(col("station_id"), col("day"))

  def qSnowpack(s: SparkSession, d: String): DataFrame =
    Climate.snowpack(rawDaily(s, d), Series.dailyTemp(ev(s, d)))
      .orderBy(col("station_id"))

  def qScsRunoff(s: SparkSession, d: String): DataFrame =
    Climate.scsRunoff(rawDaily(s, d)).orderBy(col("station_id"))

  def qLowess(s: SparkSession, d: String): DataFrame =
    Climate.lowess(rawDaily(s, d)).orderBy(col("station_id"), col("day"))

  def qGevLmoments(s: SparkSession, d: String): DataFrame =
    Climate.gevLmoments(hourly(s, d)).orderBy(col("station_id"))

  def qKpss(s: SparkSession, d: String): DataFrame =
    Climate.kpss(rawDaily(s, d)).orderBy(col("station_id"))

  def qAdf(s: SparkSession, d: String): DataFrame =
    Climate.dickeyFuller(rawDaily(s, d)).orderBy(col("station_id"))

  def qCointEg(s: SparkSession, d: String): DataFrame =
    Climate.engleGranger(rawDaily(s, d), Neighbors.knnDistBucketed(meta(s, d)))
      .orderBy(col("station_id"))

  def qSnScale(s: SparkSession, d: String): DataFrame =
    Climate.snScale(rawDaily(s, d), granularity = "week")
      .orderBy(col("station_id"))

  def qBhFdr(s: SparkSession, d: String): DataFrame =
    Climate.bhFdr(rawDaily(s, d), granularity = "week")
      .orderBy(col("station_id"))

  def qPotGpd(s: SparkSession, d: String): DataFrame =
    Climate.potGpd(rawDaily(s, d)).orderBy(col("station_id"))

  def qVariogram(s: SparkSession, d: String): DataFrame =
    Climate.variogram(rawDaily(s, d), meta(s, d)).orderBy(col("bin"))

  def qAssortativity(s: SparkSession, d: String): DataFrame =
    graft.graph.GraphOps.assortativity(knnEdges(s, d))

  def qJarqueBera(s: SparkSession, d: String): DataFrame =
    Climate.jarqueBera(rawDaily(s, d)).orderBy(col("station_id"))

  def qDurbinWatson(s: SparkSession, d: String): DataFrame =
    Climate.durbinWatson(rawDaily(s, d)).orderBy(col("station_id"))

  def qYuleWalker(s: SparkSession, d: String): DataFrame =
    Climate.yuleWalkerAr2(rawDaily(s, d)).orderBy(col("station_id"))

  def qKendallBinned(s: SparkSession, d: String): DataFrame =
    Climate.kendallTauBinned(meta(s, d), rawDaily(s, d))

  def qSpectralEntropy(s: SparkSession, d: String): DataFrame =
    Climate.spectralEntropy(hourly(s, d)).orderBy(col("station_id"))

  def qMiBinned(s: SparkSession, d: String): DataFrame =
    Climate.miBinned(meta(s, d), rawDaily(s, d))

  def qIdwGrid(s: SparkSession, d: String): DataFrame =
    Neighbors.idwGrid(meta(s, d), rawDaily(s, d))
      .orderBy(col("cx"), col("cy"))

  def qFlowDuration(s: SparkSession, d: String): DataFrame =
    Climate.flowDuration(rawDaily(s, d))
      .orderBy(col("station_id"), col("prob"))

  def qBaseflow(s: SparkSession, d: String): DataFrame =
    Climate.baseflow(rawDaily(s, d)).orderBy(col("station_id"), col("day"))

  def qRainErosivity(s: SparkSession, d: String): DataFrame =
    Climate.rainErosivity(hourly(s, d))
      .orderBy(col("station_id"), col("storm_id"))

  def qWilcoxonSigned(s: SparkSession, d: String): DataFrame =
    Climate.wilcoxonSigned(hourly(s, d)).orderBy(col("station_id"))

  def qFriedman(s: SparkSession, d: String): DataFrame =
    Climate.friedman(rawDaily(s, d)).orderBy(col("dow"))

  def qPotDecluster(s: SparkSession, d: String): DataFrame =
    Climate.potDecluster(rawDaily(s, d)).orderBy(col("station_id"))

  def qEbShrinkage(s: SparkSession, d: String): DataFrame =
    Climate.ebShrinkage(rawDaily(s, d)).orderBy(col("station_id"))

  def qTailDependence(s: SparkSession, d: String): DataFrame =
    Climate.tailDependence(rawDaily(s, d), Neighbors.knnDistBucketed(meta(s, d)))
      .orderBy(col("station_id"), col("rank"))

  def qEffectiveN(s: SparkSession, d: String): DataFrame =
    Climate.effectiveSampleSize(rawDaily(s, d)).orderBy(col("station_id"))

  def qFieldSignificance(s: SparkSession, d: String): DataFrame =
    Climate.fieldSignificance(rawDaily(s, d), granularity = "week")

  def qGearyC(s: SparkSession, d: String): DataFrame =
    Climate.gearyC(rawDaily(s, d), Neighbors.knnDistBucketed(meta(s, d)))

  def qKcore(s: SparkSession, d: String): DataFrame =
    graft.graph.GraphOps.kCore(knnEdges(s, d)).orderBy(col("station_id"))

  /** Modularity of the zoom-4 spatial-cell partition on the kNN
    * graph: kNN edges are distance-local, so the cell partition
    * should score well above random — the one-number check that the
    * spatial bucketing used by the scale joins respects the graph. */
  def qModularity(s: SparkSession, d: String): DataFrame = {
    val labels = meta(s, d).select(col("station_id"),
      concat_ws("_", floor(col("x") / 4).cast("long"),
        floor(col("y") / 4).cast("long")).as("community"))
    graft.graph.GraphOps.modularity(knnEdges(s, d), labels)
  }

  def qConcurrency(s: SparkSession, d: String): DataFrame =
    Aggregate.concurrency(ev(s, d)).orderBy(col("day"))

  def qGetisOrd(s: SparkSession, d: String): DataFrame =
    Climate.getisOrd(rawDaily(s, d), Neighbors.knnDistBucketed(meta(s, d)))
      .orderBy(col("station_id"))

  def qBootstrapCi(s: SparkSession, d: String): DataFrame =
    Climate.bootstrapCi(rawDaily(s, d)).orderBy(col("station_id"))

  def qMoransI(s: SparkSession, d: String): DataFrame =
    Climate.moransI(rawDaily(s, d), Neighbors.knnDistBucketed(meta(s, d)))

  def qLocalMoran(s: SparkSession, d: String): DataFrame =
    Climate.localMoran(rawDaily(s, d), Neighbors.knnDistBucketed(meta(s, d)))
      .orderBy(col("station_id"))

  def qGeoCells(s: SparkSession, d: String): DataFrame =
    Neighbors.geoCells(meta(s, d), rawDaily(s, d))
      .orderBy(col("cell"), col("cell_x"), col("cell_y"))

  def qRsi(s: SparkSession, d: String): DataFrame =
    Climate.rsi(rawDaily(s, d)).orderBy(col("station_id"), col("day"))

  def qPetThornthwaite(s: SparkSession, d: String): DataFrame =
    Climate.petThornthwaite(tempStats(s, d))
      .orderBy(col("station_id"), col("mon"))

  def qKoppen(s: SparkSession, d: String): DataFrame =
    Climate.koppen(tempStats(s, d), rawDaily(s, d)).orderBy(col("station_id"))

  def qContinentality(s: SparkSession, d: String): DataFrame =
    Climate.continentality(tempStats(s, d), meta(s, d))
      .orderBy(col("station_id"))

  def qGsl(s: SparkSession, d: String): DataFrame =
    Climate.growingSeasonLength(tempStats(s, d))
      .orderBy(col("station_id"), col("yr"))

  def qHarmonic(s: SparkSession, d: String): DataFrame =
    Climate.diurnalHarmonics(hourly(s, d))
      .orderBy(col("station_id"), col("k"))

  def qSpearman(s: SparkSession, d: String): DataFrame =
    Climate.spearmanNeighbors(rawDaily(s, d), Neighbors.knnDistBucketed(meta(s, d)))
      .orderBy(col("station_id"), col("rank"))

  /** Per-station precipitation-type climatology from the Richter
    * typing (StationP.py:571-580): day share and correction uplift
    * mass per type — the summary a correction run is sanity-checked
    * by. One keyed aggregate over the corrected frame; the share
    * window runs over ≤ 5 type rows per station. */
  def qPrecipTypeMix(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = Richter.correct(s, filledSeries(s, d), tempFilled(s, d), meta(s, d))
    val w = Window.partitionBy(col("station_id"))
    c.withColumn("precipitation_typ",
        coalesce(col("precipitation_typ"), lit("untyped")))
      .groupBy(col("station_id"), col("precipitation_typ"))
      .agg(count(lit(1)).as("n_days"),
        round(sum(when(col("filled") > 0, col("corr") - col("filled"))
          .otherwise(lit(0.0))) + lit(1e-9), 3).as("uplift"))
      .withColumn("share",
        round(col("n_days") / sum(col("n_days")).over(w).cast("double")
          + lit(1e-9), 6))
      .select(col("station_id"), col("precipitation_typ"), col("n_days"),
        col("share"), col("uplift"))
      .orderBy(col("station_id"), col("precipitation_typ"))
  }

  def qPettitt(s: SparkSession, d: String): DataFrame =
    Climate.pettitt(rawDaily(s, d)).orderBy(col("station_id"))

  def qCusum(s: SparkSession, d: String): DataFrame =
    Climate.cusum(rawDaily(s, d)).orderBy(col("station_id"))

  def qSnht(s: SparkSession, d: String): DataFrame =
    Climate.snht(rawDaily(s, d)).orderBy(col("station_id"))

  /** dow seasons across week periods — the only cycle a 30-day feed
    * carries; multi-year data uses the operator's "moy" default. */
  def qSeasonalMk(s: SparkSession, d: String): DataFrame =
    Climate.seasonalMannKendall(rawDaily(s, d), season = "dow")
      .orderBy(col("station_id"))

  def qKsTest(s: SparkSession, d: String): DataFrame =
    Climate.ksTest(rawDaily(s, d)).orderBy(col("station_id"))

  def qCrossCorr(s: SparkSession, d: String): DataFrame =
    Climate.crossCorr(rawDaily(s, d), Neighbors.knnDistBucketed(meta(s, d)))
      .orderBy(col("station_id"), col("rank"), col("lag"))

  def qSax(s: SparkSession, d: String): DataFrame =
    Climate.sax(rawDaily(s, d)).orderBy(col("station_id"))

  def qEwmaControl(s: SparkSession, d: String): DataFrame =
    Climate.ewmaControl(rawDaily(s, d)).orderBy(col("station_id"), col("day"))

  def qForecastSkill(s: SparkSession, d: String): DataFrame =
    Climate.forecastSkill(rawDaily(s, d)).orderBy(col("station_id"))

  private def knnEdges(s: SparkSession, d: String): DataFrame =
    Neighbors.knnDistBucketed(meta(s, d))
      .select(col("station_id").as("src"), col("nb_id").as("dst"))

  def qPagerank(s: SparkSession, d: String): DataFrame =
    graft.graph.GraphOps.pageRank(knnEdges(s, d))
      .withColumnRenamed("id", "station_id").orderBy(col("station_id"))

  def qLinkPrediction(s: SparkSession, d: String): DataFrame =
    graft.graph.GraphOps.linkPrediction(knnEdges(s, d))
      .orderBy(col("station_id"), col("rank"))

  def qTriangles(s: SparkSession, d: String): DataFrame =
    graft.graph.GraphOps.triangles(knnEdges(s, d))
      .withColumnRenamed("id", "station_id").orderBy(col("station_id"))

  def qLabelPropagation(s: SparkSession, d: String): DataFrame =
    graft.graph.GraphOps.labelPropagation(knnEdges(s, d))
      .withColumnRenamed("id", "station_id").orderBy(col("station_id"))

  def qKnnHubness(s: SparkSession, d: String): DataFrame =
    graft.graph.GraphOps.hubness(knnEdges(s, d))
      .withColumnRenamed("id", "station_id").orderBy(col("station_id"))

  def qBfsLayers(s: SparkSession, d: String): DataFrame =
    graft.graph.GraphOps.bfsLayers(knnEdges(s, d))
      .withColumnRenamed("id", "station_id").orderBy(col("station_id"))

  def qHits(s: SparkSession, d: String): DataFrame =
    graft.graph.GraphOps.hits(knnEdges(s, d))
      .withColumnRenamed("id", "station_id").orderBy(col("station_id"))

  /** Frame-form geometry export (Stations.getGeom — reference
    * get_geom, StationBases.py:1817): registry + WKT/GeoJSON point
    * columns. */
  def qGeomWkt(s: SparkSession, d: String): DataFrame =
    new graft.api.WeatherDb(s, d).stations.getGeom.orderBy(col("station_id"))

  /** CRS-transformed geometry export (Stations.getGeomWgs84 — the
    * reference's get_geom crs path, UTM 32N → WGS84 inverse Transverse
    * Mercator as graft.core.Geo's shared SQL chain). */
  def qGeomWgs84(s: SparkSession, d: String): DataFrame =
    new graft.api.WeatherDb(s, d).stations.getGeomWgs84
      .orderBy(col("station_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_geom_wkt" -> (qGeomWkt _),
    "q_geom_wgs84" -> (qGeomWgs84 _),
    "q_pettitt" -> (qPettitt _),
    "q_cusum" -> (qCusum _),
    "q_snht" -> (qSnht _),
    "q_seasonal_mk" -> (qSeasonalMk _),
    "q_ks_test" -> (qKsTest _),
    "q_crosscorr" -> (qCrossCorr _),
    "q_sax" -> (qSax _),
    "q_pagerank" -> (qPagerank _),
    "q_triangles" -> (qTriangles _),
    "q_link_prediction" -> (qLinkPrediction _),
    "q_label_propagation" -> (qLabelPropagation _),
    "q_knn_hubness" -> (qKnnHubness _),
    "q_bfs_layers" -> (qBfsLayers _),
    "q_hits" -> (qHits _),
    "q_ewma_control" -> (qEwmaControl _),
    "q_forecast_skill" -> (qForecastSkill _),
    "q_seasonal_decompose" -> (qSeasonalDecompose _),
    "q_theil_sen" -> (qTheilSen _),
    "q_runs_test" -> (qRunsTest _),
    "q_idf_curve" -> (qIdfCurve _),
    "q_api_index" -> (qApiIndex _),
    "q_heat_waves" -> (qHeatWaves _),
    "q_climatology_bands" -> (qClimatologyBands _),
    "q_monthly_extremes" -> (qMonthlyExtremes _),
    "q_availability" -> (qAvailability _),
    "q_et_hargreaves" -> (qEtHargreaves _),
    "q_neighbor_corr" -> (qNeighborCorr _),
    "q_nearest_time" -> (qNearestTime _),
    "q_frost_days" -> (qFrostDays _),
    "q_rx5day" -> (qRx5day _),
    "q_r95p" -> (qR95p _),
    "q_climatology" -> (qClimatology _),
    "q_lapse_rate" -> (qLapseRate _),
    "q_acf" -> (qAcf _),
    "q_ljung_box" -> (qLjungBox _),
    "q_spearman" -> (qSpearman _),
    "q_ols_trend" -> (qOlsTrend _),
    "q_hurst" -> (qHurst _),
    "q_dtr" -> (qDtr _),
    "q_grubbs" -> (qGrubbs _),
    "q_wet_dry_markov" -> (qWetDryMarkov _),
    "q_diurnal_cycle" -> (qDiurnalCycle _),
    "q_ohlc" -> (qOhlc _),
    "q_dtw" -> (qDtw _),
    "q_gumbel" -> (qGumbel _),
    "q_gev_lmoments" -> (qGevLmoments _),
    "q_lowess" -> (qLowess _),
    "q_snowpack" -> (qSnowpack _),
    "q_solar_ra" -> (qSolarRa _),
    "q_quantile_mapping" -> (qQuantileMapping _),
    "q_esd_outliers" -> (qEsdOutliers _),
    "q_periodogram_daily" -> (qPeriodogramDaily _),
    "q_flood_seasonality" -> (qFloodSeasonality _),
    "q_budyko" -> (qBudyko _),
    "q_weibull_fit" -> (qWeibullFit _),
    "q_scs_runoff" -> (qScsRunoff _),
    "q_kpss" -> (qKpss _),
    "q_adf" -> (qAdf _),
    "q_coint_eg" -> (qCointEg _),
    "q_sn_scale" -> (qSnScale _),
    "q_bh_fdr" -> (qBhFdr _),
    "q_harmonic" -> (qHarmonic _),
    "q_pot_gpd" -> (qPotGpd _),
    "q_variogram" -> (qVariogram _),
    "q_assortativity" -> (qAssortativity _),
    "q_jarque_bera" -> (qJarqueBera _),
    "q_durbin_watson" -> (qDurbinWatson _),
    "q_yule_walker" -> (qYuleWalker _),
    "q_kendall_binned" -> (qKendallBinned _),
    "q_rsi" -> (qRsi _),
    "q_bootstrap_ci" -> (qBootstrapCi _),
    "q_concurrency" -> (qConcurrency _),
    "q_geary_c" -> (qGearyC _),
    "q_field_significance" -> (qFieldSignificance _),
    "q_eb_shrinkage" -> (qEbShrinkage _),
    "q_flow_duration" -> (qFlowDuration _),
    "q_spectral_entropy" -> (qSpectralEntropy _),
    "q_mi_binned" -> (qMiBinned _),
    "q_idw_grid" -> (qIdwGrid _),
    "q_pot_decluster" -> (qPotDecluster _),
    "q_baseflow" -> (qBaseflow _),
    "q_wilcoxon_signed" -> (qWilcoxonSigned _),
    "q_friedman" -> (qFriedman _),
    "q_rain_erosivity" -> (qRainErosivity _),
    "q_tail_dependence" -> (qTailDependence _),
    "q_effective_n" -> (qEffectiveN _),
    "q_kcore" -> (qKcore _),
    "q_modularity" -> (qModularity _),
    "q_getis_ord" -> (qGetisOrd _),
    "q_morans_i" -> (qMoransI _),
    "q_local_moran" -> (qLocalMoran _),
    "q_geo_cells" -> (qGeoCells _),
    "q_pet_thornthwaite" -> (qPetThornthwaite _),
    "q_koppen" -> (qKoppen _),
    "q_continentality" -> (qContinentality _),
    "q_gsl" -> (qGsl _),
    "q_holt_brown" -> (qHoltBrown _),
    "q_holt_winters" -> (qHoltWinters _),
    "q_granger" -> (qGranger _),
    "q_hw_skill" -> ((s: SparkSession, d: String) =>
      Climate.holtWintersSkill(rawDaily(s, d)).orderBy(col("station_id"))),
    "q_viterbi_regimes" -> ((s: SparkSession, d: String) =>
      Climate.viterbiRegimes(rawDaily(s, d)).orderBy(col("station_id"))),
    "q_conformal" -> ((s: SparkSession, d: String) =>
      Climate.conformalInterval(rawDaily(s, d))),
    "q_pacf" -> (qPacf _),
    "q_seasonal_strength" -> (qSeasonalStrength _),
    "q_precip_indices" -> (qPrecipIndices _),
    "q_txtn_percentile" -> (qTxTnPercentile _),
    "q_dry_spells" -> (qDrySpells _),
    "q_degree_days" -> (qDegreeDays _),
    "q_return_period" -> (qReturnPeriod _),
    "q_spi_zscore" -> (qSpiZscore _),
    "q_trend_mk" -> (qTrendMk _),
    "q_double_mass" -> (qDoubleMass _),
    "q_precip_type_mix" -> (qPrecipTypeMix _),
    "q_fill_neighbor" -> (qFillNeighbor _),
    "q_fill_seasonal" -> (qFillSeasonal _),
    "q_fill_median5" -> (qFillMedian5 _),
    "q_fill_additive" -> (qFillAdditive _),
    "q_fill_interp" -> (qFillInterp _),
    "q_fill_share" -> (qFillShare _),
    "q_fill_idw" -> (qFillIdw _),
    "q_rolling_stats" -> (qRollingStats _),
    "q_ma_timeseries" -> (qMaTimeseries _),
    "q_ma_seasonal" -> (qMaSeasonal _),
    "q_quotient_kinds" -> (qQuotientKinds _),
    "q_quotient_raster" -> (qQuotientRaster _),
    "q_adjust_mult" -> (qAdjustMult _),
    "q_adjust_add" -> (qAdjustAdd _),
    "q_agg_day" -> (qAggDay _),
    "q_agg_month" -> (qAggMonth _),
    "q_agg_month_mean" -> (qAggMonthMean _),
    "q_agg_year" -> (qAggYear _),
    "q_group_wide" -> (qGroupWide _),
    "q_filled_period" -> (qFilledPeriod _),
    "q_count_holes" -> (qCountHoles _),
    "q_richter_class" -> (qRichterClass _),
    "q_richter_correct" -> (qRichterCorrect _),
    "q_richter_correct_hourly" -> (qRichterCorrectHourly _),
    "q_sessionize" -> (qSessionize _),
    "q_session_stats" -> (qSessionStats _),
    "q_stream_window" -> (qStreamWindow _),
    "q_window_sliding" -> (qWindowSliding _),
    "q_unpivot" -> (qUnpivot _),
    "q_range_join_time" -> (qRangeJoinTime _),
    "q_model_export" -> (qModelExport _),
    "q_meta_derive" -> (qMetaDerive _),
    "q_expand_grid" -> (qExpandGrid _),
    "q_knn_dist" -> (qKnnDist _),
    "q_knn_bucketed" -> (qKnnBucketed _),
    "q_knn_elev" -> (qKnnElev _),
    "q_knn_real" -> (qKnnReal _),
    "q_max_period" -> (qMaxPeriod _),
    "q_qc_range" -> (qQcRange _),
    "q_qc_repeats" -> (qQcRepeats _),
    "q_qc_spike" -> (qQcSpike _),
    "q_qc_daily_compare" -> (qQcDailyCompare _),
    "q_qc_neighbor_median" -> (qQcNeighborMedian _),
    "q_qc_all" -> (qQcAll _),
    "q_qc_dropped_share" -> (qQcDroppedShare _))
}
