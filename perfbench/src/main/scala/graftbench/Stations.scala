package graftbench

import java.time.LocalDate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{Checkpoints, Tables, TimestampPeriod}
import graft.tsdb._
import graft.api.{ModelExport, WeatherDb}
import Workloads._

/** The station network's daily cycle in one long-lived session.
  *
  * A pass is the reference's update_db for the whole network: it drops
  * the memo and recomputes raw -> meta -> qc -> filled -> tempFilled ->
  * corr -> month/year aggregates -> MA quotients -> model export,
  * through graft's memoized kind frames (which persist raw, meta, ref,
  * qc and filled) plus the corrected series the benchmark keeps.
  *
  * A request is one single-station lookup (get_df, get_filled,
  * get_corr or agg_to=month over 1 month to 2 years, stations drawn
  * Zipf(1.1) so a few are hot) against the kinds the last pass
  * persisted.
  *
  * The Broker's last-import cycle is not part of the workload: on
  * the current code its merged filled and corr kinds differ from a
  * full recompute of the same inputs, so it cannot be checked. */
class StationCycle(cfg: Config, start: LocalDate, baseDays: Int, stations: Int)
    extends Workload(cfg) {
  private var own: Seq[DataFrame] = Nil
  private var outputs: Seq[(String, DataFrame)] = Nil
  private var db: WeatherDb = _
  private val order = new scala.util.Random(cfg.seed).shuffle((0 until stations).toVector)
  private val cdf = {
    val w = (1 to stations).map(r => 1.0 / math.pow(r, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  def register(): Unit = Tables.events(spark, data).inputFiles

  def pass(): Unit = tracer.span("pass") {
    own.foreach(Checkpoints.release); own = Nil
    TsQueries.clearMemo(spark)
    val ev = step("core")(Tables.events(spark, data))(planOf)(_ => ())
    step("tsdb.series")(TsQueries.rawDaily(spark, data))(cachedPlanOf)(_.count())
    val meta = step("tsdb.series")(TsQueries.meta(spark, data))(cachedPlanOf)(_.count())
    step("tsdb.series")(TsQueries.ref(spark, data))(cachedPlanOf)(_.count())
    val qc = step("tsdb.qc")(TsQueries.qcAll(spark, data))(cachedPlanOf)(_.count())
    val filled = step("tsdb.fill")(TsQueries.filledSeries(spark, data))(cachedPlanOf)(_.count())
    val tfill = step("tsdb.fill")(Fillup.fillTemp(Series.dailyTemp(ev), meta, Series.raster(ev))
      .select(col("station_id"), col("day"), col("t_filled").as("t")))(persisted)(_.count())
    val corr = step("tsdb.richter")(Richter.correct(spark, filled, tfill, meta))(persisted)(_.count())
    own = Seq(tfill, corr)
    val month = step("tsdb.aggregate")(Aggregate.aggMonthSum(filled))(planOf)(drain)
    val year = step("tsdb.aggregate")(Aggregate.aggYearSum(filled))(planOf)(drain)
    val ma = step("tsdb.aggregate")(MultiAnnual.maTimeseries(filled))(planOf)(drain)
    val quot = step("tsdb.aggregate")(
      MultiAnnual.quotientRaster(filled, Series.raster(ev)))(planOf)(drain)
    val export = step("api.export")(ModelExport.tsFiles(Aggregate.groupWide(ev), meta,
      ModelExport.defaultParas, splitDate = true, roger = false, addMeta = false,
      rR0 = None))(planOf)(drain)
    outputs = Seq(
      "q_qc_all" -> qc.select("station_id", "day", "raw", "n_obs", "qc", "qn"),
      "q_fill_neighbor" -> filled.select("station_id", "day", "raw", "qc", "filled", "filled_by"),
      "q_richter_correct" -> corr, "q_agg_month" -> month, "q_agg_year" -> year,
      "q_ma_timeseries" -> ma, "q_quotient_raster" -> quot, "q_model_export" -> export)
  }

  def saveOutputs(): Unit = outputs.foreach { case (n, df) => save(s"timed_$n", df, data) }

  /** Two of each lookup kind: the second round is still compiling. */
  override def warmups: Int = 8
  override def mix: Int = 4

  private val kinds = Vector("get_df", "get_filled", "get_corr", "agg_month")

  /** A lookup, timed under its kind. */
  def request(i: Int): String = {
    if (db == null) db = new WeatherDb(spark, data)
    lookup(i)
    s"request.${kinds(i % mix)}"
  }

  private def hotStation(): Long = {
    val u = rng.nextDouble()
    order(cdf.indexWhere(_ >= u) match { case -1 => stations - 1; case k => k }).toLong
  }

  /** Period lengths in days, one per round of the four kinds, so that
    * every run asks for the same spread from 1 month to 2 years. */
  private val lengths = Vector(30, 730, 91, 365, 182, 547)

  /** The four lookup kinds in turn, so that every run serves the same
    * mix; station and period start are drawn from the seed. */
  private def lookup(i: Int): Unit = tracer.span("lookup") {
    val st = db.station(hotStation())
    val len = lengths(i / mix % lengths.size)
    val from = start.plusDays(rng.nextInt(math.max(1, baseDays - len)).toLong)
    val period = TimestampPeriod(Some(from), Some(from.plusDays(len - 1L)))
    var rows = 0
    val df = step("api.lookup")(i % mix match {
      case 0 => st.getDf(Seq("raw", "qc", "filled"), period)
      case 1 => st.getFilled(period)
      case 2 => st.getCorr(period)
      case _ => st.getDf(Seq("filled"), period, aggTo = "month")
    })(planOf)(d => rows = d.collect().length)
    if (tracer.traced)
      addCounter("api.lookup.rows_examined_per_row",
        PlanStats.leafRows(df.queryExecution.executedPlan).toDouble / math.max(1, rows))
  }

  def releaseOwn(): Unit = { own.foreach(Checkpoints.release); own = Nil }
}
