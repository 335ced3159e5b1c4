package graft.tsdb

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Constants._

/** Temporal aggregation and series retrieval utilities.
  *
  * Reference: StationBases.get_df (StationBases.py:2463-2649) — the
  * `date_trunc` aggregation with the >20%-missing → NULL completeness
  * rule, na_share columns; get_filled_period (2083); count_holes
  * (1925); GroupStation.get_df wide export (GroupStation.py:135).
  */
object Aggregate {

  /** Completeness-gated aggregate: NULL when more than 20% of the
    * group's slots are missing (StationBases.py:2567). */
  private def gated(agg: org.apache.spark.sql.Column, cnt: org.apache.spark.sql.Column) =
    when(cnt.cast("double") / count(lit(1)) > AggMinShare, agg).otherwise(lit(null))

  /** The reference's agg_to granularity ladder (StationBases.py:365-380
    * AGG_TO): a series may only be aggregated to a COARSER granularity,
    * and the target name doubles as the output time column. */
  val AggToLadder: Seq[String] = Seq("hour", "day", "month", "year")

  /** Generalized agg_to: aggregate `valueCols` of a series at `from`
    * granularity up to `to`, with sum (P/ET) or mean (T) semantics, the
    * >20%-missing completeness gate, and optional `{col}_na_share`
    * percentage columns (StationBases.py:2547-2596).
    *
    * Scale: a single map-side-combinable hash aggregation keyed on
    * (station_id, truncated time) — one shuffle, partial aggregation
    * before it, no window. */
  def aggTo(series: DataFrame, timeCol: String, from: String, to: String,
      mean: Boolean, valueCols: Seq[String], naShare: Boolean = true): DataFrame = {
    val fi = AggToLadder.indexOf(from); val ti = AggToLadder.indexOf(to)
    require(fi >= 0 && ti >= 0, s"unknown agg_to granularity: $from -> $to")
    require(ti > fi,
      s"agg_to only aggregates coarser ($from -> $to), per the reference's AGG_TO validation")
    val grp = to match {
      case "hour"  => date_trunc("hour", col(timeCol))
      case "day"   => to_date(col(timeCol))
      case "month" => trunc(col(timeCol), "month")
      case "year"  => trunc(col(timeCol), "year")
    }
    val vals = valueCols.map { c =>
      val agg = if (mean) round(avg(col(c)) + lit(1e-9), 6)
                else round(sum(col(c)) + lit(1e-9), 3)
      gated(agg, count(col(c))).as(c)
    }
    val shares = if (naShare) valueCols.map { c =>
      round((count(lit(1)) - count(col(c))).cast("double") / count(lit(1)) * 100 + lit(1e-9), 6)
        .as(s"${c}_na_share")
    } else Nil
    val aggs = vals ++ shares
    series.groupBy(col("station_id"), grp.as(to)).agg(aggs.head, aggs.tail: _*)
  }

  /** Monthly sum aggregation (P/ET semantics) of qc + filled kinds,
    * with na_share columns. */
  def aggMonthSum(filledSeries: DataFrame): DataFrame =
    aggTo(filledSeries, "day", "day", "month", mean = false, Seq("qc", "filled"))

  /** Hourly series → daily aggregation with the completeness gate —
    * the reference's finer agg_to step (10 min → hour/day,
    * StationBases.py:2547-2574). With sparse hourly coverage most days
    * gate to NULL, exactly as the reference warns for NA-heavy
    * aggregation (hence the na_share column). */
  def aggDayFromHourly(hourlySeries: DataFrame): DataFrame =
    aggTo(hourlySeries, "hour", "hour", "day", mean = false, Seq("raw"))

  /** Monthly mean aggregation (T semantics). */
  def aggMonthMean(filledSeries: DataFrame): DataFrame =
    aggTo(filledSeries, "day", "day", "month", mean = true, Seq("qc", "filled"), naShare = false)

  /** Yearly sum aggregation with the completeness gate. */
  def aggYearSum(filledSeries: DataFrame): DataFrame =
    aggTo(filledSeries, "day", "day", "year", mean = false, Seq("qc", "filled"))

  /** Wide multi-parameter frame per (station, day): the GroupStation
    * export joining the P/T/ET-like series of one location. */
  def groupWide(events: DataFrame): DataFrame = {
    val p = Series.dailyRaw(events).select(col("station_id"), col("day"), col("raw").as("p_raw"))
    val t = Series.dailyTemp(events).select(col("station_id"), col("day"), col("t").as("t_raw"))
    val et = events.filter(col("event_type") === "purchase")
      .groupBy(col("user_id").cast("long").as("station_id"), to_date(col("ts")).as("day"))
      .agg(round(sum(col("value")) / 10 + lit(1e-9), 3).as("et_raw"))
    p.join(t, Seq("station_id", "day"), "left")
      .join(et, Seq("station_id", "day"), "left")
  }

  /** Per-station, per-kind min/max day with data — the meta-table
    * period bounds (raw_from/until, qc_…, filled_…). */
  def filledPeriod(filledSeries: DataFrame): DataFrame = {
    val agg = filledSeries.groupBy(col("station_id")).agg(
      min(when(col("raw").isNotNull, col("day"))).as("raw_from"),
      max(when(col("raw").isNotNull, col("day"))).as("raw_until"),
      min(when(col("qc").isNotNull, col("day"))).as("qc_from"),
      max(when(col("qc").isNotNull, col("day"))).as("qc_until"),
      min(when(col("filled").isNotNull, col("day"))).as("filled_from"),
      max(when(col("filled").isNotNull, col("day"))).as("filled_until"))
    agg.select(col("station_id"), expr(
      """stack(3,
         'raw', raw_from, raw_until,
         'qc', qc_from, qc_until,
         'filled', filled_from, filled_until) AS (kind, date_from, date_until)"""))
  }

  /** Maximum available period per station (get_max_period,
    * StationBases.py:2133-2177): `grid_from/until` is the NAs-allowed
    * variant (the full grid extent); `max_from/until` is the inner
    * union of the per-kind filled periods — the latest start and
    * earliest end across the kinds, NULL when the kinds never
    * overlap. */
  def maxPeriod(filledSeries: DataFrame,
      kinds: Seq[String] = Seq("raw", "qc", "filled")): DataFrame = {
    val aggs = kinds.flatMap(k => Seq(
      min(when(col(k).isNotNull, col("day"))).as(s"${k}_from"),
      max(when(col(k).isNotNull, col("day"))).as(s"${k}_until")))
    require(kinds.nonEmpty, "maxPeriod needs at least one kind")
    // a kind with NO data, or kinds that never overlap, yield an empty
    // (NULL) inner period — greatest/least skip NULLs, so the per-kind
    // NULLs and start <= end are checked explicitly
    // (greatest/least require >= 2 arguments; a single kind is its own
    // inner union)
    def combine(f: Seq[org.apache.spark.sql.Column] => org.apache.spark.sql.Column,
        cols: Seq[org.apache.spark.sql.Column]) =
      if (cols.size == 1) cols.head else f(cols)
    val anyKindEmpty = kinds.map(k => col(s"${k}_from").isNull).reduce(_ || _)
    val mf = combine(cs => greatest(cs: _*), kinds.map(k => col(s"${k}_from")))
    val mu = combine(cs => least(cs: _*), kinds.map(k => col(s"${k}_until")))
    val nonEmpty = !anyKindEmpty && mf <= mu
    filledSeries.groupBy(col("station_id"))
      .agg(min(col("day")).as("grid_from"),
        (max(col("day")).as("grid_until") +: aggs): _*)
      .select(col("station_id"), col("grid_from"), col("grid_until"),
        when(nonEmpty, mf).as("max_from"),
        when(nonEmpty, mu).as("max_until"))
  }

  /** Gap census: per station, number of gaps between successive
    * observations (period bounds included as virtual observations)
    * of at least k days, k ∈ {3,5,7,10} (count_holes,
    * StationBases.py:1925-2029). */
  def countHoles(qcSeries: DataFrame): DataFrame = {
    val bounds = qcSeries.groupBy(col("station_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val obsDays = qcSeries.filter(col("qc").isNotNull).select(col("station_id"), col("day"))
      .unionByName(bounds.select(col("station_id"), col("d0").as("day")))
      .unionByName(bounds.select(col("station_id"), col("d1").as("day")))
      .distinct()
    val w = Window.partitionBy(col("station_id")).orderBy(col("day"))
    obsDays
      .withColumn("diff", datediff(col("day"), lag(col("day"), 1).over(w)))
      .groupBy(col("station_id"))
      .agg(
        count(when(col("diff") >= 3, lit(1))).as("holes_ge_3"),
        count(when(col("diff") >= 5, lit(1))).as("holes_ge_5"),
        count(when(col("diff") >= 7, lit(1))).as("holes_ge_7"),
        count(when(col("diff") >= 10, lit(1))).as("holes_ge_10"))
  }

  /** Rolling k-day statistics of the filled series per station —
    * running means/extremes over the trailing window (climatology
    * smoothing, antecedent-index precursors). All four aggregates
    * share ONE window spec, so the plan is a single Window node: one
    * hash shuffle on station_id plus a per-partition sort by day —
    * the same shape as the QC window rules, no second shuffle, and
    * the trailing-rows frame keeps state O(k) per partition. */
  def rollingStats(filledSeries: DataFrame, k: Int = 7): DataFrame = {
    val w = Window.partitionBy(col("station_id")).orderBy(col("day"))
      .rowsBetween(-(k - 1), Window.currentRow)
    filledSeries.select(col("station_id"), col("day"), col("filled"))
      .withColumn("roll_mean", round(avg(col("filled")).over(w) + lit(1e-9), 6))
      .withColumn("roll_min", min(col("filled")).over(w))
      .withColumn("roll_max", max(col("filled")).over(w))
      .withColumn("roll_n", count(col("filled")).over(w))
  }

  /** Sessionization: consecutive events of a station gap-split at
    * `gapMinutes` of silence; one row per session with bounds, counts
    * and value sum. The batch twin of the streaming gap detector
    * (graft.streaming.Streaming.gapDetector) and the inverse view of
    * count_holes. */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    // event_id tiebreaker: duplicate (user_id, ts) rows at a session
    // boundary must land in the same session on every engine
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val newSession = when(
      unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(wOrd) >
        gapMinutes * 60L * 1000000L, 1L)
      .otherwise(lit(0L))
    val wCum = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("new_s", newSession)
      .withColumn("session_id", sum(col("new_s")).over(wCum))
      .groupBy(col("user_id").cast("long").as("station_id"), col("session_id"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")) + lit(1e-9), 3).as("sum_value"),
        round((unix_micros(max(col("ts"))) - unix_micros(min(col("ts")))) / lit(1e6) + lit(1e-9), 3)
          .as("duration_s"))
  }

  /** Session-length profile over [[sessionize]]: sessions grouped by
    * their event count, with count share, mean duration and value mass
    * per length — the engagement-distribution view (bounce share =
    * the session_len=1 row) a product pipeline reads off sessionized
    * events.
    *
    * Plan: sessionize's ONE user_id exchange, then a map-combinable
    * aggregate down to ≤ max-session-length rows; the share window
    * runs over that tiny frame only. */
  def sessionStats(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val wAll = Window.partitionBy()
    sessionize(events, gapMinutes)
      .groupBy(col("n_events").as("session_len"))
      .agg(count(lit(1)).as("n_sessions"),
        round(avg(col("duration_s")) + lit(1e-9), 3).as("mean_duration_s"),
        round(sum(col("sum_value")) + lit(1e-9), 3).as("total_value"))
      .withColumn("share",
        round(col("n_sessions") / sum(col("n_sessions")).over(wAll).cast("double")
          + lit(1e-9), 6))
      .orderBy(col("session_len"))
  }

  /** Peak session concurrency per day — the capacity-planning sweep
    * line: every [[sessionize]]d interval contributes +1 at its start
    * and −1 just after its end (closed interval — single-event
    * sessions still occupy their instant), the running sum of the
    * per-timestamp NET deltas is the live-session count, and the day
    * rollup keeps the peak plus the session-start count.
    *
    * Plan: sessionize's one user_id exchange, delta collapse to the
    * O(#distinct boundary ts) frame, then the global running sum is
    * [[graft.core.Ordinals.running]]'s — never a single-partition
    * Window.orderBy over all boundary timestamps. */
  def concurrency(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val sessions = sessionize(events, gapMinutes)
    val deltas = sessions
      .select(col("session_start").as("ts"), lit(1L).as("d"))
      .unionByName(sessions.select(
        (col("session_end") + expr("interval 1 microsecond")).as("ts"),
        lit(-1L).as("d")))
    val perTs = deltas.groupBy(col("ts"))
      .agg(sum(col("d")).as("delta"),
        sum(when(col("d") > 0, col("d")).otherwise(lit(0L))).as("starts"))
    graft.core.Ordinals.running(perTs, Seq(col("ts")), "delta")
      .withColumnRenamed("cum_delta", "concurrent")
      .withColumn("day", to_date(col("ts")))
      .groupBy(col("day"))
      .agg(max(col("concurrent")).as("peak_concurrent"),
        sum(col("starts")).as("n_starts"))
      .orderBy(col("day"))
  }

  /** Batch twin of the streaming pipeline: 6-hour tumbling windows per
    * event type (graft.streaming runs the same plan on readStream). */
  def streamWindowBatch(events: DataFrame): DataFrame =
    events
      .groupBy(timestamp_seconds(floor(col("ts").cast("long") / 21600) * 21600).as("window_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")) + lit(1e-9), 3).as("sum_value"))

  /** Inverse of [[groupWide]]: melt the wide per-day parameter frame
    * back to tall (station_id, day, para, value) via the native
    * `unpivot` — a codegen'd Expand node, partition-local: no join, no
    * shuffle, output rows = non-NULL wide cells. */
  /** Nearest-in-time match within a tolerance: each 'click' event gets
    * the closest 'view' event of the same user within ±`tolMinutes`
    * (both directions — the symmetric sibling of the as-of join's
    * backward-only match; pandas `merge_asof(direction='nearest')`).
    * Tie (equidistant prior and following) resolves to the prior.
    * "Prior"/"following" are defined on the deterministic (ts,
    * event_id) order, so duplicate timestamps resolve identically on
    * every engine.
    *
    * Plan: ONE user_id exchange; prior and following view are two
    * ignore-nulls running extremes over the same sorted window frame
    * (no self-join, no candidate explosion); everything after is a
    * stateless projection. */
  def nearestTimeJoin(events: DataFrame, tolMinutes: Int = 30): DataFrame = {
    val tolUs = tolMinutes * 60L * 1000000L
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val viewStruct = when(col("event_type") === "view",
      struct(unix_micros(col("ts")).as("t"), col("event_id").as("id")))
    val withNbrs = events
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      .withColumn("t_us", unix_micros(col("ts")))
      .withColumn("pv", last(viewStruct, ignoreNulls = true)
        .over(wOrd.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("nv", first(viewStruct, ignoreNulls = true)
        .over(wOrd.rowsBetween(1, Window.unboundedFollowing)))
    withNbrs.filter(col("event_type") === "click")
      .withColumn("d_prev", col("t_us") - col("pv.t"))
      .withColumn("d_next", col("nv.t") - col("t_us"))
      .withColumn("use_prev", col("d_prev").isNotNull && col("d_prev") <= tolUs)
      .withColumn("use_next", col("d_next").isNotNull && col("d_next") <= tolUs)
      .withColumn("from_prev",
        col("use_prev") && (!col("use_next") || col("d_prev") <= col("d_next")))
      .withColumn("matched_view_id",
        when(col("from_prev"), col("pv.id")).when(col("use_next"), col("nv.id")))
      .withColumn("diff_s",
        when(col("from_prev"), round(col("d_prev") / lit(1e6) + lit(1e-9), 3))
          .when(col("use_next"), round(col("d_next") / lit(1e6) + lit(1e-9), 3)))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("matched_view_id"), col("from_prev"), col("diff_s"))
  }

  def unpivotWide(wide: DataFrame): DataFrame =
    wide.unpivot(Array(col("station_id"), col("day")),
        Array(col("p_raw"), col("t_raw"), col("et_raw")), "para", "value")
      .filter(col("value").isNotNull)

  /** Banded time range join WITHOUT an equi key: for every event, the
    * number of OTHER events (any station) within ± `bandMinutes`, and
    * the distance to the nearest one.
    *
    * Scale path: the band predicate alone would be a
    * BroadcastNestedLoopJoin (O(n²) compares). Bucketing time into
    * band-width bins bounds each event's window to its own and the two
    * adjacent bins — but an equi JOIN on the bin key would still
    * MATERIALIZE every qualifying pair, and with d = events per band
    * that is O(n·d) rows: quadratic in density (measured: ×10 density
    * → ×50 runtime). The counts don't need the pairs. Each event is
    * shuffled to its 3 adjacent bin groups (members), and per group
    * one sort of the ~3d member times answers every probe of that bin
    * by binary search: window count = rank(t+band) − rank(t−band) − 1
    * (self), nearest-other from the sorted neighbors (0 on a duplicate
    * timestamp). O(n log d) work, O(n) shuffle, nothing pair-shaped —
    * the same per-block typed iteration pattern as
    * [[graft.dedup.Dedup]]'s embedding blocks. Group memory is one
    * long per event within ±1 bin of the probe bin (the inherent
    * density of the query's own answer). */
  def rangeJoinTime(events: DataFrame, bandMinutes: Int = 30): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val bandUs = bandMinutes * 60L * 1000000L
    val evs = events
      .select(col("event_id").cast("long"), unix_micros(col("ts")))
      .as[(Long, Long)]
    val exploded = evs.flatMap { case (id, t) =>
      val bin = Math.floorDiv(t, bandUs)
      // probe only in its own bin; member of all 3 it can influence
      Iterator((bin - 1L, id, t, false), (bin, id, t, true), (bin + 1L, id, t, false))
    }
    // first index with ts(i) >= x (lower) / ts(i) > x (upper)
    def bound(ts: Array[Long], x: Long, upper: Boolean): Int = {
      var lo = 0; var hi = ts.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (ts(mid) < x || (upper && ts(mid) == x)) lo = mid + 1 else hi = mid
      }
      lo
    }
    exploded.groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val all = it.toArray
        val ts = all.map(_._3)
        java.util.Arrays.sort(ts)
        all.iterator.filter(_._4).map { case (_, id, t, _) =>
          val lo = bound(ts, t - bandUs, upper = false)
          val hi = bound(ts, t + bandUs, upper = true)
          val nNearby = (hi - lo - 1).toLong // window always contains self
          val lbT = bound(ts, t, upper = false)
          val ubT = bound(ts, t, upper = true)
          // -1 sentinel instead of Option: flat encoder, NULLed in SQL
          val mdt: Long =
            if (ubT - lbT >= 2) 0L // another event shares this timestamp
            else {
              val prev = if (lbT > 0) t - ts(lbT - 1) else Long.MaxValue
              val next = if (ubT < ts.length) ts(ubT) - t else Long.MaxValue
              val m = math.min(prev, next)
              if (m <= bandUs) m else -1L
            }
          (id, nNearby, mdt)
        }
      }
      .toDF("event_id", "n_nearby", "mdt")
      .select(col("event_id"), col("n_nearby"),
        when(col("mdt") >= 0, round(col("mdt") / lit(1e6) + lit(1e-9), 3))
          .as("min_dt_s"))
  }

  /** Sliding (hopping) window aggregation: 2-hour windows every 30
    * minutes, per event type — the overlapping-window form
    * (`functions.window` with a slide), which is the exact plan a
    * watermarked `readStream` runs.
    *
    * Scale: Spark expands each row into width/slide = 4 window
    * instances BEFORE the aggregation (codegen'd `Expand` node), then
    * one map-side-combinable hash aggregate on (window, type) — the
    * shuffle carries 4× partial aggregates of a low-cardinality key,
    * never 4× the rows. */
  def slidingWindow(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "2 hours", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")) + lit(1e-9), 3).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n"), col("sum_value"))
}
