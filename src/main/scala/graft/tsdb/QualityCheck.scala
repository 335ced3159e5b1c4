package graft.tsdb

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Constants._

/** Quality-check rules for station series, re-expressed as declarative
  * window/join plans over the tall `(station_id, day, raw)` frame.
  *
  * Rule structure follows the reference's per-parameter QC SQL:
  *  - bounds:            StationP.py:176-177, StationT.py:102, StationET.py:93-94
  *  - consecutive equal: StationP.py:144-166
  *  - isolated spike:    StationP.py:132-142
  *  - vs daily station:  StationP.py:103-130
  *  - vs neighbor median (regionalized): StationBases.py:2946,
  *    StationT.py:89-119
  *
  * Every rule is partition-local per station (window over day order) or
  * a join keyed on (station, day) — no global sorts; at 100 TB the only
  * shuffle is the hash partitioning by station_id, reused across rules.
  */
object QualityCheck {

  private val wDay = Window.partitionBy(col("station_id")).orderBy(col("day"))

  /** Bound check: raw outside [0, RangeMax) → NULL. */
  def range(series: DataFrame): DataFrame =
    series.withColumn("qc",
      when(col("raw") < 0 || col("raw") >= RangeMax, lit(null)).otherwise(col("raw")))

  /** Three or more consecutive days with the same rounded value above
    * the limit → NULL (sensor-stuck detection). */
  def repeats(series: DataFrame): DataFrame = {
    val r = round(col("raw") + lit(1e-9), RepeatRound)
    val df = series.withColumn("r", r)
      .withColumn("l1", lag(col("r"), 1).over(wDay))
      .withColumn("l2", lag(col("r"), 2).over(wDay))
      .withColumn("n1", lead(col("r"), 1).over(wDay))
      .withColumn("n2", lead(col("r"), 2).over(wDay))
    val inRun = (col("r") <=> col("l1") && col("r") <=> col("l2")) ||
      (col("r") <=> col("l1") && col("r") <=> col("n1")) ||
      (col("r") <=> col("n1") && col("r") <=> col("n2"))
    df.withColumn("qc",
        when(col("r").isNotNull && col("r") > RepeatLimit && inRun, lit(null))
          .otherwise(col("raw")))
      .drop("r", "l1", "l2", "n1", "n2")
  }

  /** Isolated peak: value above threshold with zero activity on both
    * neighboring days (missing day = zero activity) → NULL. Edge days
    * (no previous/next row) are never spikes, as in the reference's
    * inner self-joins. */
  def spike(series: DataFrame): DataFrame = {
    val v = coalesce(col("raw"), lit(0.0))
    val df = series
      .withColumn("pv", lag(v, 1).over(wDay))
      .withColumn("nv", lead(v, 1).over(wDay))
    df.withColumn("qc",
        when(col("raw") > SpikeThreshold &&
          col("pv") === 0.0 && col("nv") === 0.0, lit(null))
          .otherwise(col("raw")))
      .drop("pv", "nv")
  }

  /** Compare against the independent daily reference series: a day
    * fails when the aggregate is zero while the reference is not, or
    * the aggregate is at least double a substantial reference. */
  def dailyCompare(series: DataFrame, ref: DataFrame): DataFrame = {
    val joined = series.join(ref, Seq("station_id", "day"), "left")
    val failZero = coalesce(col("raw"), lit(0.0)) === 0.0 && coalesce(col("ref"), lit(0.0)) =!= 0.0
    val failDouble = col("raw").isNotNull && col("ref").isNotNull &&
      col("raw") >= DailyCmpMin && col("raw") >= col("ref") * 2
    joined.withColumn("day_failed", failZero || failDouble)
      .withColumn("qc", when(col("day_failed"), lit(null)).otherwise(col("raw")))
  }

  /** The regionalized neighbor median frame (station_id, day,
    * nbs_median) — shared by neighborMedian and `all`: each value is
    * compared against the median of the 5 nearest stations' additively
    * regionalized values (coef = ma_station − ma_neighbor, the
    * coefficient table of [[Fillup.coefTable]] over MA means of raw).
    * `maSeries` is the frame the regionalization MA means come from:
    * the series itself in a full run, the FULL series during a
    * period-scoped incremental run (the reference reads stored MA
    * values then).
    *
    * Scale: the neighbor map and MA means are O(#stations) →
    * broadcast; the series is shuffled once keyed by (nb_id, day) to
    * fetch neighbor values, then hash-aggregated back to
    * (station_id, day) — two shuffles of the big frame total. */
  def nbMedian(series: DataFrame, meta: DataFrame,
      maSeries: DataFrame = null): DataFrame = {
    val ma = Series.maMean(Option(maSeries).getOrElse(series), "raw")
    // grid-bucketed knn (O(9n) spatial join) is the default scale path;
    // brute-force knnDist remains only as the test oracle's cross-check
    val coefs = Fillup.coefTable(Neighbors.knnDistBucketed(meta, NeighborK), ma, "ma",
      multiplicative = false)
    val nbVals = broadcast(coefs.select(col("station_id"), col("nb_id"), col("coef")))
      .join(series.select(col("station_id").as("nb_id"), col("day"), col("raw").as("nb_raw")),
        Seq("nb_id"))
      .withColumn("adj", col("nb_raw") + col("coef"))
    // shuffle the k×-exploded frame on station_id ALONE (not (station_id,
    // day)): hashpartitioning(station_id) still satisfies the aggregate's
    // ClusteredDistribution(station_id, day) — same (station_id, day)
    // implies same partition — and leaves the result co-partitioned with
    // the series frame every consumer windows/joins on station_id, so the
    // downstream join in `all` needs NO exchange on either side
    nbVals.repartition(col("station_id"))
      .groupBy(col("station_id"), col("day"))
      .agg(round(median(col("adj")) + lit(1e-9), 6).as("nbs_median"))
  }

  /** Neighbor-consensus check: a value further than
    * NeighborMedianMaxDiff from its [[nbMedian]] → NULL. */
  def neighborMedian(series: DataFrame, meta: DataFrame): DataFrame = {
    series.join(nbMedian(series, meta), Seq("station_id", "day"), "left")
      .withColumn("qc",
        when(abs(col("raw") - col("nbs_median")) > NeighborMedianMaxDiff, lit(null))
          .otherwise(col("raw")))
  }

  /** All rules combined (union of failed timestamps, like the
    * reference's quality_check building one `new_qc` frame).
    *
    * Computed in a single pass: the window rules share one window spec
    * (one shuffle + sort per station), the daily reference and the
    * neighbor median each join once — instead of running the five rule
    * pipelines separately and five-way joining their outputs (which
    * would recompute the base series per rule). */
  def all(series: DataFrame, ref: DataFrame, meta: DataFrame,
      maSeries: DataFrame = null): DataFrame = {
    val med = nbMedian(series, meta, maSeries)
    val r = round(col("raw") + lit(1e-9), RepeatRound)
    val v = coalesce(col("raw"), lit(0.0))
    // ONE big-frame shuffle total: the window columns are computed FIRST
    // (they depend only on the series itself; the joins below are
    // key-preserving left joins, so the results are identical) — all six
    // lag/leads in one select so they land in a single Window node over
    // one hashpartitioning(station_id) + (station_id, day) sort. That
    // sort also IS the sort-merge order of the (station_id, day) join,
    // and the median frame arrives hashpartitioning(station_id) from
    // nbMedian — co-partitioned on the subset key — so the join adds no
    // exchange on either side and nothing is re-shuffled after it.
    val windowed = series.select(col("*"),
      lag(r, 1).over(wDay).as("l1"), lag(r, 2).over(wDay).as("l2"),
      lead(r, 1).over(wDay).as("n1"), lead(r, 2).over(wDay).as("n2"),
      lag(v, 1).over(wDay).as("pv"), lead(v, 1).over(wDay).as("nv"))
    val df = windowed
      .join(ref, Seq("station_id", "day"), "left")
      .join(med, Seq("station_id", "day"), "left")
      .withColumn("r", r)
    val fRange = col("raw") < 0 || col("raw") >= RangeMax
    val fRep = col("r").isNotNull && col("r") > RepeatLimit && (
      (col("r") <=> col("l1") && col("r") <=> col("l2")) ||
      (col("r") <=> col("l1") && col("r") <=> col("n1")) ||
      (col("r") <=> col("n1") && col("r") <=> col("n2")))
    val fSpike = col("raw") > SpikeThreshold && col("pv") === 0.0 && col("nv") === 0.0
    val fDaily = (coalesce(col("raw"), lit(0.0)) === 0.0 && coalesce(col("ref"), lit(0.0)) =!= 0.0) ||
      (col("raw").isNotNull && col("ref").isNotNull &&
        col("raw") >= DailyCmpMin && col("raw") >= col("ref") * 2)
    val fNb = abs(col("raw") - col("nbs_median")) > NeighborMedianMaxDiff
    df.withColumn("qc",
        when(col("raw").isNotNull &&
          !coalesce(fRange, lit(false)) && !coalesce(fRep, lit(false)) &&
          !coalesce(fSpike, lit(false)) && !coalesce(fDaily, lit(false)) &&
          !coalesce(fNb, lit(false)), col("raw")).otherwise(lit(null)))
      // quality note (the reference's `qn` column, models.py:84): which
      // rule dropped the value — provenance for every NULLed slot
      .withColumn("qn",
        when(col("raw").isNull, lit(null).cast("string"))
          .when(coalesce(fRange, lit(false)), lit("range"))
          .when(coalesce(fRep, lit(false)), lit("repeat"))
          .when(coalesce(fSpike, lit(false)), lit("spike"))
          .when(coalesce(fDaily, lit(false)), lit("daily_compare"))
          .when(coalesce(fNb, lit(false)), lit("neighbor_median"))
          .otherwise(lit(null).cast("string")))
      .select(col("station_id"), col("day"), col("raw"), col("n_obs"), col("qc"), col("qn"))
  }

  /** Share of raw values dropped by QC per station, as stored in the
    * meta table (StationBases.py:1316-1323 — ROUND(ratio, 4)*100). */
  def droppedShare(qcSeries: DataFrame): DataFrame =
    qcSeries.groupBy(col("station_id"))
      .agg((round((count(col("raw")) - count(col("qc"))).cast("double") / count(col("raw")) + lit(1e-9), 4) * 100)
        .as("qc_dropped"))
}
