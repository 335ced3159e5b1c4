package graft.tsdb

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Constants._

/** Gap filling from neighbor stations (reference: StationBases.py
  * fillup, lines 1347-1669).
  *
  * The reference loops over neighbor stations in distance order inside
  * a PL/pgSQL DO block, updating unfilled rows per neighbor. Here the
  * whole loop collapses into one declarative plan: join the NULL rows
  * against all k candidate neighbors at once, rank candidates by
  * neighbor distance per (station, day), keep the best — one pass,
  * no iteration, same result as the reference's first-non-null-neighbor
  * semantics.
  *
  * The reference runs every station type through that one routine and
  * lets the type choose only its regionalization; here every
  * neighbor-fill variant is likewise a composition of four shared
  * operators:
  *  - [[coefTable]]: the (station_id, nb_id, rank, coef) table, a
  *    ratio or difference of per-station values (MA of qc, MA of raw
  *    for QualityCheck.nbMedian, or raster_t), rounded to 6 places;
  *  - [[donorCandidates]]: NULL slots × broadcast neighbor table ×
  *    non-NULL donor values on (nb_id, day), plus the caller's
  *    candidate columns;
  *  - [[firstDonor]]: the lowest-rank candidate per (station, day);
  *  - [[fillFrom]]: the picks joined back onto the series as the
  *    caller's fill columns (`filled` / `filled_by`, `t_filled`, …).
  *
  * Scale: neighbor map + MA coefficients are O(#stations) → broadcast
  * (the neighbor map itself comes from the grid-bucketed knn — the
  * O(9n) spatial join, not the all-pairs cross join). Candidates are
  * generated ONLY for the NULL slots: the (station, day) frame of
  * unfilled rows joins the broadcast coefficients (k rows per hole),
  * then equi-joins the non-NULL series on (nb_id, day) — so the
  * candidate expansion and the ranking window are proportional to
  * NULL-share × k, not to the full series size. On a mostly-complete
  * 100 TB series the fill stage touches a few percent of rows, exactly
  * like the reference's `WHERE filled IS NULL` loop.
  */
object Fillup {

  /** Per-station MA means of the qc kind, for regionalization. */
  private def maQc(qcSeries: DataFrame): DataFrame =
    Series.maMean(qcSeries, "qc")

  /** The regionalization coefficient of every (station, neighbor) pair
    * of `knn`, as (station_id, nb_id, rank, coef): coef is
    * v(station) / v(neighbor) when `multiplicative`, else
    * v(station) − v(neighbor), rounded to 6 places, where v is the
    * per-station column `v` of `values`. A pair without a coefficient
    * (a value missing or NULL, or a zero divisor: `try_divide`, where
    * ANSI `/` throws) has no row, so the next neighbor donates. */
  private[tsdb] def coefTable(knn: DataFrame, values: DataFrame, v: String,
      multiplicative: Boolean): DataFrame = {
    val c = knn
      .join(values.select(col("station_id"), col(v).as("ma_stat")), Seq("station_id"))
      .join(values.select(col("station_id").as("nb_id"), col(v).as("ma_other")), Seq("nb_id"))
    val coef = if (multiplicative) try_divide(col("ma_stat"), col("ma_other"))
      else col("ma_stat") - col("ma_other")
    c.withColumn("coef", round(coef + lit(1e-9), 6))
      .filter(col("coef").isNotNull)
      .select(col("station_id"), col("nb_id"), col("rank"), col("coef"))
  }

  /** The non-NULL values of `v` as donor values (nb_id, day, nb_<v>). */
  private def donors(series: DataFrame, v: String): DataFrame =
    series.filter(col(v).isNotNull)
      .select(col("station_id").as("nb_id"), col("day"), col(v).as(s"nb_$v"))

  /** Donor candidates: every (station, day) slot where `v` is NULL ×
    * the broadcast neighbor table `neighbors(knn)` on station_id × the
    * `donor` frame (default: [[donors]] of `v`) on (nb_id, day), then
    * the `cands` columns in order. Generated only for NULL slots, so
    * the volume is NULL-share × k. */
  private def donorCandidates(series: DataFrame, v: String, meta: DataFrame, k: Int,
      neighbors: DataFrame => DataFrame, donor: DataFrame = null)(
      cands: (String, Column)*): DataFrame = {
    val joined = series.filter(col(v).isNull).select(col("station_id"), col("day"))
      .join(broadcast(neighbors(Neighbors.knnDistBucketed(meta, k))), Seq("station_id"))
      .join(Option(donor).getOrElse(donors(series, v)), Seq("nb_id", "day"))
    cands.foldLeft(joined) { case (df, (name, c)) => df.withColumn(name, c) }
  }

  /** The lowest-rank candidate per (station, day), as (station_id,
    * day, keep…). */
  private def firstDonor(cand: DataFrame, keep: String*): DataFrame = {
    // best-candidate selection stays a row_number window + `rn = 1`
    // filter on purpose: InferWindowGroupLimit rewrites it to a
    // partial+final WindowGroupLimit, so each map partition forwards
    // at most ONE candidate per (station, day) group into the exchange
    // — the map-side combine of a hash aggregate with primitive sort
    // keys and codegen. min(struct(rank, …)) computes the same thing
    // but its struct buffer forces a SortAggregate fallback (struct is
    // not a mutable hash-agg buffer type), measured ~3× slower.
    val w = Window.partitionBy(col("station_id"), col("day")).orderBy(col("rank"))
    cand.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select((Seq("station_id", "day") ++ keep).map(col): _*)
  }

  /** `series` left-joined with the per-(station, day) `picks`, the
    * `fills` columns added in order, the picks' own columns dropped. */
  private def fillFrom(series: DataFrame, picks: DataFrame)(
      fills: (String, Column)*): DataFrame = {
    val slot = Seq("station_id", "day")
    fills.foldLeft(series.join(picks, slot, "left")) { case (df, (name, c)) =>
      df.withColumn(name, c)
    }.drop(picks.columns.filterNot(slot.contains): _*)
  }

  private val filled = "filled" -> coalesce(col("qc"), col("cand"))
  private val filledBy = "filled_by" -> when(col("qc").isNull, col("nb_id")).otherwise(lit(null))

  /** Candidate fill values: for each unfilled (station, day), every
    * neighbor with a non-NULL qc value, regionalized. */
  private def candidates(qcSeries: DataFrame, meta: DataFrame, k: Int,
      multiplicative: Boolean, maSeries: DataFrame = null): DataFrame = {
    val ma = maQc(Option(maSeries).getOrElse(qcSeries))
    val raw = if (multiplicative) col("nb_qc") * col("coef") else col("nb_qc") + col("coef")
    donorCandidates(qcSeries, "qc", meta, k, coefTable(_, ma, "ma", multiplicative))(
      "cand_raw" -> raw, "cand" -> round(raw + lit(1e-9), 2))
  }

  /** First-non-null-neighbor fill with multiplicative regionalization
    * (P/ET-style: coef = ma_stat / ma_other). Output adds
    * `filled` and `filled_by`. */
  def fillNeighbor(qcSeries: DataFrame, meta: DataFrame, k: Int = FillK,
      multiplicative: Boolean = true, maSeries: DataFrame = null): DataFrame =
    fillFrom(qcSeries, firstDonor(candidates(qcSeries, meta, k, multiplicative, maSeries),
      "cand", "nb_id"))(filled, filledBy)

  /** T-style additive variant (coef = ma_stat − ma_other) with the
    * reference's min/max companion columns: when a day is gap-filled,
    * filled_min/filled_max come from the SAME neighbor with the same
    * additive coefficient (StationT.py:122-143
    * `_sql_fillup_extra_dict`). `minMax` is the (station_id, day,
    * raw_min, raw_max) frame. */
  def fillAdditive(qcSeries: DataFrame, meta: DataFrame, minMax: DataFrame,
      k: Int = FillK): DataFrame = {
    val ma = maQc(qcSeries)
    val donor = donors(qcSeries, "qc")
      .join(minMax.select(col("station_id").as("nb_id"), col("day"),
        col("raw_min").as("nb_min"), col("raw_max").as("nb_max")), Seq("nb_id", "day"), "left")
    def cand(nb: String) = round(col(nb) + col("coef") + lit(1e-9), 2)
    val cands = donorCandidates(qcSeries, "qc", meta, k,
        coefTable(_, ma, "ma", multiplicative = false), donor)(
      "cand" -> cand("nb_qc"), "cand_min" -> cand("nb_min"), "cand_max" -> cand("nb_max"))
    fillFrom(qcSeries.join(minMax.select(col("station_id"), col("day"), col("raw_min"),
        col("raw_max")), Seq("station_id", "day"), "left"),
      firstDonor(cands, "cand", "cand_min", "cand_max", "nb_id"))(
      filled,
      "filled_min" -> when(col("qc").isNotNull, col("raw_min")).otherwise(col("cand_min")),
      "filled_max" -> when(col("qc").isNotNull, col("raw_max")).otherwise(col("cand_max")),
      filledBy)
  }

  /** P-style seasonal regionalization (StationBases.py:1406-1425,
    * StationPBase `_ma_terms = ["wihy","suhy"]`): separate
    * winter-half-year (Oct–Mar) and summer-half-year (Apr–Sep)
    * coefficients; each day is filled with the coefficient of its
    * season. A neighbor is eligible when ANY seasonal coefficient
    * exists (cond_mas_not_null); a NULL seasonal coefficient (a missing
    * MA, or a zero one on the neighbor's side) yields no
    * candidate for days of that season, falling through to the next
    * neighbor — exactly the reference's loop behavior. The
    * two-coefficient, left-joined table is this variant's own: the
    * single-coefficient [[coefTable]] keeps only pairs with both
    * values. */
  def fillSeasonal(qcSeries: DataFrame, meta: DataFrame, k: Int = FillK): DataFrame = {
    val isWinter = month(col("day")).isin(1, 2, 3, 10, 11, 12)
    def seasonalMa(winter: Boolean, name: String) =
      qcSeries.filter(if (winter) isWinter else !isWinter)
        .groupBy(col("station_id")).agg(round(avg(col("qc")) + lit(1e-9), 6).as(name))
    val maW = seasonalMa(winter = true, "ma_wi")
    val maS = seasonalMa(winter = false, "ma_so")
    def coefs(knn: DataFrame) = knn
      .join(maW.select(col("station_id"), col("ma_wi").as("wi_stat")), Seq("station_id"), "left")
      .join(maS.select(col("station_id"), col("ma_so").as("so_stat")), Seq("station_id"), "left")
      .join(maW.select(col("station_id").as("nb_id"), col("ma_wi").as("wi_other")), Seq("nb_id"), "left")
      .join(maS.select(col("station_id").as("nb_id"), col("ma_so").as("so_other")), Seq("nb_id"), "left")
      .withColumn("coef_wi", round(try_divide(col("wi_stat"), col("wi_other")) + lit(1e-9), 6))
      .withColumn("coef_so", round(try_divide(col("so_stat"), col("so_other")) + lit(1e-9), 6))
      .filter(col("coef_wi").isNotNull || col("coef_so").isNotNull)
      .select(col("station_id"), col("nb_id"), col("rank"), col("coef_wi"), col("coef_so"))
    val cand = donorCandidates(qcSeries, "qc", meta, k, coefs)("cand" ->
        round(col("nb_qc") * when(isWinter, col("coef_wi")).otherwise(col("coef_so")) + lit(1e-9), 2))
      .filter(col("cand").isNotNull)
    fillFrom(qcSeries, firstDonor(cand, "cand", "nb_id"))(
      "is_winter" -> isWinter, filled, filledBy)
  }

  /** P-style median-of-5-regionalized-neighbors fill
    * (StationBases.py:1474-1480: percentile_cont(0.5) over nb_mean).
    * The median runs over unrounded regionalized values — rounding the
    * candidates first would park even-count medians exactly on the
    * .xx5 rounding boundary, where engines disagree. */
  def fillMedian(qcSeries: DataFrame, meta: DataFrame, k: Int = FillMedianK): DataFrame = {
    val med = candidates(qcSeries, meta, k, multiplicative = true)
      .groupBy(col("station_id"), col("day"))
      .agg(round(median(col("cand_raw")) + lit(1e-9), 2).as("med"))
    fillFrom(qcSeries, med)("filled" -> coalesce(col("qc"), col("med")),
      "filled_by" -> when(col("qc").isNull && col("med").isNotNull, lit(-2L)).otherwise(lit(null)))
  }

  /** Linear interpolation of short gaps (≤ maxGap consecutive NULL
    * days strictly between observations), filled_by = −1 as in the
    * reference (StationBases.py:1494-1560). */
  def fillInterp(qcSeries: DataFrame, maxGap: Int = InterpMaxGap): DataFrame = {
    val wPrev = Window.partitionBy(col("station_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wNext = Window.partitionBy(col("station_id")).orderBy(col("day"))
      .rowsBetween(1, Window.unboundedFollowing)
    val obs = when(col("qc").isNotNull, struct(col("day").as("d"), col("qc").as("v")))
    val df = qcSeries
      .withColumn("prev", last(obs, ignoreNulls = true).over(wPrev))
      .withColumn("next", first(obs, ignoreNulls = true).over(wNext))
    val gapLen = datediff(col("next.d"), col("prev.d")) - 1
    val frac = datediff(col("day"), col("prev.d")).cast("double") /
      datediff(col("next.d"), col("prev.d")).cast("double")
    df.withColumn("filled",
        when(col("qc").isNotNull, col("qc"))
          .when(col("prev").isNotNull && col("next").isNotNull && gapLen <= maxGap,
            round(col("prev.v") + (col("next.v") - col("prev.v")) * frac + lit(1e-9), 3))
          .otherwise(lit(null)))
      .withColumn("filled_by",
        when(col("qc").isNull && col("filled").isNotNull, lit(-1L)).otherwise(lit(null)))
      .drop("prev", "next")
  }

  /** Temperature-companion fill for the virtual-station cycle: every
    * NULL (station, day) of the T series is filled from the nearest
    * neighbor with a real value that day, additively regionalized with
    * RASTER climate values (raster_t(stat) − raster_t(nb)) — the
    * reference's fillup coefficients come from station_ma_raster, which
    * exists at EVERY location, so a station with zero T observations
    * (is_real = false, StationBases.py:683-771) still gets a complete
    * companion series for daily-compare QC and Richter typing
    * (StationPD.py:19-25, richter_correct's stat_t.fillup call).
    * Output adds `t_filled`. */
  def fillTemp(tempSeries: DataFrame, meta: DataFrame, raster: DataFrame,
      k: Int = FillK): DataFrame = {
    val cand = donorCandidates(tempSeries, "t", meta, k,
        coefTable(_, raster, "raster_t", multiplicative = false))(
      "cand" -> round(col("nb_t") + col("coef") + lit(1e-9), 2))
    fillFrom(tempSeries, firstDonor(cand, "cand"))("t_filled" -> coalesce(col("t"), col("cand")))
  }

  /** The filled temperature companion series (station_id, day, t) of
    * `events` — [[fillTemp]] over the daily T series with raster
    * regionalization, as Richter correction reads it. */
  private[graft] def tempCompanion(events: DataFrame, meta: DataFrame): DataFrame =
    fillTemp(Series.dailyTemp(events), meta, Series.raster(events))
      .select(col("station_id"), col("day"), col("t_filled").as("t"))

  /** Inverse-distance-weighted regionalization fill: every unfilled
    * (station, day) slot gets `sum(qc_nb / d²) / sum(1 / d²)` over the
    * k nearest neighbors with data that day — classic IDW
    * interpolation, the distance-based alternative to the reference's
    * single-donor regionalized fill (the reference regionalizes
    * through raster multi-annual fields; IDW interpolates on the
    * station set itself). `n_donors` records how many neighbors
    * contributed to a filled slot.
    *
    * Scale shape is the same as [[fillNeighbor]]'s candidate stage:
    * NULL-slot frame × broadcast knn map, one equi-join of the
    * non-NULL series on (nb_id, day), then a partial-aggregatable hash
    * aggregate on the slot key — no window, no sort, volume
    * proportional to NULL-share × k. */
  def fillIdw(qcSeries: DataFrame, meta: DataFrame, k: Int = FillK): DataFrame = {
    val wgt = lit(1.0) / (col("dist") * col("dist"))
    val est = donorCandidates(qcSeries, "qc", meta, k,
        _.select(col("station_id"), col("nb_id"), col("dist")))()
      .groupBy(col("station_id"), col("day"))
      .agg(round(sum(col("nb_qc") * wgt) / sum(wgt) + lit(1e-9), 2).as("idw"),
        count(lit(1)).as("nd"))
    fillFrom(qcSeries, est)("filled" -> coalesce(col("qc"), col("idw")),
      "n_donors" -> when(col("qc").isNull, col("nd")).otherwise(lit(null)))
  }

  /** Fill-quality cross-validation: hide a deterministic content-free
    * slice of the OBSERVED qc values (every maskMod-th (station, day)
    * by id arithmetic), run the standard neighbor fill on the masked
    * frame, and score the reconstructions against the hidden truth —
    * per station MAE / RMSE / bias / coverage. This is how a fillup
    * configuration is validated before trusting its output (the
    * holdout evaluation behind the reference's regionalization
    * choices); a station whose donors reconstruct it badly needs a
    * different neighbor weighting.
    *
    * Plan: the masked frame rides the normal fill plan; scoring is
    * one keyed join on (station, day) over the masked slots + ONE
    * map-combinable keyed aggregate to O(#stations) rows. */
  def crossValidate(qcSeries: DataFrame, meta: DataFrame,
      maskMod: Int = 10): DataFrame = {
    val dayOrd = datediff(col("day"), lit(java.sql.Date.valueOf("1970-01-01")))
    val masked = pmod(col("station_id") * 31 + dayOrd, lit(maskMod.toLong)) === 0
    val holdout = qcSeries.withColumn("qc",
      when(masked, lit(null)).otherwise(col("qc")))
    val truth = qcSeries.filter(masked && col("qc").isNotNull)
      .select(col("station_id"), col("day"), col("qc").as("truth"))
    fillNeighbor(holdout, meta)
      .select(col("station_id"), col("day"), col("filled"))
      .join(truth, Seq("station_id", "day"))
      .groupBy(col("station_id"))
      .agg(count(lit(1)).as("n_masked"),
        count(col("filled")).as("n_reconstructed"),
        round(avg(abs(col("filled") - col("truth"))) + lit(1e-9), 4).as("mae"),
        round(sqrt(avg((col("filled") - col("truth"))
          * (col("filled") - col("truth")))) + lit(1e-9), 4).as("rmse"),
        round(avg(col("filled") - col("truth")) + lit(1e-9), 4).as("bias"))
      .withColumn("coverage",
        round(col("n_reconstructed") / col("n_masked").cast("double")
          + lit(1e-9), 4))
  }

  /** Share of gap-filled values per aggregation group
    * (StationBases.py:2577-2579 filled_share). */
  def filledShare(filledSeries: DataFrame): DataFrame =
    filledSeries
      .groupBy(col("station_id"), trunc(col("day"), "month").as("month"))
      .agg(round(count(col("filled_by")).cast("double") / count(lit(1)) * 100 + lit(1e-9), 6)
        .as("filled_share"))
}
