package graft.tsdb

import java.sql.Date
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Constants._

/** Period-scoped incremental recompute — the reference's last-import
  * cycle (broker.py; StationP.py:646-653 `last_imp` kinds,
  * `is_last_imp_done` / `_mark_last_imp_done`): after an import that
  * touches only `[lo, hi]`, re-run qc → fillup → corr on that window
  * alone and MERGE the result into the persisted frame, instead of
  * recomputing years of series per import. At 100 TB this is the
  * difference between minutes and days per update.
  *
  * Correctness contract (proven in IncrementalSpec): the merged frame
  * equals a full recompute on the touched period. Two ingredients make
  * that exact:
  *  - the recompute slice is EXPANDED by `Reach` days so boundary
  *    windows (repeat/spike lag/lead ±2, interpolation bridges up to
  *    InterpMaxGap) see the same context as a full run; only `[lo, hi]`
  *    rows of the slice survive the merge;
  *  - regionalization statistics (MA means) are global, so they come
  *    from the FULL series — mirroring the reference, which reads the
  *    persisted station_ma_timeserie / raster values during last-imp
  *    runs rather than recomputing them from the window.
  *
  * Scale: the slice filter is a partition-pruned scan on a
  * day-partitioned table (only the last-import files are read); the
  * merge is `anti-slice ∪ slice`, i.e. an overwrite of the touched
  * day-partitions — no shuffle of the untouched history.
  */
object Incremental {

  /** Temporal reach of the window operators: repeats/spike look ±2
    * days, interpolation bridges gaps of up to InterpMaxGap days. */
  val Reach: Int = math.max(2, InterpMaxGap + 1)

  /** The merge window extends `Reach` days on BOTH sides of the import
    * period: new data changes the qc of neighboring days through the
    * lag/lead window rules (spike/repeat) — preceding days on an
    * append, following days on a backfill into existing history — so
    * those days are re-checked and re-merged too, keeping the merged
    * frame equal to a full recompute on the whole affected range. */
  private def mergeWindow(lo: Date, hi: Date) =
    col("day").between(date_sub(lit(lo), Reach), date_add(lit(hi), Reach))

  /** The recompute slice additionally covers the reach of the merge
    * window itself (2×Reach on both sides). */
  private def slice(df: DataFrame, lo: Date, hi: Date): DataFrame =
    df.filter(col("day").between(date_sub(lit(lo), 2 * Reach), date_add(lit(hi), 2 * Reach)))

  /** Keep `prev` outside the merge window, the recomputed rows inside. */
  private def merge(prev: DataFrame, recomputed: DataFrame, lo: Date, hi: Date): DataFrame =
    prev.filter(!mergeWindow(lo, hi))
      .unionByName(recomputed.filter(mergeWindow(lo, hi)).select(prev.columns.map(col): _*))

  /** A last-imp merge is only valid when the previous frame already
    * covers every station of `meta`: a first-time station import has no
    * history rows in `prev`, so a window-scoped merge would silently
    * leave its out-of-window history missing and its neighbors'
    * knn-dependent stages stale. The reference likewise routes new
    * stations through the full first-time import before last-imp runs
    * (broker.py update_db vs last_imp_* cycle). */
  private[graft] def coversAllStations(prev: DataFrame, meta: DataFrame): Boolean =
    meta.select(col("station_id"))
      .join(prev.select(col("station_id")).distinct(), Seq("station_id"), "left_anti")
      .isEmpty

  /** Incremental quality check: recompute qc only for `[lo, hi]` of
    * the (already updated) raw series and merge into `prevQc`. */
  def updateQc(prevQc: DataFrame, rawSeries: DataFrame, ref: DataFrame,
      meta: DataFrame, lo: Date, hi: Date): DataFrame =
    merge(prevQc, QualityCheck.all(slice(rawSeries, lo, hi), ref, meta,
      maSeries = rawSeries), lo, hi)

  /** Incremental fill-up: recompute filled/filled_by only for
    * `[lo, hi]` of the updated qc series and merge into `prevFilled`. */
  def updateFilled(prevFilled: DataFrame, qcSeries: DataFrame, meta: DataFrame,
      lo: Date, hi: Date): DataFrame =
    merge(prevFilled, Fillup.fillNeighbor(slice(qcSeries, lo, hi), meta,
      maSeries = qcSeries), lo, hi)

  /** Incremental Richter correction: recompute corr only for `[lo, hi]`
    * of the updated filled series (daily typing is day-local, so no
    * reach expansion is needed beyond the slice). */
  def updateCorr(prevCorr: DataFrame, filledSeries: DataFrame, tempSeries: DataFrame,
      meta: DataFrame, lo: Date, hi: Date): DataFrame =
    merge(prevCorr, Richter.correct(filledSeries.sparkSession,
      slice(filledSeries, lo, hi), tempSeries, meta), lo, hi)
}
