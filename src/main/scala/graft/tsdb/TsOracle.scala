package graft.tsdb

import Constants._

/** DuckDB oracle SQL for the station-timeseries operators.
  *
  * The shared CTE prelude re-derives the same "world" (grid, daily
  * series, station registry, neighbor ranking, MA means) with the same
  * constants and rounding as the Spark implementations, so results are
  * comparable value-for-value.
  */
object TsOracle {

  /** Shared CTEs (station world + daily series). */
  val world: String = s"""
    stations AS (SELECT DISTINCT user_id::BIGINT AS station_id FROM events),
    bounds AS (SELECT min(ts)::date AS d0, max(ts)::date AS d1 FROM events),
    grid AS (
      SELECT s.station_id, unnest(generate_series(b.d0::timestamp, b.d1::timestamp, INTERVAL 1 DAY))::date AS day
      FROM stations s, bounds b),
    daily AS (
      SELECT user_id::BIGINT AS station_id, ts::date AS day,
             round(sum(value) + 1e-9, 3) AS raw, count(value) AS n_obs
      FROM events GROUP BY 1, 2),
    raw_daily AS (
      SELECT g.station_id, g.day, d.raw, coalesce(d.n_obs, 0) AS n_obs
      FROM grid g LEFT JOIN daily d USING (station_id, day)),
    meta AS (
      SELECT station_id,
        (station_id % $GridW)::DOUBLE AS x,
        (station_id // $GridW)::DOUBLE AS y,
        ((station_id * $ElevMul) % $ElevMod)::DOUBLE AS elev,
        ((station_id * $HorizonMul) % $HorizonMod)::DOUBLE AS horizon
      FROM stations),
    pairs AS (
      SELECT a.station_id, b.station_id AS nb_id,
        (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS d2,
        a.elev AS elev, b.elev AS nb_elev
      FROM meta a JOIN meta b ON a.station_id != b.station_id),
    knn AS (
      SELECT station_id, nb_id, rank, d2 FROM (
        SELECT station_id, nb_id, d2,
          row_number() OVER (PARTITION BY station_id ORDER BY d2, nb_id) AS rank
        FROM pairs) WHERE rank <= $NeighborK),
    ma_raw AS (SELECT station_id, round(avg(raw) + 1e-9, 6) AS ma FROM raw_daily GROUP BY 1),
    ref_daily AS (
      SELECT user_id::BIGINT AS station_id, ts::date AS day, round(sum(value) + 1e-9, 3) AS ref
      FROM events WHERE event_type != 'error' GROUP BY 1, 2)"""

  /** Mirrors Stations.getGeom: WKT / GeoJSON point serialization of
    * the registry coordinates (plain string concat — both engines
    * print small doubles identically). */
  val qGeomWkt: String = s"""
    WITH $world
    SELECT station_id, x, y,
      'POINT (' || x::VARCHAR || ' ' || y::VARCHAR || ')' AS geometry,
      '{"type":"Point","coordinates":[' || x::VARCHAR || ',' || y::VARCHAR
        || ']}' AS geometry_geojson
    FROM meta ORDER BY station_id"""

  /** Mirrors Stations.getGeomWgs84 — the CTE chain is GENERATED from
    * the same graft.core.Geo.inverseUtmChain strings the engine
    * evaluates, so the projection arithmetic is literally shared. */
  val qGeomWgs84: String = {
    import graft.core.Geo
    val base = s"""g0 AS (
      SELECT station_id, x, y,
        ${Geo.FalseEasting} + x * ${Geo.GridMeters} AS easting,
        ${Geo.AnchorNorthing} + y * ${Geo.GridMeters} AS northing
      FROM meta)"""
    val (chain, last) = Geo.inverseUtmChain.zipWithIndex
      .foldLeft((base, "g0")) { case ((acc, prev), ((name, sql), i)) =>
        (acc + s""",
    g${i + 1} AS (SELECT *, $sql AS $name FROM $prev)""", s"g${i + 1}")
      }
    s"""
    WITH $world,
    $chain
    SELECT station_id, x, y, easting, northing, lon, lat,
      'POINT (' || lon::VARCHAR || ' ' || lat::VARCHAR || ')' AS geometry
    FROM $last ORDER BY station_id"""
  }

  val qMetaDerive: String = s"""
    WITH $world
    SELECT m.station_id, m.x, m.y, m.elev, m.horizon,
           o.raw_from, o.raw_until, o.n_obs, o.is_real
    FROM meta m JOIN (
      SELECT user_id::BIGINT AS station_id, min(ts)::date AS raw_from,
             max(ts)::date AS raw_until, count(*) AS n_obs,
             count(CASE WHEN event_type = 'view' THEN 1 END) > 0 AS is_real
      FROM events GROUP BY 1) o USING (station_id)
    ORDER BY station_id"""

  val qExpandGrid: String = s"""
    WITH $world
    SELECT station_id, day, raw, n_obs FROM raw_daily ORDER BY station_id, day"""

  val qKnnDist: String = s"""
    WITH $world
    SELECT station_id, rank, nb_id, round(sqrt(d2) + 1e-9, 6) AS dist
    FROM knn ORDER BY station_id, rank"""

  val qKnnElev: String = s"""
    WITH $world,
    wpairs AS (
      SELECT station_id, nb_id,
        sqrt(d2) * (1.0 + pow(abs(elev - nb_elev) / $PElev1, $PElev2)) AS wdist
      FROM pairs),
    wknn AS (
      SELECT station_id, nb_id, wdist,
        row_number() OVER (PARTITION BY station_id ORDER BY wdist, nb_id) AS rank
      FROM wpairs)
    SELECT station_id, rank, nb_id, round(wdist + 1e-9, 6) AS wdist
    FROM wknn WHERE rank <= $NeighborK ORDER BY station_id, rank"""

  /** only_real donors: ranking restricted to stations with measured
    * (view-event) data, every station still probed. */
  val qKnnReal: String = s"""
    WITH $world,
    real_s AS (
      SELECT user_id::BIGINT AS station_id,
             count(CASE WHEN event_type = 'view' THEN 1 END) > 0 AS is_real
      FROM events GROUP BY 1),
    rknn AS (
      SELECT p.station_id, p.nb_id, p.d2,
        row_number() OVER (PARTITION BY p.station_id ORDER BY p.d2, p.nb_id) AS rank
      FROM pairs p JOIN real_s r ON p.nb_id = r.station_id
      WHERE r.is_real)
    SELECT station_id, rank, nb_id, round(sqrt(d2) + 1e-9, 6) AS dist
    FROM rknn WHERE rank <= $NeighborK ORDER BY station_id, rank"""

  val qQcRange: String = s"""
    WITH $world
    SELECT station_id, day, raw,
      CASE WHEN raw < 0 OR raw >= $RangeMax THEN NULL ELSE raw END AS qc
    FROM raw_daily ORDER BY station_id, day"""

  /** Per-row membership in a >=3-run of equal rounded values. */
  private val repeatsRun: String = s"""
      SELECT station_id, day, raw, round(raw + 1e-9, $RepeatRound) AS r,
        lag(round(raw + 1e-9, $RepeatRound), 1) OVER w AS l1,
        lag(round(raw + 1e-9, $RepeatRound), 2) OVER w AS l2,
        lead(round(raw + 1e-9, $RepeatRound), 1) OVER w AS n1,
        lead(round(raw + 1e-9, $RepeatRound), 2) OVER w AS n2
      FROM raw_daily
      WINDOW w AS (PARTITION BY station_id ORDER BY day)"""

  val qQcRepeats: String = s"""
    WITH $world,
    rep AS ($repeatsRun)
    SELECT station_id, day, raw,
      CASE WHEN r IS NOT NULL AND r > $RepeatLimit AND (
          (r IS NOT DISTINCT FROM l1 AND r IS NOT DISTINCT FROM l2) OR
          (r IS NOT DISTINCT FROM l1 AND r IS NOT DISTINCT FROM n1) OR
          (r IS NOT DISTINCT FROM n1 AND r IS NOT DISTINCT FROM n2))
        THEN NULL ELSE raw END AS qc
    FROM rep ORDER BY station_id, day"""

  private val spikeRun: String = s"""
      SELECT station_id, day, raw,
        lag(coalesce(raw, 0), 1) OVER w AS pv,
        lead(coalesce(raw, 0), 1) OVER w AS nv
      FROM raw_daily
      WINDOW w AS (PARTITION BY station_id ORDER BY day)"""

  val qQcSpike: String = s"""
    WITH $world,
    sp AS ($spikeRun)
    SELECT station_id, day, raw,
      CASE WHEN raw > $SpikeThreshold AND pv = 0 AND nv = 0
        THEN NULL ELSE raw END AS qc
    FROM sp ORDER BY station_id, day"""

  private val dailyCmpFail: String = s"""
      (coalesce(raw, 0) = 0 AND coalesce(ref, 0) != 0) OR
      (raw IS NOT NULL AND ref IS NOT NULL AND raw >= $DailyCmpMin AND raw >= ref * 2)"""

  val qQcDailyCompare: String = s"""
    WITH $world,
    j AS (SELECT r.station_id, r.day, r.raw, f.ref
          FROM raw_daily r LEFT JOIN ref_daily f USING (station_id, day))
    SELECT station_id, day, raw, ref,
      ($dailyCmpFail) AS day_failed,
      CASE WHEN ($dailyCmpFail) THEN NULL ELSE raw END AS qc
    FROM j ORDER BY station_id, day"""

  private val nbMedianCte: String = s"""
    coefs AS (
      SELECT k.station_id, k.nb_id,
        round(ms.ma - mo.ma + 1e-9, 6) AS coef
      FROM knn k
      JOIN ma_raw ms ON ms.station_id = k.station_id
      JOIN ma_raw mo ON mo.station_id = k.nb_id),
    nb_med AS (
      SELECT c.station_id, s.day, round(median(s.raw + c.coef) + 1e-9, 6) AS nbs_median
      FROM coefs c JOIN raw_daily s ON s.station_id = c.nb_id
      GROUP BY c.station_id, s.day)"""

  val qQcNeighborMedian: String = s"""
    WITH $world,
    $nbMedianCte
    SELECT r.station_id, r.day, r.raw, m.nbs_median,
      CASE WHEN abs(r.raw - m.nbs_median) > $NeighborMedianMaxDiff
        THEN NULL ELSE r.raw END AS qc
    FROM raw_daily r LEFT JOIN nb_med m USING (station_id, day)
    ORDER BY r.station_id, r.day"""

  /** Combined QC (all rules) as a reusable CTE tail. */
  val qcAllCte: String = s"""
    $nbMedianCte,
    qc_parts AS (
      SELECT r.station_id, r.day, r.raw, r.n_obs,
        (r.raw < 0 OR r.raw >= $RangeMax) AS f_range,
        (rep.r IS NOT NULL AND rep.r > $RepeatLimit AND (
          (rep.r IS NOT DISTINCT FROM rep.l1 AND rep.r IS NOT DISTINCT FROM rep.l2) OR
          (rep.r IS NOT DISTINCT FROM rep.l1 AND rep.r IS NOT DISTINCT FROM rep.n1) OR
          (rep.r IS NOT DISTINCT FROM rep.n1 AND rep.r IS NOT DISTINCT FROM rep.n2))) AS f_rep,
        (r.raw > $SpikeThreshold AND sp.pv = 0 AND sp.nv = 0) AS f_spike,
        ((coalesce(r.raw, 0) = 0 AND coalesce(f.ref, 0) != 0) OR
         (r.raw IS NOT NULL AND f.ref IS NOT NULL AND r.raw >= $DailyCmpMin AND r.raw >= f.ref * 2)) AS f_daily,
        (abs(r.raw - m.nbs_median) > $NeighborMedianMaxDiff) AS f_nb
      FROM raw_daily r
      JOIN ($repeatsRun) rep USING (station_id, day)
      JOIN ($spikeRun) sp USING (station_id, day)
      LEFT JOIN ref_daily f USING (station_id, day)
      LEFT JOIN nb_med m USING (station_id, day)),
    qc_all AS (
      SELECT station_id, day, raw, n_obs,
        CASE WHEN raw IS NOT NULL AND NOT coalesce(f_range, false)
               AND NOT coalesce(f_rep, false) AND NOT coalesce(f_spike, false)
               AND NOT coalesce(f_daily, false) AND NOT coalesce(f_nb, false)
          THEN raw ELSE NULL END AS qc,
        CASE WHEN raw IS NULL THEN NULL
             WHEN coalesce(f_range, false) THEN 'range'
             WHEN coalesce(f_rep, false) THEN 'repeat'
             WHEN coalesce(f_spike, false) THEN 'spike'
             WHEN coalesce(f_daily, false) THEN 'daily_compare'
             WHEN coalesce(f_nb, false) THEN 'neighbor_median' END AS qn
      FROM qc_parts)"""

  val qQcAll: String = s"""
    WITH $world,
    $qcAllCte
    SELECT station_id, day, raw, n_obs, qc, qn FROM qc_all ORDER BY station_id, day"""

  val qQcDroppedShare: String = s"""
    WITH $world,
    $qcAllCte
    SELECT station_id,
      round((count(raw) - count(qc))::DOUBLE / count(raw) + 1e-9, 4) * 100 AS qc_dropped
    FROM qc_all GROUP BY station_id ORDER BY station_id"""

  /** Fill-up CTEs: qc MA means, k=FillK neighbor ranking,
    * multiplicative coefficients, best-candidate fill. */
  val fillCte: String = s"""
    ma_qc AS (SELECT station_id, round(avg(qc) + 1e-9, 6) AS ma FROM qc_all GROUP BY 1),
    knn10 AS (
      SELECT station_id, nb_id, rank FROM (
        SELECT station_id, nb_id,
          row_number() OVER (PARTITION BY station_id ORDER BY d2, nb_id) AS rank
        FROM pairs) WHERE rank <= $FillK),
    coefs10 AS (
      SELECT k.station_id, k.nb_id, k.rank, round(ms.ma / mo.ma + 1e-9, 6) AS coef
      FROM knn10 k
      JOIN ma_qc ms ON ms.station_id = k.station_id
      JOIN ma_qc mo ON mo.station_id = k.nb_id
      WHERE ms.ma / mo.ma IS NOT NULL),
    cand AS (
      SELECT c.station_id, s.day, round(s.qc * c.coef + 1e-9, 2) AS cand, c.nb_id, c.rank
      FROM coefs10 c JOIN qc_all s ON s.station_id = c.nb_id AND s.qc IS NOT NULL),
    best AS (
      SELECT station_id, day, cand, nb_id FROM (
        SELECT *, row_number() OVER (PARTITION BY station_id, day ORDER BY rank) AS rn
        FROM cand) WHERE rn = 1),
    filled_s AS (
      SELECT q.station_id, q.day, q.raw, q.n_obs, q.qc,
        coalesce(q.qc, b.cand) AS filled,
        CASE WHEN q.qc IS NULL THEN b.nb_id END AS filled_by
      FROM qc_all q LEFT JOIN best b USING (station_id, day))"""

  private def withFill(tail: String): String =
    s"WITH $world,\n$qcAllCte,\n$fillCte\n$tail"

  val qFillNeighbor: String = withFill(s"""
    SELECT station_id, day, raw, qc, filled, filled_by
    FROM filled_s ORDER BY station_id, day""")

  /** IDW fill: weights from the SAME rounded dist the Spark knn frame
    * exposes (round(sqrt(d2)+1e-9, 6)), so both engines weight with
    * bit-identical operands. */
  val qFillIdw: String = s"""
    WITH $world,
    $qcAllCte,
    knn_d AS (
      SELECT station_id, nb_id, round(sqrt(d2) + 1e-9, 6) AS dist FROM (
        SELECT station_id, nb_id, d2,
          row_number() OVER (PARTITION BY station_id ORDER BY d2, nb_id) AS rank
        FROM pairs) WHERE rank <= $FillK),
    idw_est AS (
      SELECT n.station_id, s.day,
        round(sum(s.qc / (n.dist * n.dist)) / sum(1.0 / (n.dist * n.dist)) + 1e-9, 2) AS idw,
        count(*) AS nd
      FROM knn_d n JOIN qc_all s ON s.station_id = n.nb_id AND s.qc IS NOT NULL
      GROUP BY 1, 2)
    SELECT q.station_id, q.day, q.qc,
      coalesce(q.qc, c.idw) AS filled,
      CASE WHEN q.qc IS NULL THEN c.nd END AS n_donors
    FROM qc_all q LEFT JOIN idw_est c USING (station_id, day)
    ORDER BY q.station_id, q.day"""

  val qRollingStats: String = withFill(s"""
    SELECT station_id, day, filled,
      round(avg(filled) OVER w + 1e-9, 6) AS roll_mean,
      min(filled) OVER w AS roll_min,
      max(filled) OVER w AS roll_max,
      count(filled) OVER w AS roll_n
    FROM filled_s
    WINDOW w AS (PARTITION BY station_id ORDER BY day
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    ORDER BY station_id, day""")

  val qFillSeasonal: String = s"""
    WITH $world,
    $qcAllCte,
    ma_wi AS (
      SELECT station_id, round(avg(qc) + 1e-9, 6) AS ma FROM qc_all
      WHERE month(day) IN (1,2,3,10,11,12) GROUP BY 1),
    ma_so AS (
      SELECT station_id, round(avg(qc) + 1e-9, 6) AS ma FROM qc_all
      WHERE month(day) NOT IN (1,2,3,10,11,12) GROUP BY 1),
    knn10s AS (
      SELECT station_id, nb_id, rank FROM (
        SELECT station_id, nb_id,
          row_number() OVER (PARTITION BY station_id ORDER BY d2, nb_id) AS rank
        FROM pairs) WHERE rank <= $FillK),
    coefs_s AS (
      SELECT k.station_id, k.nb_id, k.rank,
        round(ws.ma / wo.ma + 1e-9, 6) AS coef_wi,
        round(ss.ma / so.ma + 1e-9, 6) AS coef_so
      FROM knn10s k
      LEFT JOIN ma_wi ws ON ws.station_id = k.station_id
      LEFT JOIN ma_so ss ON ss.station_id = k.station_id
      LEFT JOIN ma_wi wo ON wo.station_id = k.nb_id
      LEFT JOIN ma_so so ON so.station_id = k.nb_id),
    cand_s AS (
      SELECT c.station_id, s.day,
        round(s.qc * CASE WHEN month(s.day) IN (1,2,3,10,11,12)
                          THEN c.coef_wi ELSE c.coef_so END + 1e-9, 2) AS cand,
        c.nb_id, c.rank
      FROM coefs_s c
      JOIN qc_all s ON s.station_id = c.nb_id AND s.qc IS NOT NULL
      WHERE c.coef_wi IS NOT NULL OR c.coef_so IS NOT NULL),
    best_s AS (
      SELECT station_id, day, cand, nb_id FROM (
        SELECT *, row_number() OVER (PARTITION BY station_id, day ORDER BY rank) AS rn
        FROM cand_s WHERE cand IS NOT NULL) WHERE rn = 1)
    SELECT q.station_id, q.day,
      month(q.day) IN (1,2,3,10,11,12) AS is_winter, q.qc,
      coalesce(q.qc, b.cand) AS filled,
      CASE WHEN q.qc IS NULL THEN b.nb_id END AS filled_by
    FROM qc_all q LEFT JOIN best_s b USING (station_id, day)
    ORDER BY q.station_id, q.day"""

  val qFillMedian5: String = withFill(s"""
    , med AS (
      SELECT c.station_id, s.day, round(median(s.qc * c.coef) + 1e-9, 2) AS med
      FROM coefs10 c JOIN qc_all s ON s.station_id = c.nb_id AND s.qc IS NOT NULL
      WHERE c.rank <= $FillMedianK
      GROUP BY c.station_id, s.day)
    SELECT q.station_id, q.day, q.qc,
      coalesce(q.qc, m.med) AS filled,
      CASE WHEN q.qc IS NULL AND m.med IS NOT NULL THEN -2 END AS filled_by
    FROM qc_all q LEFT JOIN med m USING (station_id, day)
    ORDER BY q.station_id, q.day""")

  val qFillAdditive: String = s"""
    WITH $world,
    $qcAllCte,
    ma_qc AS (SELECT station_id, round(avg(qc) + 1e-9, 6) AS ma FROM qc_all GROUP BY 1),
    knn10 AS (
      SELECT station_id, nb_id, rank FROM (
        SELECT station_id, nb_id,
          row_number() OVER (PARTITION BY station_id ORDER BY d2, nb_id) AS rank
        FROM pairs) WHERE rank <= $FillK),
    coefs10 AS (
      SELECT k.station_id, k.nb_id, k.rank, round(ms.ma - mo.ma + 1e-9, 6) AS coef
      FROM knn10 k
      JOIN ma_qc ms ON ms.station_id = k.station_id
      JOIN ma_qc mo ON mo.station_id = k.nb_id
      WHERE ms.ma - mo.ma IS NOT NULL),
    mm AS (
      SELECT user_id::BIGINT AS station_id, ts::date AS day,
        round(min(value) + 1e-9, 3) AS raw_min, round(max(value) + 1e-9, 3) AS raw_max
      FROM events GROUP BY 1, 2),
    cand AS (
      SELECT c.station_id, s.day, round(s.qc + c.coef + 1e-9, 2) AS cand,
        round(m.raw_min + c.coef + 1e-9, 2) AS cand_min,
        round(m.raw_max + c.coef + 1e-9, 2) AS cand_max,
        c.nb_id, c.rank
      FROM coefs10 c
      JOIN qc_all s ON s.station_id = c.nb_id AND s.qc IS NOT NULL
      LEFT JOIN mm m ON m.station_id = c.nb_id AND m.day = s.day),
    best AS (
      SELECT station_id, day, cand, cand_min, cand_max, nb_id FROM (
        SELECT *, row_number() OVER (PARTITION BY station_id, day ORDER BY rank) AS rn
        FROM cand) WHERE rn = 1)
    SELECT q.station_id, q.day, q.qc,
      coalesce(q.qc, b.cand) AS filled,
      CASE WHEN q.qc IS NOT NULL THEN m.raw_min ELSE b.cand_min END AS filled_min,
      CASE WHEN q.qc IS NOT NULL THEN m.raw_max ELSE b.cand_max END AS filled_max,
      CASE WHEN q.qc IS NULL THEN b.nb_id END AS filled_by
    FROM qc_all q
    LEFT JOIN mm m USING (station_id, day)
    LEFT JOIN best b USING (station_id, day)
    ORDER BY q.station_id, q.day"""

  val qFillInterp: String = s"""
    WITH $world,
    $qcAllCte,
    pn AS (
      SELECT station_id, day, qc,
        last_value(CASE WHEN qc IS NOT NULL THEN {'d': day, 'v': qc} END IGNORE NULLS)
          OVER (PARTITION BY station_id ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev,
        first_value(CASE WHEN qc IS NOT NULL THEN {'d': day, 'v': qc} END IGNORE NULLS)
          OVER (PARTITION BY station_id ORDER BY day
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next
      FROM qc_all)
    SELECT station_id, day, qc,
      CASE WHEN qc IS NOT NULL THEN qc
           WHEN prev IS NOT NULL AND next IS NOT NULL
                AND (next.d - prev.d - 1) <= $InterpMaxGap
           THEN round(prev.v + (next.v - prev.v) *
                ((day - prev.d)::DOUBLE / (next.d - prev.d)::DOUBLE) + 1e-9, 3)
      END AS filled,
      CASE WHEN qc IS NULL AND (prev IS NOT NULL AND next IS NOT NULL
                AND (next.d - prev.d - 1) <= $InterpMaxGap)
           THEN -1 END AS filled_by
    FROM pn ORDER BY station_id, day"""

  val qFillShare: String = withFill(s"""
    SELECT station_id, date_trunc('month', day)::date AS month,
      round(count(filled_by)::DOUBLE / count(*) * 100 + 1e-9, 6) AS filled_share
    FROM filled_s GROUP BY 1, 2 ORDER BY station_id, month""")

  private val maKindsCte: String = """
    ma_kinds AS (
      SELECT station_id, 'raw' AS kind, round(avg(raw) + 1e-9, 6) AS value FROM filled_s GROUP BY 1
      UNION ALL
      SELECT station_id, 'qc', round(avg(qc) + 1e-9, 6) FROM filled_s GROUP BY 1
      UNION ALL
      SELECT station_id, 'filled', round(avg(filled) + 1e-9, 6) FROM filled_s GROUP BY 1)"""

  private val rasterCte: String = s"""
    raster AS (
      SELECT station_id,
        $RasterPBase + ((station_id * $RasterPMulA) % $RasterPModA) * $RasterPScale AS raster_p,
        $RasterTBase + ((station_id * $RasterTMulA) % $RasterTModA) * $RasterTScale AS raster_t
      FROM stations)"""

  val qMaTimeseries: String = withFill(s"""
    , $maKindsCte
    SELECT station_id, kind, value FROM ma_kinds ORDER BY station_id, kind""")

  val qMaSeasonal: String = withFill(s"""
    , terms AS (
      SELECT station_id, 'year' AS term, raw, qc, filled FROM filled_s
      UNION ALL
      SELECT station_id, 'wihy', raw, qc, filled FROM filled_s
      WHERE month(day) IN (1,2,3,10,11,12)
      UNION ALL
      SELECT station_id, 'suhy', raw, qc, filled FROM filled_s
      WHERE month(day) NOT IN (1,2,3,10,11,12)),
    ma_t AS (
      SELECT station_id, term,
        round(avg(raw) + 1e-9, 6) AS raw,
        round(avg(qc) + 1e-9, 6) AS qc,
        round(avg(filled) + 1e-9, 6) AS filled
      FROM terms GROUP BY 1, 2)
    SELECT station_id, kind, term, value FROM (
      SELECT station_id, term, 'raw' AS kind, raw AS value FROM ma_t
      UNION ALL SELECT station_id, term, 'qc', qc FROM ma_t
      UNION ALL SELECT station_id, term, 'filled', filled FROM ma_t)
    ORDER BY station_id, kind, term""")

  val qQuotientKinds: String = withFill(s"""
    , $maKindsCte
    SELECT n.station_id, n.kind AS kind_num, d.kind AS kind_denom,
      round(n.value / d.value + 1e-9, 6) AS value
    FROM ma_kinds n JOIN ma_kinds d USING (station_id)
    WHERE n.kind != d.kind
    ORDER BY station_id, kind_num, kind_denom""")

  val qQuotientRaster: String = withFill(s"""
    , $maKindsCte, $rasterCte
    SELECT m.station_id, m.kind, round(m.value / r.raster_p + 1e-9, 6) AS value
    FROM ma_kinds m JOIN raster r USING (station_id)
    ORDER BY station_id, kind""")

  val qAdjustMult: String = withFill(s"""
    , $rasterCte,
    ma_f AS (SELECT station_id, round(avg(filled) + 1e-9, 6) AS ma FROM filled_s GROUP BY 1)
    SELECT f.station_id, f.day, f.filled,
      round(f.filled * r.raster_p / m.ma + 1e-9, 3) AS adj
    FROM filled_s f JOIN ma_f m USING (station_id) JOIN raster r USING (station_id)
    ORDER BY station_id, day""")

  val qAdjustAdd: String = withFill(s"""
    , $rasterCte,
    ma_f AS (SELECT station_id, round(avg(filled) + 1e-9, 6) AS ma FROM filled_s GROUP BY 1)
    SELECT f.station_id, f.day, f.filled,
      round(f.filled + (r.raster_t - m.ma) + 1e-9, 3) AS adj
    FROM filled_s f JOIN ma_f m USING (station_id) JOIN raster r USING (station_id)
    ORDER BY station_id, day""")

  val qAggDay: String = s"""
    WITH stations AS (SELECT DISTINCT user_id::BIGINT AS station_id FROM events),
    hb AS (SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1 FROM events),
    hgrid AS (
      SELECT s.station_id, unnest(generate_series(b.h0, b.h1, INTERVAL 1 HOUR)) AS hour
      FROM stations s, hb b),
    hourly AS (
      SELECT user_id::BIGINT AS station_id, date_trunc('hour', ts) AS hour,
        round(sum(value) + 1e-9, 3) AS raw
      FROM events GROUP BY 1, 2),
    hseries AS (
      SELECT g.station_id, g.hour, h.raw FROM hgrid g LEFT JOIN hourly h USING (station_id, hour))
    SELECT station_id, hour::date AS day,
      CASE WHEN count(raw)::DOUBLE / count(*) > $AggMinShare
        THEN round(sum(raw) + 1e-9, 3) END AS raw,
      round((count(*) - count(raw))::DOUBLE / count(*) * 100 + 1e-9, 6) AS raw_na_share
    FROM hseries GROUP BY 1, 2 ORDER BY station_id, day"""

  val qAggMonth: String = withFill(s"""
    SELECT station_id, date_trunc('month', day)::date AS month,
      CASE WHEN count(qc)::DOUBLE / count(*) > $AggMinShare
        THEN round(sum(qc) + 1e-9, 3) END AS qc,
      CASE WHEN count(filled)::DOUBLE / count(*) > $AggMinShare
        THEN round(sum(filled) + 1e-9, 3) END AS filled,
      round((count(*) - count(qc))::DOUBLE / count(*) * 100 + 1e-9, 6) AS qc_na_share,
      round((count(*) - count(filled))::DOUBLE / count(*) * 100 + 1e-9, 6) AS filled_na_share
    FROM filled_s GROUP BY 1, 2 ORDER BY station_id, month""")

  val qAggYear: String = withFill(s"""
    SELECT station_id, date_trunc('year', day)::date AS year,
      CASE WHEN count(qc)::DOUBLE / count(*) > $AggMinShare
        THEN round(sum(qc) + 1e-9, 3) END AS qc,
      CASE WHEN count(filled)::DOUBLE / count(*) > $AggMinShare
        THEN round(sum(filled) + 1e-9, 3) END AS filled,
      round((count(*) - count(qc))::DOUBLE / count(*) * 100 + 1e-9, 6) AS qc_na_share,
      round((count(*) - count(filled))::DOUBLE / count(*) * 100 + 1e-9, 6) AS filled_na_share
    FROM filled_s GROUP BY 1, 2 ORDER BY station_id, year""")

  val qAggMonthMean: String = withFill(s"""
    SELECT station_id, date_trunc('month', day)::date AS month,
      CASE WHEN count(qc)::DOUBLE / count(*) > $AggMinShare
        THEN round(avg(qc) + 1e-9, 6) END AS qc,
      CASE WHEN count(filled)::DOUBLE / count(*) > $AggMinShare
        THEN round(avg(filled) + 1e-9, 6) END AS filled
    FROM filled_s GROUP BY 1, 2 ORDER BY station_id, month""")

  val qGroupWide: String = s"""
    WITH $world,
    t_daily AS (
      SELECT user_id::BIGINT AS station_id, ts::date AS day,
        round(avg(value) + 1e-9, 6) - $TempShift AS t_raw
      FROM events WHERE event_type = 'view' GROUP BY 1, 2),
    et_daily AS (
      SELECT user_id::BIGINT AS station_id, ts::date AS day,
        round(sum(value) / 10 + 1e-9, 3) AS et_raw
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
    SELECT r.station_id, r.day, r.raw AS p_raw, t.t_raw, e.et_raw
    FROM raw_daily r
    LEFT JOIN t_daily t USING (station_id, day)
    LEFT JOIN et_daily e USING (station_id, day)
    ORDER BY station_id, day"""

  /** Reconstructs ModelExport.tsFiles' file text byte-for-byte:
    * header line + per-day `Jahr\tMonat\tTag\t<value>` rows ordered by
    * day, NULL → empty string. Both engines print the SAME doubles
    * (q_group_wide proves bit-equality), and shortest-decimal
    * formatting of values rounded to 3 decimals in this magnitude
    * range is identical between Spark's cast-to-string and DuckDB's. */
  val qModelExport: String = s"""
    WITH $world,
    t_daily AS (
      SELECT user_id::BIGINT AS station_id, ts::date AS day,
        round(avg(value) + 1e-9, 6) - $TempShift AS t_raw
      FROM events WHERE event_type = 'view' GROUP BY 1, 2),
    et_daily AS (
      SELECT user_id::BIGINT AS station_id, ts::date AS day,
        round(sum(value) / 10 + 1e-9, 3) AS et_raw
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
    wide AS (
      SELECT r.station_id, r.day, r.raw AS p_raw, t.t_raw, e.et_raw
      FROM raw_daily r
      LEFT JOIN t_daily t USING (station_id, day)
      LEFT JOIN et_daily e USING (station_id, day)),
    lines AS (
      SELECT station_id, day,
        CAST(year(day) AS VARCHAR) || chr(9) || CAST(month(day) AS VARCHAR)
          || chr(9) || CAST(day(day) AS VARCHAR) || chr(9) AS date_part,
        CASE WHEN p_raw IS NULL THEN '' ELSE printf('%.3f', p_raw) END AS p_s,
        CASE WHEN t_raw IS NULL THEN '' ELSE printf('%.6f', t_raw) END AS t_s,
        CASE WHEN et_raw IS NULL THEN '' ELSE printf('%.3f', et_raw) END AS et_s
      FROM wide),
    files AS (
      SELECT station_id, 'P.txt' AS file,
        'Jahr' || chr(9) || 'Monat' || chr(9) || 'Tag' || chr(9) || 'P' || chr(10) ||
        string_agg(date_part || p_s, chr(10) ORDER BY day) AS text
      FROM lines GROUP BY station_id
      UNION ALL
      SELECT station_id, 'T.txt' AS file,
        'Jahr' || chr(9) || 'Monat' || chr(9) || 'Tag' || chr(9) || 'T' || chr(10) ||
        string_agg(date_part || t_s, chr(10) ORDER BY day) AS text
      FROM lines GROUP BY station_id
      UNION ALL
      SELECT station_id, 'ET.txt' AS file,
        'Jahr' || chr(9) || 'Monat' || chr(9) || 'Tag' || chr(9) || 'ET' || chr(10) ||
        string_agg(date_part || et_s, chr(10) ORDER BY day) AS text
      FROM lines GROUP BY station_id)
    SELECT station_id, file, text FROM files ORDER BY station_id, file"""

  val qFilledPeriod: String = withFill(s"""
    , fp AS (
      SELECT station_id,
        min(CASE WHEN raw IS NOT NULL THEN day END) AS raw_from,
        max(CASE WHEN raw IS NOT NULL THEN day END) AS raw_until,
        min(CASE WHEN qc IS NOT NULL THEN day END) AS qc_from,
        max(CASE WHEN qc IS NOT NULL THEN day END) AS qc_until,
        min(CASE WHEN filled IS NOT NULL THEN day END) AS filled_from,
        max(CASE WHEN filled IS NOT NULL THEN day END) AS filled_until
      FROM filled_s GROUP BY 1)
    SELECT station_id, 'raw' AS kind, raw_from AS date_from, raw_until AS date_until FROM fp
    UNION ALL SELECT station_id, 'qc', qc_from, qc_until FROM fp
    UNION ALL SELECT station_id, 'filled', filled_from, filled_until FROM fp
    ORDER BY station_id, kind""")

  /** get_max_period: grid extent (NAs allowed) + inner union of the
    * per-kind filled periods (latest start, earliest end; NULL when a
    * kind is empty or the kinds never overlap). */
  val qMaxPeriod: String = withFill(s"""
    , fp AS (
      SELECT station_id,
        min(day) AS grid_from, max(day) AS grid_until,
        min(CASE WHEN raw IS NOT NULL THEN day END) AS raw_from,
        max(CASE WHEN raw IS NOT NULL THEN day END) AS raw_until,
        min(CASE WHEN qc IS NOT NULL THEN day END) AS qc_from,
        max(CASE WHEN qc IS NOT NULL THEN day END) AS qc_until,
        min(CASE WHEN filled IS NOT NULL THEN day END) AS filled_from,
        max(CASE WHEN filled IS NOT NULL THEN day END) AS filled_until
      FROM filled_s GROUP BY 1)
    SELECT station_id, grid_from, grid_until,
      CASE WHEN ok THEN mf END AS max_from,
      CASE WHEN ok THEN mu END AS max_until
    FROM (
      SELECT *, greatest(raw_from, qc_from, filled_from) AS mf,
        least(raw_until, qc_until, filled_until) AS mu,
        raw_from IS NOT NULL AND qc_from IS NOT NULL AND filled_from IS NOT NULL
          AND greatest(raw_from, qc_from, filled_from)
              <= least(raw_until, qc_until, filled_until) AS ok
      FROM fp)
    ORDER BY station_id""")

  val qCountHoles: String = s"""
    WITH $world,
    $qcAllCte,
    sb AS (SELECT station_id, min(day) AS d0, max(day) AS d1 FROM qc_all GROUP BY 1),
    obs AS (
      SELECT DISTINCT station_id, day FROM (
        SELECT station_id, day FROM qc_all WHERE qc IS NOT NULL
        UNION ALL SELECT station_id, d0 FROM sb
        UNION ALL SELECT station_id, d1 FROM sb)),
    diffs AS (
      SELECT station_id,
        day - lag(day, 1) OVER (PARTITION BY station_id ORDER BY day) AS diff
      FROM obs)
    SELECT station_id,
      count(CASE WHEN diff >= 3 THEN 1 END) AS holes_ge_3,
      count(CASE WHEN diff >= 5 THEN 1 END) AS holes_ge_5,
      count(CASE WHEN diff >= 7 THEN 1 END) AS holes_ge_7,
      count(CASE WHEN diff >= 10 THEN 1 END) AS holes_ge_10
    FROM diffs GROUP BY 1 ORDER BY station_id"""

  /** Virtual-station temperature fill: dense T grid, NULLs filled from
    * the nearest neighbor with a value that day, additively
    * regionalized with raster climate values (raster exists at every
    * location, so is_real=false stations still get a full companion).
    * Requires grid, knn10, raster and temp_daily CTEs in scope. */
  private val tempFillCte: String = """
    t_dense AS (
      SELECT g.station_id, g.day, td.t
      FROM grid g LEFT JOIN temp_daily td USING (station_id, day)),
    t_coefs AS (
      SELECT k.station_id, k.nb_id, k.rank,
        round(rs.raster_t - ro.raster_t + 1e-9, 6) AS coef
      FROM knn10 k
      JOIN raster rs ON rs.station_id = k.station_id
      JOIN raster ro ON ro.station_id = k.nb_id),
    t_cand AS (
      SELECT c.station_id, s.day, round(s.t + c.coef + 1e-9, 2) AS cand, c.rank
      FROM t_coefs c JOIN t_dense s ON s.station_id = c.nb_id AND s.t IS NOT NULL),
    t_best AS (
      SELECT station_id, day, cand FROM (
        SELECT *, row_number() OVER (PARTITION BY station_id, day ORDER BY rank) AS rn
        FROM t_cand) WHERE rn = 1),
    t_filled AS (
      SELECT g.station_id, g.day, coalesce(g.t, b.cand) AS t
      FROM t_dense g LEFT JOIN t_best b USING (station_id, day))"""

  private val richterClassCase: String = """
      CASE WHEN horizon >= 12 THEN 'heavy-protection'
           WHEN horizon >= 7 THEN 'protected'
           WHEN horizon >= 3 THEN 'little-protection'
           WHEN horizon >= 0 THEN 'no-protection' END"""

  val qRichterClass: String = s"""
    WITH $world
    SELECT station_id, horizon, $richterClassCase AS richter_class
    FROM meta ORDER BY station_id"""

  val qRichterCorrect: String = withFill(s"""
    , temp_daily AS (
      SELECT user_id::BIGINT AS station_id, ts::date AS day,
        round(avg(value) + 1e-9, 6) - $TempShift AS t
      FROM events WHERE event_type = 'view' GROUP BY 1, 2),
    $rasterCte,
    $tempFillCte,
    rc AS (SELECT station_id, $richterClassCase AS richter_class FROM meta),
    rp AS (SELECT * FROM (VALUES
      ('precip_summer', 0.38, 0.345, 0.31, 0.28, 0.245),
      ('precip_winter', 0.46, 0.34, 0.28, 0.24, 0.19),
      ('mix', 0.55, 0.535, 0.39, 0.305, 0.185),
      ('snow', 0.82, 0.72, 0.51, 0.33, 0.21))
      t(precipitation_typ, e, b_no, b_little, b_prot, b_heavy)),
    typed AS (
      SELECT f.station_id, f.day, f.filled, td.t,
        CASE WHEN td.t >= $RainTemp AND month(f.day) IN (1,2,3,10,11,12) THEN 'precip_winter'
             WHEN td.t >= $RainTemp THEN 'precip_summer'
             WHEN td.t <= $SnowTemp THEN 'snow'
             WHEN td.t IS NULL THEN NULL
             ELSE 'mix' END AS precipitation_typ
      FROM filled_s f LEFT JOIN t_filled td USING (station_id, day)),
    corr_c AS (
      SELECT ty.station_id, ty.day, ty.filled, ty.t, ty.precipitation_typ,
        CASE WHEN ty.precipitation_typ IS NULL THEN 0.0
             ELSE round(
               CASE WHEN rc.richter_class = 'no-protection' THEN rp.b_no
                    WHEN rc.richter_class = 'little-protection' THEN rp.b_little
                    WHEN rc.richter_class = 'protected' THEN rp.b_prot
                    ELSE rp.b_heavy END * pow(ty.filled, rp.e) + 1e-9, 6) END AS delta
      FROM typed ty
      JOIN rc ON rc.station_id = ty.station_id
      LEFT JOIN rp ON rp.precipitation_typ = ty.precipitation_typ)
    SELECT station_id, day, filled, t, precipitation_typ,
      CASE WHEN filled > 0 THEN round(filled + delta + 1e-9, 3) ELSE filled END AS corr
    FROM corr_c ORDER BY station_id, day""")

  /** Mirrors TsQueries.qPrecipTypeMix: the full corrected frame as a
    * subquery, then the per-(station, type) census. */
  val qPrecipTypeMix: String = s"""
    WITH base AS ($qRichterCorrect),
    agg AS (
      SELECT station_id,
        coalesce(precipitation_typ, 'untyped') AS precipitation_typ,
        count(*) AS n_days,
        round(sum(CASE WHEN filled > 0 THEN corr - filled ELSE 0.0 END)
          + 1e-9, 3) AS uplift
      FROM base GROUP BY 1, 2)
    SELECT station_id, precipitation_typ, n_days,
      round(n_days / (sum(n_days) OVER (PARTITION BY station_id))::DOUBLE
        + 1e-9, 6) AS share,
      uplift
    FROM agg ORDER BY station_id, precipitation_typ"""

  /** Sub-daily correction: integer-scaled daily delta spread over wet
    * hourly intervals (delta/count_n semantics, StationP.py:553-612). */
  val qRichterCorrectHourly: String = s"""
    WITH $world,
    hb AS (SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1 FROM events),
    hgrid AS (
      SELECT s.station_id, unnest(generate_series(b.h0, b.h1, INTERVAL 1 HOUR)) AS hour
      FROM stations s, hb b),
    hourly AS (
      SELECT user_id::BIGINT AS station_id, date_trunc('hour', ts) AS hour,
        round(sum(value) + 1e-9, 3) AS raw
      FROM events GROUP BY 1, 2),
    hseries AS (
      SELECT g.station_id, g.hour, h.raw FROM hgrid g LEFT JOIN hourly h USING (station_id, hour)),
    p_daily AS (
      SELECT station_id, hour::date AS day, round(sum(raw) + 1e-9, 3) AS p_d,
        count(CASE WHEN raw > 0 THEN 1 END) AS count_n
      FROM hseries GROUP BY 1, 2),
    temp_daily AS (
      SELECT user_id::BIGINT AS station_id, ts::date AS day,
        round(avg(value) + 1e-9, 6) - $TempShift AS t
      FROM events WHERE event_type = 'view' GROUP BY 1, 2),
    knn10 AS (
      SELECT station_id, nb_id, rank FROM (
        SELECT station_id, nb_id,
          row_number() OVER (PARTITION BY station_id ORDER BY d2, nb_id) AS rank
        FROM pairs) WHERE rank <= $FillK),
    $rasterCte,
    $tempFillCte,
    rc AS (SELECT station_id, $richterClassCase AS richter_class FROM meta),
    rp AS (SELECT * FROM (VALUES
      ('precip_summer', 0.38, 0.345, 0.31, 0.28, 0.245),
      ('precip_winter', 0.46, 0.34, 0.28, 0.24, 0.19),
      ('mix', 0.55, 0.535, 0.39, 0.305, 0.185),
      ('snow', 0.82, 0.72, 0.51, 0.33, 0.21))
      t(precipitation_typ, e, b_no, b_little, b_prot, b_heavy)),
    typed AS (
      SELECT p.station_id, p.day, p.p_d, p.count_n,
        CASE WHEN td.t >= $RainTemp AND month(p.day) IN (1,2,3,10,11,12) THEN 'precip_winter'
             WHEN td.t >= $RainTemp THEN 'precip_summer'
             WHEN td.t <= $SnowTemp THEN 'snow'
             WHEN td.t IS NULL THEN NULL
             ELSE 'mix' END AS precipitation_typ
      FROM p_daily p LEFT JOIN t_filled td USING (station_id, day)),
    deltas AS (
      SELECT ty.station_id, ty.day,
        CASE WHEN ty.count_n > 0 AND ty.precipitation_typ IS NOT NULL
          THEN round(
            CASE WHEN rc.richter_class = 'no-protection' THEN rp.b_no
                 WHEN rc.richter_class = 'little-protection' THEN rp.b_little
                 WHEN rc.richter_class = 'protected' THEN rp.b_prot
                 ELSE rp.b_heavy END * pow(ty.p_d, rp.e) * $PDecimals / ty.count_n + 1e-9)::BIGINT
          ELSE 0 END AS delta_scaled
      FROM typed ty JOIN rc USING (station_id)
      LEFT JOIN rp ON rp.precipitation_typ = ty.precipitation_typ)
    SELECT h.station_id, h.hour, h.raw, d.delta_scaled,
      CASE WHEN h.raw > 0 THEN round(h.raw + d.delta_scaled / $PDecimals.0 + 1e-9, 3) ELSE h.raw END AS corr
    FROM hseries h LEFT JOIN deltas d ON d.station_id = h.station_id AND d.day = h.hour::date
    ORDER BY h.station_id, h.hour"""

  val qSessionize: String = """
    WITH flagged AS (
      SELECT user_id, event_id, ts, value,
        CASE WHEN epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) > 1800000000 THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sessions AS (
      -- ::BIGINT: DuckDB's windowed sum yields HUGEINT, which pandas
      -- turns into float64 — Spark's bigint would hash-mismatch on type
      SELECT user_id, ts, value,
        (sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS session_id
      FROM flagged)
    SELECT user_id::BIGINT AS station_id, session_id,
      min(ts) AS session_start, max(ts) AS session_end,
      count(*) AS n_events,
      round(sum(value) + 1e-9, 3) AS sum_value,
      round((epoch_us(max(ts)) - epoch_us(min(ts))) / 1e6 + 1e-9, 3) AS duration_s
    FROM sessions GROUP BY 1, 2 ORDER BY station_id, session_id"""

  val qSessionStats: String = """
    WITH flagged AS (
      SELECT user_id, event_id, ts, value,
        CASE WHEN epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) > 1800000000 THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sessions AS (
      SELECT user_id, ts, value,
        (sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS session_id
      FROM flagged),
    sess AS (
      SELECT user_id, session_id, count(*) AS n_events,
        round(sum(value) + 1e-9, 3) AS sum_value,
        round((epoch_us(max(ts)) - epoch_us(min(ts))) / 1e6 + 1e-9, 3) AS duration_s
      FROM sessions GROUP BY 1, 2),
    len AS (
      SELECT n_events AS session_len, count(*) AS n_sessions,
        round(avg(duration_s) + 1e-9, 3) AS mean_duration_s,
        round(sum(sum_value) + 1e-9, 3) AS total_value
      FROM sess GROUP BY 1)
    SELECT session_len, n_sessions, mean_duration_s, total_value,
      round(n_sessions / (sum(n_sessions) OVER ())::DOUBLE + 1e-9, 6) AS share
    FROM len ORDER BY session_len"""

  val qStreamWindow: String = """
    SELECT make_timestamp((floor(epoch(ts) / 21600)::BIGINT * 21600) * 1000000) AS window_start,
      event_type, count(*) AS n, round(sum(value) + 1e-9, 3) AS sum_value
    FROM events GROUP BY 1, 2 ORDER BY window_start, event_type"""

  val qUnpivot: String = s"""
    WITH $world,
    t_daily AS (
      SELECT user_id::BIGINT AS station_id, ts::date AS day,
        round(avg(value) + 1e-9, 6) - $TempShift AS t_raw
      FROM events WHERE event_type = 'view' GROUP BY 1, 2),
    et_daily AS (
      SELECT user_id::BIGINT AS station_id, ts::date AS day,
        round(sum(value) / 10 + 1e-9, 3) AS et_raw
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
    wide AS (
      SELECT r.station_id, r.day, r.raw AS p_raw, t.t_raw, e.et_raw
      FROM raw_daily r
      LEFT JOIN t_daily t USING (station_id, day)
      LEFT JOIN et_daily e USING (station_id, day))
    SELECT station_id, day, 'p_raw' AS para, p_raw AS value FROM wide WHERE p_raw IS NOT NULL
    UNION ALL SELECT station_id, day, 't_raw', t_raw FROM wide WHERE t_raw IS NOT NULL
    UNION ALL SELECT station_id, day, 'et_raw', et_raw FROM wide WHERE et_raw IS NOT NULL
    ORDER BY station_id, day, para"""

  // band self-join: DuckDB evaluates the |Δt| predicate directly (its
  // IEJoin); the Spark side proves the bin-bucketed equi-join rewrite
  // returns the identical pair set
  val qRangeJoinTime: String = """
    WITH near AS (
      SELECT a.event_id, count(*) AS n_nearby,
        min(abs(epoch_us(a.ts) - epoch_us(b.ts))) AS mdt
      FROM events a JOIN events b
        ON b.event_id <> a.event_id
        AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 1800000000
      GROUP BY a.event_id)
    SELECT e.event_id, coalesce(n.n_nearby, 0) AS n_nearby,
      round(n.mdt / CAST(1e6 AS DOUBLE) + 1e-9, 3) AS min_dt_s
    FROM events e LEFT JOIN near n USING (event_id)
    ORDER BY event_id"""

  // sliding window: each event belongs to width/slide = 4 windows whose
  // starts step back by the 30-min slide from the event's floor-aligned
  // slide boundary (same epoch alignment as Spark's window())
  val qSlidingWindow: String = """
    WITH hops AS (SELECT unnest(generate_series(0, 3)) AS k),
    expanded AS (
      SELECT make_timestamp(((epoch_us(ts) // 1800000000) - k) * 1800000000) AS window_start,
        event_type, value
      FROM events CROSS JOIN hops)
    SELECT window_start, window_start + INTERVAL 2 HOUR AS window_end,
      event_type, count(*) AS n, round(sum(value) + 1e-9, 3) AS sum_value
    FROM expanded
    GROUP BY window_start, event_type
    ORDER BY window_start, event_type"""

  /** Mirrors Climate.drySpells: gaps-and-islands dry runs per
    * (station, calendar year). */
  val qDrySpells: String = s"""
    WITH $world,
    base AS (
      SELECT station_id, day, year(day) AS yr,
        coalesce(raw, 0.0) < 25.0 AS dry
      FROM raw_daily),
    runs AS (
      SELECT station_id, yr,
        datediff('day', DATE '1970-01-01', day)
          - row_number() OVER (PARTITION BY station_id, yr ORDER BY day) AS grp
      FROM base WHERE dry),
    run_len AS (
      SELECT station_id, yr, grp, count(*) AS run_len
      FROM runs GROUP BY 1, 2, 3),
    agg AS (
      SELECT station_id, yr, max(run_len) AS max_dry_run,
        CAST(sum(run_len) AS BIGINT) AS n_dry
      FROM run_len GROUP BY 1, 2),
    days AS (
      SELECT station_id, year(day) AS yr, count(*) AS n_days
      FROM raw_daily GROUP BY 1, 2)
    SELECT d.station_id, d.yr, d.n_days,
      coalesce(a.n_dry, 0) AS n_dry,
      coalesce(a.max_dry_run, 0) AS max_dry_run
    FROM days d LEFT JOIN agg a USING (station_id, yr)
    ORDER BY station_id, yr"""

  /** Mirrors Climate.degreeDays over the dense-grid temperature. */
  val qDegreeDays: String = s"""
    WITH $world,
    t_daily AS (
      SELECT user_id::BIGINT AS station_id, ts::date AS day,
        round(avg(value) + 1e-9, 6) - $TempShift AS t
      FROM events WHERE event_type = 'view' GROUP BY 1, 2),
    t_grid AS (
      SELECT g.station_id, g.day, t.t
      FROM grid g LEFT JOIN t_daily t USING (station_id, day))
    SELECT station_id, date_trunc('month', day)::date AS month,
      round(sum(CASE WHEN t IS NOT NULL THEN greatest(0.0, 18.0 - t)
                ELSE 0.0 END) + 1e-9, 3) AS hdd,
      round(sum(CASE WHEN t IS NOT NULL THEN greatest(0.0, t - 18.0)
                ELSE 0.0 END) + 1e-9, 3) AS cdd,
      count(t) AS n_obs,
      CAST(sum(CASE WHEN t IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing
    FROM t_grid GROUP BY 1, 2 ORDER BY station_id, month"""

  /** Mirrors Climate.returnPeriods: Weibull plotting positions over
    * the annual maxima. */
  val qReturnPeriod: String = s"""
    WITH $world,
    ann AS (
      SELECT station_id, year(day) AS yr, max(raw) AS annual_max
      FROM raw_daily GROUP BY 1, 2 HAVING max(raw) IS NOT NULL),
    ranked AS (
      SELECT station_id, yr, annual_max,
        row_number() OVER (PARTITION BY station_id
          ORDER BY annual_max DESC, yr) AS m,
        count(*) OVER (PARTITION BY station_id) AS n_years
      FROM ann)
    SELECT station_id, yr, annual_max, m, n_years,
      round((n_years + 1) / m::DOUBLE + 1e-9, 6) AS return_period,
      round(m / (n_years + 1)::DOUBLE + 1e-9, 6) AS exc_prob
    FROM ranked ORDER BY station_id, m"""

  /** Mirrors Climate.spiZscore: trailing 7-day accumulation
    * standardized against the station's own distribution; only
    * complete windows score. */
  val qSpiZscore: String = s"""
    WITH $world,
    acc AS (
      SELECT station_id, day,
        round(sum(coalesce(raw, 0.0)) OVER win + 1e-9, 3) AS p_acc,
        count(*) OVER win AS w_size
      FROM raw_daily
      WINDOW win AS (PARTITION BY station_id ORDER BY day
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
    full_w AS (SELECT station_id, day, p_acc FROM acc WHERE w_size = 7),
    stats AS (
      SELECT station_id,
        round(avg(p_acc) + 1e-9, 6) AS clim_mean,
        round(stddev_samp(p_acc) + 1e-9, 6) AS clim_sd
      FROM full_w GROUP BY 1)
    SELECT f.station_id, f.day, f.p_acc, s.clim_mean, s.clim_sd,
      CASE WHEN s.clim_sd > 0.0
           THEN round((f.p_acc - s.clim_mean) / s.clim_sd + 1e-9, 4) END AS spi
    FROM full_w f JOIN stats s USING (station_id)
    ORDER BY f.station_id, f.day"""

  /** Mirrors Climate.mannKendall: per-station pair signs over the
    * observed daily values, continuity-corrected normal z. */
  /** Mirrors Climate.pettitt: midranks, cumulative rank sum,
    * U_t = 2·cumr − t·(n+1), (|U|, earliest-day) argmax. */
  val qPettitt: String = s"""
    WITH $world,
    obs AS (
      SELECT station_id, day, raw FROM raw_daily WHERE raw IS NOT NULL),
    ranked AS (
      SELECT station_id, day, raw,
        rank() OVER (PARTITION BY station_id ORDER BY raw)
          + (count(*) OVER (PARTITION BY station_id, raw) - 1) / 2.0 AS r
      FROM obs),
    u_t AS (
      SELECT station_id, day,
        CAST(2.0 * sum(r) OVER (PARTITION BY station_id ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          - (row_number() OVER (PARTITION BY station_id ORDER BY day))
            * (count(*) OVER (PARTITION BY station_id) + 1) AS BIGINT) AS u,
        row_number() OVER (PARTITION BY station_id ORDER BY day) AS t,
        count(*) OVER (PARTITION BY station_id) AS n,
        datediff('day', DATE '1970-01-01', day) AS day_ord
      FROM ranked),
    best AS (
      SELECT station_id, n,
        max(ROW(abs(u), -day_ord, u)) AS b
      FROM u_t WHERE t < n GROUP BY 1, 2)
    SELECT station_id, n, b[1] AS k_stat, b[3] AS u_at_break,
      DATE '1970-01-01' + CAST(-b[2] AS INT) AS break_day,
      round(least(1.0, 2.0 * exp(-6.0 * b[1] * b[1] / (n*n*n + n*n)))
        + 1e-9, 6) AS p_value
    FROM best ORDER BY station_id"""

  /** Mirrors Climate.cusum: rounded moments BEFORE the ordered
    * cumulative sum, (|S|, earliest-day) argmax, Kolmogorov-scaled
    * max|S|/√n. */
  val qCusum: String = s"""
    WITH $world,
    obs AS (
      SELECT station_id, day, raw FROM raw_daily WHERE raw IS NOT NULL),
    moments AS (
      SELECT station_id, count(*) AS n,
        round(avg(raw) + 1e-9, 6) AS mean,
        round(stddev_pop(raw) + 1e-9, 6) AS sd
      FROM obs GROUP BY 1
      HAVING round(stddev_pop(raw) + 1e-9, 6) > 0.0),
    s_t AS (
      SELECT o.station_id, m.n, m.mean, m.sd,
        round(sum((o.raw - m.mean) / m.sd)
          OVER (PARTITION BY o.station_id ORDER BY o.day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1e-9, 4) AS s,
        datediff('day', DATE '1970-01-01', o.day) AS day_ord
      FROM obs o JOIN moments m USING (station_id)),
    best AS (
      SELECT station_id, n, mean, sd, max(ROW(abs(s), -day_ord, s)) AS b
      FROM s_t GROUP BY 1, 2, 3, 4)
    SELECT station_id, n, mean, sd, b[1] AS s_max, b[3] AS s_at_break,
      DATE '1970-01-01' + CAST(-b[2] AS INT) AS break_day,
      round(b[1] / sqrt(n) + 1e-9, 4) AS s_norm
    FROM best ORDER BY station_id"""

  /** Mirrors Climate.snht: rounded moments, ordered cumulative z, the
    * series total taken from the LAST cumulative value (never an
    * unordered re-sum), T_k projection, (T, earliest-day) argmax. */
  val qSnht: String = s"""
    WITH $world,
    obs AS (
      SELECT station_id, day, raw FROM raw_daily WHERE raw IS NOT NULL),
    moments AS (
      SELECT station_id, count(*) AS n,
        round(avg(raw) + 1e-9, 6) AS mean,
        round(stddev_pop(raw) + 1e-9, 6) AS sd
      FROM obs GROUP BY 1
      HAVING round(stddev_pop(raw) + 1e-9, 6) > 0.0),
    cum AS (
      SELECT o.station_id, m.n, m.mean, m.sd,
        sum((o.raw - m.mean) / m.sd)
          OVER (PARTITION BY o.station_id ORDER BY o.day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumz,
        row_number() OVER (PARTITION BY o.station_id ORDER BY o.day) AS k,
        datediff('day', DATE '1970-01-01', o.day) AS day_ord
      FROM obs o JOIN moments m USING (station_id)),
    tot AS (
      SELECT station_id, max(ROW(k, cumz)) AS lastc FROM cum GROUP BY 1),
    t_k AS (
      SELECT c.station_id, c.n, c.mean, c.sd, c.k, c.cumz,
        t.lastc[2] AS totz, c.day_ord,
        round(c.cumz * c.cumz / c.k
          + (t.lastc[2] - c.cumz) * (t.lastc[2] - c.cumz) / (c.n - c.k)
          + 1e-9, 4) AS t_stat
      FROM cum c JOIN tot t USING (station_id)
      WHERE c.k < c.n),
    best AS (
      SELECT station_id, n, mean, sd,
        max(ROW(t_stat, -day_ord, k, cumz, totz)) AS b
      FROM t_k GROUP BY 1, 2, 3, 4)
    SELECT station_id, n, b[1] AS t_max,
      DATE '1970-01-01' + CAST(-b[2] AS INT) AS break_day,
      round(mean + sd * b[4] / b[3] + 1e-9, 4) AS mu1,
      round(mean + sd * (b[5] - b[4]) / (n - b[3]) + 1e-9, 4) AS mu2
    FROM best ORDER BY station_id"""

  /** Mirrors Climate.seasonalMannKendall(season="dow"): one avg per
    * (station, day-of-week, week) CELL, S across week indices within
    * each dow season, summed variance, continuity-corrected z. */
  val qSeasonalMk: String = s"""
    WITH $world,
    seasonal AS (
      SELECT station_id, dayofweek(day) AS m,
        datediff('day', DATE '1970-01-01', day) // 7 AS wk,
        round(avg(raw) + 1e-9, 6) AS p
      FROM raw_daily WHERE raw IS NOT NULL GROUP BY 1, 2, 3),
    per_month AS (
      SELECT a.station_id, a.m,
        CAST(sum(sign(b.p - a.p)) AS BIGINT) AS s_m
      FROM seasonal a JOIN seasonal b
        ON a.station_id = b.station_id AND a.m = b.m AND a.wk < b.wk
      GROUP BY 1, 2),
    n_month AS (
      SELECT station_id, m, count(*) AS n_m FROM seasonal GROUP BY 1, 2),
    per AS (
      SELECT p.station_id, CAST(sum(p.s_m) AS BIGINT) AS s,
        round(sum(n.n_m * (n.n_m - 1) * (2 * n.n_m + 5)) / 18.0 + 1e-9, 6)
          AS var_s,
        count(*) AS n_seasons
      FROM per_month p JOIN n_month n USING (station_id, m)
      GROUP BY 1)
    SELECT station_id, n_seasons, s, var_s,
      CASE WHEN s = 0 THEN 0.0
           ELSE round(sign(s) * (abs(s) - 1) / sqrt(var_s) + 1e-9, 4) END AS z,
      CASE WHEN (CASE WHEN s = 0 THEN 0.0
                 ELSE round(sign(s) * (abs(s) - 1) / sqrt(var_s) + 1e-9, 4) END)
                > 1.96 THEN 'increasing'
           WHEN (CASE WHEN s = 0 THEN 0.0
                 ELSE round(sign(s) * (abs(s) - 1) / sqrt(var_s) + 1e-9, 4) END)
                < -1.96 THEN 'decreasing'
           ELSE 'none' END AS trend
    FROM per ORDER BY station_id"""

  /** Mirrors Climate.ksTest: ordered halves, tie-collapsing
    * (station, value) aggregate, one cumulative window over distinct
    * values, keyed max of |F1−F2|. */
  val qKsTest: String = s"""
    WITH $world,
    obs AS (
      SELECT station_id, day, raw,
        row_number() OVER (PARTITION BY station_id ORDER BY day) AS k,
        count(*) OVER (PARTITION BY station_id) AS n
      FROM raw_daily WHERE raw IS NOT NULL),
    halves AS (
      SELECT station_id, n, raw,
        CASE WHEN k <= n / 2.0 THEN 1 ELSE 0 END AS in1
      FROM obs WHERE n >= 4),
    per_value AS (
      SELECT station_id, n, raw,
        CAST(sum(in1) AS BIGINT) AS c1,
        CAST(sum(1 - in1) AS BIGINT) AS c2
      FROM halves GROUP BY 1, 2, 3),
    cum AS (
      SELECT station_id, n // 2 AS n1, n - n // 2 AS n2,
        CAST(sum(c1) OVER w AS DOUBLE) / (n // 2) AS f1,
        CAST(sum(c2) OVER w AS DOUBLE) / (n - n // 2) AS f2
      FROM per_value
      WINDOW w AS (PARTITION BY station_id ORDER BY raw
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    d AS (
      SELECT station_id, n1, n2,
        round(max(abs(f1 - f2)) + 1e-9, 6) AS d_stat
      FROM cum GROUP BY 1, 2, 3)
    SELECT station_id, n1, n2, d_stat,
      round(d_stat * sqrt(CAST(n1 * n2 AS DOUBLE) / (n1 + n2)) + 1e-9, 4)
        AS ks_score,
      round(d_stat * sqrt(CAST(n1 * n2 AS DOUBLE) / (n1 + n2)) + 1e-9, 4)
        <= 1.358 AS same_dist
    FROM d ORDER BY station_id"""

  /** Mirrors Climate.crossCorr: knn × lag fan-out, shifted-day keyed
    * join, one moment aggregate per (station, neighbor, lag). */
  val qCrossCorr: String = s"""
    WITH $world,
    x AS (SELECT station_id, day, coalesce(raw, 0.0) AS x FROM raw_daily),
    lags AS (
      SELECT k.station_id, k.nb_id, k.rank, l.lag
      FROM knn k, (SELECT unnest([-1, 0, 1]) AS lag) l),
    j AS (
      SELECT g.station_id, g.nb_id, g.rank, g.lag, a.x, b.x AS y
      FROM lags g
      JOIN x a ON a.station_id = g.station_id
      JOIN x b ON b.station_id = g.nb_id AND b.day = a.day + g.lag),
    sums AS (
      SELECT station_id, nb_id, rank, lag, count(*) AS n,
        sum(x) AS sx, sum(y) AS sy, sum(x*x) AS sxx, sum(y*y) AS syy,
        sum(x*y) AS sxy
      FROM j GROUP BY 1, 2, 3, 4),
    d AS (
      SELECT *, n*sxx - sx*sx AS detx, n*syy - sy*sy AS dety FROM sums)
    SELECT station_id, nb_id, rank, lag, n,
      CASE WHEN detx > 0.0 AND dety > 0.0
           THEN round((n*sxy - sx*sy) / sqrt(detx * dety) + 1e-9, 6)
      END AS r
    FROM d ORDER BY station_id, rank, lag"""

  /** Mirrors Climate.sax: rounded moments, weekly PAA of the
    * z-normalized zero-filled series, quartile-breakpoint symbols,
    * week-ordered concatenation. */
  val qSax: String = s"""
    WITH $world,
    filled AS (
      SELECT station_id, day, coalesce(raw, 0.0) AS x,
        datediff('day', DATE '1970-01-01', day) // 7 AS week
      FROM raw_daily),
    moments AS (
      SELECT station_id, round(avg(x) + 1e-9, 6) AS mean,
        round(stddev_pop(x) + 1e-9, 6) AS sd
      FROM filled GROUP BY 1
      HAVING round(stddev_pop(x) + 1e-9, 6) > 0.0),
    paa AS (
      SELECT f.station_id, f.week,
        round(avg((f.x - m.mean) / m.sd) + 1e-9, 6) AS paa
      FROM filled f JOIN moments m USING (station_id)
      GROUP BY 1, 2),
    sym AS (
      SELECT station_id, week,
        CASE WHEN paa < -0.6745 THEN 'a' WHEN paa < 0.0 THEN 'b'
             WHEN paa < 0.6745 THEN 'c' ELSE 'd' END AS sym
      FROM paa)
    SELECT station_id, count(*) AS n_weeks,
      string_agg(sym, '' ORDER BY week) AS sax_word
    FROM sym GROUP BY 1 ORDER BY station_id"""

  /** Mirrors GraphOps.pageRank over the knn edge frame: 10 unrolled
    * iterations with per-iteration 10-dp rounding (the same fixpoint
    * contract the engine's checkpointed loop follows). */
  val qPagerank: String = {
    // each pr CTE is referenced twice by its successor — MATERIALIZED
    // stops the planner from inlining the chain (which would square
    // the plan per iteration, exactly the blowup the engine's
    // checkpointed loop avoids)
    val iters = (1 to 10).map { i =>
      s"""pr$i AS MATERIALIZED (
      SELECT n.id, n.n_nodes,
        round(0.15 / n.n_nodes + 0.85 * coalesce(c.in_sum, 0.0), 10) AS pr
      FROM pr${i - 1} n LEFT JOIN (
        SELECT e.dst AS id, sum(p.pr / d.outdeg) AS in_sum
        FROM edges e
        JOIN pr${i - 1} p ON p.id = e.src
        JOIN outdeg d ON d.src = e.src
        GROUP BY 1) c ON c.id = n.id)"""
    }.mkString(",\n    ")
    s"""
    WITH $world,
    edges AS MATERIALIZED (SELECT station_id AS src, nb_id AS dst FROM knn),
    nodes AS (
      SELECT src AS id FROM edges UNION SELECT dst FROM edges),
    outdeg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
    nn AS (SELECT count(*) AS n_nodes FROM nodes),
    pr0 AS MATERIALIZED (
      SELECT id, n_nodes, round(1.0 / n_nodes, 10) AS pr FROM nodes, nn),
    $iters
    SELECT id AS station_id, round(pr + 1e-9, 6) AS pagerank
    FROM pr10 ORDER BY station_id"""
  }

  /** Mirrors GraphOps.triangles: canonical a<b<c wedge enumeration
    * over the undirected knn closure, semi-join closure, per-node
    * census + local clustering coefficient. */
  val qTriangles: String = s"""
    WITH $world,
    und AS (
      SELECT station_id AS u, nb_id AS v FROM knn WHERE station_id != nb_id
      UNION
      SELECT nb_id, station_id FROM knn WHERE station_id != nb_id),
    canon AS (SELECT u, v FROM und WHERE u < v),
    deg AS (SELECT u AS id, count(*) AS degree FROM und GROUP BY 1),
    tris AS (
      SELECT w1.u AS a, w1.v AS b, w2.v AS c
      FROM canon w1
      JOIN canon w2 ON w2.u = w1.v
      WHERE EXISTS (SELECT 1 FROM canon cl WHERE cl.u = w1.u AND cl.v = w2.v)),
    per_node AS (
      SELECT id, count(*) AS n_triangles FROM (
        SELECT a AS id FROM tris
        UNION ALL SELECT b FROM tris
        UNION ALL SELECT c FROM tris)
      GROUP BY 1)
    SELECT d.id AS station_id, d.degree,
      coalesce(p.n_triangles, 0) AS n_triangles,
      CASE WHEN d.degree >= 2
           THEN round(2.0 * coalesce(p.n_triangles, 0)
                / (d.degree * (d.degree - 1)) + 1e-9, 6)
           ELSE 0.0 END AS clustering
    FROM deg d LEFT JOIN per_node p USING (id)
    ORDER BY station_id"""

  /** Mirrors GraphOps.linkPrediction: distance-2 non-edge candidates
    * scored by common count / Adamic–Adar / Jaccard, top-5 per node. */
  val qLinkPrediction: String = s"""
    WITH $world,
    und AS (
      SELECT station_id AS u, nb_id AS v FROM knn WHERE station_id != nb_id
      UNION
      SELECT nb_id, station_id FROM knn WHERE station_id != nb_id),
    deg AS (SELECT u AS id, CAST(count(*) AS BIGINT) AS degree FROM und GROUP BY 1),
    wedges AS (
      SELECT a.u, b.u AS w, a.v
      FROM und a JOIN und b ON a.v = b.v
      WHERE a.u < b.u),
    scored AS (
      SELECT wg.u, wg.w,
        CAST(count(*) AS BIGINT) AS common,
        round(sum(1.0 / ln(dv.degree)) + 1e-9, 6) AS adamic_adar
      FROM wedges wg JOIN deg dv ON dv.id = wg.v
      GROUP BY 1, 2),
    cand AS (
      SELECT s.*
      FROM scored s
      WHERE NOT EXISTS (
        SELECT 1 FROM und e WHERE e.u = s.u AND e.v = s.w)),
    j AS (
      SELECT c.u, c.w, c.common, c.adamic_adar,
        round(c.common / CAST(du.degree + dw.degree - c.common AS DOUBLE) + 1e-9, 6) AS jaccard
      FROM cand c
      JOIN deg du ON du.id = c.u
      JOIN deg dw ON dw.id = c.w),
    top AS (
      SELECT *, CAST(row_number() OVER (PARTITION BY u
        ORDER BY adamic_adar DESC, jaccard DESC, w) AS INT) AS rank
      FROM j)
    SELECT u AS station_id, rank, w AS cand_id, common, adamic_adar, jaccard
    FROM top WHERE rank <= 5
    ORDER BY station_id, rank"""

  /** Mirrors GraphOps.labelPropagation: 5 unrolled synchronous
    * rounds, arg-max vote = (max count, then min label) — identical to
    * the engine's max(struct(cnt, -label)) aggregate. */
  val qLabelPropagation: String = {
    val rounds = (1 to 5).map { i =>
      s"""lp$i AS MATERIALIZED (
      SELECT u AS id, label FROM (
        SELECT e.u, p.label, count(*) AS cnt,
          row_number() OVER (PARTITION BY e.u
            ORDER BY count(*) DESC, p.label) AS rn
        FROM und e JOIN lp${i - 1} p ON p.id = e.v
        GROUP BY e.u, p.label)
      WHERE rn = 1)"""
    }.mkString(",\n    ")
    s"""
    WITH $world,
    und AS MATERIALIZED (
      SELECT station_id AS u, nb_id AS v FROM knn WHERE station_id != nb_id
      UNION
      SELECT nb_id, station_id FROM knn WHERE station_id != nb_id),
    lp0 AS MATERIALIZED (
      SELECT DISTINCT u AS id, u AS label FROM und),
    $rounds,
    sizes AS (
      SELECT label, CAST(count(*) AS BIGINT) AS community_size
      FROM lp5 GROUP BY 1)
    SELECT p.id AS station_id, p.label AS community, s.community_size
    FROM lp5 p JOIN sizes s USING (label)
    ORDER BY station_id"""
  }

  /** Mirrors Climate.grangerNeighbor: rank-1 neighbor series pair,
    * lag-1 moments, closed-form restricted/unrestricted SSEs, F. */
  val qGranger: String = s"""
    WITH $world,
    nb1 AS (SELECT station_id, nb_id FROM knn WHERE rank = 1),
    x AS (SELECT station_id, day, coalesce(raw, 0.0) AS x FROM raw_daily),
    j AS (
      SELECT a.station_id, a.day, a.x, b.x AS y
      FROM x a JOIN nb1 USING (station_id)
      JOIN x b ON b.station_id = nb1.nb_id AND b.day = a.day),
    lagged AS (
      SELECT station_id, day, x, y,
        lag(x) OVER w AS xl, lag(y) OVER w AS yl
      FROM j WINDOW w AS (PARTITION BY station_id ORDER BY day)),
    f AS (SELECT * FROM lagged WHERE xl IS NOT NULL),
    m AS (
      SELECT station_id, CAST(count(*) AS BIGINT) AS n,
        sum(x) AS sx, sum(xl) AS sxl, sum(yl) AS syl,
        sum(x*x) AS sxx, sum(xl*xl) AS sxlxl, sum(yl*yl) AS sylyl,
        sum(x*xl) AS sxxl, sum(x*yl) AS sxyl, sum(xl*yl) AS sxlyl
      FROM f GROUP BY 1),
    c1 AS (SELECT *, CAST(n AS DOUBLE) AS nd FROM m),
    c2 AS (SELECT *,
        sxx/nd - (sx/nd)*(sx/nd) AS vx,
        sxlxl/nd - (sxl/nd)*(sxl/nd) AS c11,
        sylyl/nd - (syl/nd)*(syl/nd) AS c22,
        sxlyl/nd - (sxl/nd)*(syl/nd) AS c12,
        sxxl/nd - (sxl/nd)*(sx/nd) AS c1y,
        sxyl/nd - (syl/nd)*(sx/nd) AS c2y
      FROM c1),
    c3 AS (SELECT *, c11*c22 - c12*c12 AS det FROM c2),
    c4 AS (SELECT *,
        CASE WHEN c11 > 0.0 THEN nd * (vx - c1y*c1y/c11) END AS sse_r,
        CASE WHEN det > 0.0 THEN (c1y*c22 - c2y*c12)/det END AS b1,
        CASE WHEN det > 0.0 THEN (c2y*c11 - c1y*c12)/det END AS b2
      FROM c3),
    c5 AS (SELECT *,
        CASE WHEN det > 0.0 THEN nd * (vx - b1*c1y - b2*c2y) END AS sse_u
      FROM c4),
    c6 AS (SELECT *,
        CASE WHEN sse_u > 0.0 AND n > 3
          THEN round((sse_r - sse_u) / (sse_u / (nd - 3.0)) + 1e-9, 4)
        END AS f_stat
      FROM c5)
    SELECT station_id, n, round(b2 + 1e-9, 6) AS granger_coef, f_stat,
      f_stat > 3.84 AS causal
    FROM c6 ORDER BY station_id"""

  /** Mirrors GraphOps.hits: 8 unrolled alternating a/h updates,
    * L1-normalized and 10-dp rounded per half-round. */
  val qHits: String = {
    val rounds = (1 to 8).map { i =>
      s"""ar$i AS (
      SELECT n.id, coalesce(s.a_raw, 0.0) AS a
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS id, sum(p.hub) AS a_raw
        FROM edges e JOIN sc${i - 1} p ON p.id = e.src GROUP BY 1) s
      ON s.id = n.id),
    an$i AS MATERIALIZED (
      SELECT id, round(a / (SELECT sum(a) FROM ar$i), 10) AS auth FROM ar$i),
    hr$i AS (
      SELECT n.id, coalesce(s.h_raw, 0.0) AS h
      FROM nodes n LEFT JOIN (
        SELECT e.src AS id, sum(p.auth) AS h_raw
        FROM edges e JOIN an$i p ON p.id = e.dst GROUP BY 1) s
      ON s.id = n.id),
    hn$i AS MATERIALIZED (
      SELECT id, round(h / (SELECT sum(h) FROM hr$i), 10) AS hub FROM hr$i),
    sc$i AS MATERIALIZED (
      SELECT a.id, a.auth, h.hub FROM an$i a JOIN hn$i h USING (id))"""
    }.mkString(",\n    ")
    s"""
    WITH $world,
    edges AS MATERIALIZED (
      SELECT DISTINCT station_id AS src, nb_id AS dst FROM knn
      WHERE station_id != nb_id),
    nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
    sc0 AS MATERIALIZED (SELECT id, 1.0 AS auth, 1.0 AS hub FROM nodes),
    $rounds
    SELECT id AS station_id,
      round(auth + 1e-9, 8) AS authority, round(hub + 1e-9, 8) AS hub
    FROM sc8 ORDER BY station_id"""
  }

  /** Mirrors GraphOps.bfsLayers: 16 unrolled synchronous relaxations
    * from the min-id source; explicit NULL cases stand in for Spark's
    * null-skipping least(). */
  val qBfsLayers: String = {
    val rounds = (1 to 16).map { i =>
      s"""d$i AS MATERIALIZED (
      SELECT d.id,
        CASE WHEN d.dist IS NULL THEN p.in_min
             WHEN p.in_min IS NULL THEN d.dist
             ELSE least(d.dist, p.in_min) END AS dist
      FROM d${i - 1} d LEFT JOIN (
        SELECT e.v AS id, min(pd.dist + 1) AS in_min
        FROM und e JOIN d${i - 1} pd ON pd.id = e.u AND pd.dist IS NOT NULL
        GROUP BY 1) p ON p.id = d.id)"""
    }.mkString(",\n    ")
    s"""
    WITH $world,
    und AS MATERIALIZED (
      SELECT station_id AS u, nb_id AS v FROM knn WHERE station_id != nb_id
      UNION
      SELECT nb_id, station_id FROM knn WHERE station_id != nb_id),
    nodes AS (SELECT DISTINCT u AS id FROM und),
    srcn AS (SELECT min(id) AS id FROM nodes),
    d0 AS MATERIALIZED (
      SELECT n.id, CASE WHEN n.id = s.id THEN 0::BIGINT END AS dist
      FROM nodes n, srcn s),
    $rounds
    SELECT id AS station_id, dist, dist IS NOT NULL AS reached
    FROM d16 ORDER BY station_id"""
  }

  /** Mirrors GraphOps.hubness: directed kNN in-degree census with
    * network z-score and ±2 sd hub/antihub flags. */
  val qKnnHubness: String = s"""
    WITH $world,
    edges AS (SELECT station_id AS src, nb_id AS dst FROM knn),
    nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
    ind AS (SELECT dst AS id, CAST(count(*) AS BIGINT) AS in_degree
            FROM edges GROUP BY 1),
    ig AS (
      SELECT n.id, coalesce(i.in_degree, 0) AS in_degree
      FROM nodes n LEFT JOIN ind i USING (id)),
    mom AS (SELECT avg(in_degree) AS mu, stddev_pop(in_degree) AS sd FROM ig)
    SELECT g.id AS station_id, g.in_degree,
      CASE WHEN m.sd > 0.0
           THEN round((g.in_degree - m.mu) / m.sd + 1e-9, 6) END AS z,
      CASE WHEN m.sd > 0.0 THEN g.in_degree > m.mu + 2.0 * m.sd
           ELSE false END AS is_hub,
      CASE WHEN m.sd > 0.0 THEN g.in_degree < m.mu - 2.0 * m.sd
           ELSE false END AS is_antihub
    FROM ig g, mom m
    ORDER BY station_id"""

  /** Mirrors GraphOps.assortativity: endpoint-degree Pearson over the
    * directed edge list. */
  val qAssortativity: String = s"""
    WITH $world,
    und AS (
      SELECT station_id AS u, nb_id AS v FROM knn WHERE station_id != nb_id
      UNION
      SELECT nb_id, station_id FROM knn WHERE station_id != nb_id),
    deg AS (SELECT u AS id, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY 1),
    j AS (
      SELECT a.d AS du, b.d AS dv
      FROM und JOIN deg a ON und.u = a.id JOIN deg b ON und.v = b.id),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_dir_edges,
        sum(du) AS sx, sum(dv) AS sy, sum(du*du) AS sxx, sum(dv*dv) AS syy,
        sum(du*dv) AS sxy
      FROM j),
    d2 AS (
      SELECT *, n_dir_edges*sxx - sx*sx AS detx,
        n_dir_edges*syy - sy*sy AS dety
      FROM s)
    SELECT n_dir_edges,
      CASE WHEN detx > 0.0 AND dety > 0.0
        THEN round((n_dir_edges*sxy - sx*sy) / sqrt(detx*dety) + 1e-9, 6)
      END AS assortativity
    FROM d2"""

  /** Mirrors Climate.jarqueBera: central moments from the 6-dp mean,
    * explicit products (no pow), ratios rounded, JB from the rounded
    * pair. */
  val qJarqueBera: String = s"""
    WITH $world,
    x AS (SELECT station_id, coalesce(raw, 0.0) AS x FROM raw_daily),
    m AS (SELECT station_id, round(avg(x) + 1e-9, 6) AS mu FROM x GROUP BY 1),
    agg AS (
      SELECT x.station_id, CAST(count(*) AS BIGINT) AS n,
        avg((x.x - m.mu) * (x.x - m.mu)) AS m2,
        avg((x.x - m.mu) * (x.x - m.mu) * (x.x - m.mu)) AS m3,
        avg((x.x - m.mu) * (x.x - m.mu) * (x.x - m.mu) * (x.x - m.mu)) AS m4
      FROM x JOIN m USING (station_id) GROUP BY 1),
    sk AS (
      SELECT station_id, n,
        CASE WHEN m2 > 0.0 THEN round(m3 / (m2 * sqrt(m2)) + 1e-9, 6) END AS skew,
        CASE WHEN m2 > 0.0 THEN round(m4 / (m2 * m2) + 1e-9, 6) END AS kurt
      FROM agg),
    j AS (
      SELECT *, CASE WHEN skew IS NOT NULL
        THEN round(n / 6.0 * (skew*skew + (kurt-3.0)*(kurt-3.0)/4.0) + 1e-9, 4)
      END AS jb
      FROM sk)
    SELECT station_id, n, skew, kurt, jb, jb > 5.991 AS reject_normal
    FROM j ORDER BY station_id"""

  /** Mirrors Climate.durbinWatson: olsTrend's quantized fit, 4-dp
    * residuals, lag-difference ratio. */
  val qDurbinWatson: String = s"""
    WITH $world,
    xy AS (
      SELECT station_id, day,
        datediff('day', min(day) OVER (PARTITION BY station_id), day)::DOUBLE AS t,
        coalesce(raw, 0.0) AS yv
      FROM raw_daily),
    sums AS (
      SELECT station_id, CAST(count(*) AS BIGINT) AS n,
        sum(t) AS sx, sum(yv) AS sy, sum(t*t) AS sxx, sum(t*yv) AS sxy
      FROM xy GROUP BY 1),
    fit0 AS (
      SELECT *, n*sxx - sx*sx AS detx FROM sums),
    fit1 AS (
      SELECT station_id, n, sx, sy,
        round((n*sxy - sx*sy) / detx + 1e-9, 6) AS slope
      FROM fit0 WHERE detx > 0.0),
    fit AS (
      SELECT station_id, slope,
        round((sy - slope * sx) / n + 1e-9, 4) AS icept
      FROM fit1),
    resid AS (
      SELECT xy.station_id,
        round(xy.yv - f.slope * xy.t - f.icept + 1e-9, 4) AS e,
        lag(round(xy.yv - f.slope * xy.t - f.icept + 1e-9, 4), 1)
          OVER (PARTITION BY xy.station_id ORDER BY xy.day) AS e1
      FROM xy JOIN fit f USING (station_id)),
    agg AS (
      SELECT station_id, CAST(count(*) AS BIGINT) AS n,
        sum(e*e) AS sse,
        sum(CASE WHEN e1 IS NOT NULL THEN (e-e1)*(e-e1) ELSE 0.0 END) AS ssd
      FROM resid GROUP BY 1)
    SELECT station_id, n,
      CASE WHEN sse > 0.0 THEN round(ssd / sse + 1e-9, 6) END AS dw
    FROM agg ORDER BY station_id"""

  /** Mirrors Climate.yuleWalkerAr2: the 4-dp lag-1/2 ACF pivoted into
    * the Yule–Walker closed form. */
  val qYuleWalker: String = s"""
    WITH $world,
    x AS (
      SELECT station_id, day, coalesce(raw, 0.0) AS x,
        lag(coalesce(raw, 0.0), 1) OVER win AS x_lag1,
        lag(coalesce(raw, 0.0), 2) OVER win AS x_lag2
      FROM raw_daily
      WINDOW win AS (PARTITION BY station_id ORDER BY day)),
    m AS (
      SELECT station_id, round(avg(x) + 1e-9, 6) AS xbar
      FROM x GROUP BY 1),
    agg AS (
      SELECT x.station_id,
        sum((x.x - m.xbar) * (x.x - m.xbar)) AS den,
        sum((x.x - m.xbar) * (x.x_lag1 - m.xbar)) AS num1,
        sum((x.x - m.xbar) * (x.x_lag2 - m.xbar)) AS num2
      FROM x JOIN m USING (station_id) GROUP BY 1),
    r AS (
      SELECT station_id,
        CASE WHEN den > 0.0 THEN round(num1 / den + 1e-9, 4) END AS r1,
        CASE WHEN den > 0.0 THEN round(num2 / den + 1e-9, 4) END AS r2
      FROM agg),
    p AS (
      SELECT station_id, r1, r2, 1.0 - r1*r1 AS den2 FROM r
      WHERE r1 IS NOT NULL AND r2 IS NOT NULL),
    f AS (
      SELECT station_id, r1, r2,
        CASE WHEN den2 > 0.0 THEN round(r1 * (1.0 - r2) / den2 + 1e-9, 6) END AS phi1,
        CASE WHEN den2 > 0.0 THEN round((r2 - r1*r1) / den2 + 1e-9, 6) END AS phi2
      FROM p)
    SELECT station_id, r1, r2, phi1, phi2,
      CASE WHEN phi1 IS NOT NULL
        THEN round(1.0 - phi1*r1 - phi2*r2 + 1e-9, 6) END AS innov_ratio
    FROM f ORDER BY station_id"""

  /** Mirrors Climate.kendallTauBinned: decile contingency table,
    * grouped-data τ-b with the squared-marginal tie terms. */
  val qKendallBinned: String = s"""
    WITH $world,
    ma_v AS (SELECT station_id, round(avg(raw) + 1e-9, 6) AS ma
      FROM raw_daily GROUP BY 1),
    pts AS (
      SELECT m.station_id,
        ntile(10) OVER (ORDER BY m.elev, m.station_id) AS gx,
        ntile(10) OVER (ORDER BY a.ma, m.station_id) AS gy
      FROM meta m JOIN ma_v a USING (station_id)),
    cells AS (SELECT gx, gy, CAST(count(*) AS BIGINT) AS cnt
      FROM pts GROUP BY 1, 2),
    prod AS (
      SELECT a.gx AS ax, a.gy AS ay, b.gx AS cx, b.gy AS cy,
        a.cnt AS an, b.cnt AS bn
      FROM cells a JOIN cells b
        ON a.gx < b.gx OR (a.gx = b.gx AND a.gy < b.gy)),
    s AS (
      SELECT
        CAST(sum(CASE WHEN (ax<cx AND ay<cy) OR (ax>cx AND ay>cy)
          THEN an*bn ELSE 0 END) AS BIGINT) AS concordant,
        CAST(sum(CASE WHEN (ax<cx AND ay>cy) OR (ax>cx AND ay<cy)
          THEN an*bn ELSE 0 END) AS BIGINT) AS discordant
      FROM prod),
    marg AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
      CAST(sum(cnt*cnt) AS BIGINT) AS s_cell FROM cells),
    tx AS (SELECT CAST(sum(rn*rn) AS BIGINT) AS s_row
      FROM (SELECT sum(cnt) AS rn FROM cells GROUP BY gx)),
    ty AS (SELECT CAST(sum(cn*cn) AS BIGINT) AS s_col
      FROM (SELECT sum(cnt) AS cn FROM cells GROUP BY gy)),
    d AS (
      SELECT s.concordant, s.discordant, marg.n,
        marg.n * (marg.n - 1) // 2 AS n_pairs,
        (tx.s_row - marg.n) // 2 AS t_x,
        (ty.s_col - marg.n) // 2 AS t_y
      FROM s, marg, tx, ty)
    SELECT n, concordant, discordant,
      CASE WHEN (n_pairs - t_x) > 0 AND (n_pairs - t_y) > 0
        THEN round((concordant - discordant) /
          sqrt(CAST(n_pairs - t_x AS DOUBLE) * CAST(n_pairs - t_y AS DOUBLE))
          + 1e-9, 6) END AS tau_b
    FROM d"""

  /** Mirrors Aggregate.concurrency: sessionize CTE, ±1 sweep line,
    * exact-integer running sum, day rollup. */
  val qConcurrency: String = """
    WITH flagged AS (
      SELECT user_id, event_id, ts, value,
        CASE WHEN epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) > 1800000000 THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sessions AS (
      SELECT user_id, ts,
        (sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS session_id
      FROM flagged),
    sess AS (
      SELECT user_id, session_id, min(ts) AS session_start,
        max(ts) AS session_end
      FROM sessions GROUP BY 1, 2),
    deltas AS (
      SELECT session_start AS ts, 1::BIGINT AS d FROM sess
      UNION ALL
      SELECT session_end + INTERVAL 1 MICROSECOND, -1::BIGINT FROM sess),
    per_ts AS (
      SELECT ts, CAST(sum(d) AS BIGINT) AS delta,
        CAST(sum(CASE WHEN d > 0 THEN d ELSE 0 END) AS BIGINT) AS starts
      FROM deltas GROUP BY 1),
    run AS (
      SELECT ts, starts,
        (sum(delta) OVER (ORDER BY ts
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
          AS concurrent
      FROM per_ts)
    SELECT ts::date AS day,
      CAST(max(concurrent) AS BIGINT) AS peak_concurrent,
      CAST(sum(starts) AS BIGINT) AS n_starts
    FROM run GROUP BY 1 ORDER BY day"""

  /** Mirrors Climate.getisOrd: neighbor-sum Gi* with binary kNN
    * weights, star variant. */
  val qGetisOrd: String = s"""
    WITH $world,
    g AS (SELECT CAST(count(*) AS BIGINT) AS n,
      round(avg(ma) + 1e-9, 6) AS xbar, sum(ma*ma) AS sxx FROM ma_raw),
    nb AS (
      SELECT k.station_id, sum(b.ma) AS s_nb, CAST(count(*) AS BIGINT) AS k
      FROM knn k JOIN ma_raw b ON k.nb_id = b.station_id GROUP BY 1),
    j AS (
      SELECT a.station_id, nb.k, a.ma + nb.s_nb AS wsum, nb.k + 1 AS wn,
        g.n, g.xbar,
        sqrt(greatest(g.sxx / g.n - g.xbar * g.xbar, 0.0)) AS s
      FROM ma_raw a JOIN nb USING (station_id), g),
    d AS (
      SELECT *, s * sqrt(greatest(
        (n * wn - wn * wn)::DOUBLE / (n - 1), 0.0)) AS den
      FROM j),
    d2 AS (
      SELECT station_id, k,
        CASE WHEN den > 0.0
          THEN round((wsum - xbar * wn) / den + 1e-9, 6) END AS gi_z
      FROM d)
    SELECT station_id, k, gi_z,
      CASE WHEN gi_z > 1.96 THEN 'hot'
           WHEN gi_z < -1.96 THEN 'cold' ELSE 'ns' END AS hotspot
    FROM d2 ORDER BY station_id"""

  /** Mirrors Climate.gearyC: squared neighbor differences over the
    * knn edge list. */
  val qGearyC: String = s"""
    WITH $world,
    gm AS (SELECT round(avg(ma) + 1e-9, 6) AS gm,
      CAST(count(*) AS BIGINT) AS n FROM ma_raw),
    den AS (
      SELECT sum((a.ma - gm.gm) * (a.ma - gm.gm)) AS den, max(gm.n) AS n
      FROM ma_raw a, gm),
    num AS (
      SELECT sum((a.ma - b.ma) * (a.ma - b.ma)) AS num,
        CAST(count(*) AS BIGINT) AS w_edges
      FROM knn k JOIN ma_raw a ON k.station_id = a.station_id
      JOIN ma_raw b ON k.nb_id = b.station_id)
    SELECT den.n, num.w_edges,
      CASE WHEN den.den > 0.0
        THEN round((den.n - 1) * num.num / (2.0 * num.w_edges * den.den)
          + 1e-9, 6) END AS geary_c
    FROM num, den"""

  /** Mirrors GraphOps.kCore: the identical 8-round degree-peel,
    * unrolled as generated CTEs. */
  val qKcore: String = {
    val k = 4; val rounds = 8
    // MATERIALIZED: each round references its predecessor three times
    // (degree + both semi-join sides) — inlined CTEs would replay the
    // whole upstream chain 3^rounds times
    val peel = (1 to rounds).map { i =>
      s"""k$i AS MATERIALIZED (SELECT u FROM (
        SELECT u, count(*) AS d FROM a${i - 1} GROUP BY u) WHERE d >= $k),
    a$i AS MATERIALIZED (SELECT a.u, a.v FROM a${i - 1} a
      JOIN k$i x ON a.u = x.u JOIN k$i y ON a.v = y.u)"""
    }.mkString(",\n    ")
    s"""
    WITH $world,
    und AS (
      SELECT station_id AS u, nb_id AS v FROM knn WHERE station_id != nb_id
      UNION
      SELECT nb_id, station_id FROM knn WHERE station_id != nb_id),
    a0 AS MATERIALIZED (SELECT u, v FROM und),
    all_deg AS (SELECT u AS station_id, CAST(count(*) AS BIGINT) AS degree
      FROM und GROUP BY 1),
    $peel,
    core_deg AS (SELECT u AS station_id,
      CAST(count(*) AS BIGINT) AS core_degree FROM a$rounds GROUP BY 1)
    SELECT d.station_id, d.degree,
      CAST(coalesce(c.core_degree, 0) AS BIGINT) AS core_degree,
      c.core_degree IS NOT NULL AS in_core
    FROM all_deg d LEFT JOIN core_deg c USING (station_id)
    ORDER BY station_id"""
  }

  /** Mirrors Climate.bootstrapCi: deterministic Poisson(1) weights
    * from the integer (station, day, replica) mix, B=20 replicas. */
  val qBootstrapCi: String = s"""
    WITH $world,
    obs AS (
      SELECT station_id, raw,
        datediff('day', DATE '1970-01-01', day) AS dord
      FROM raw_daily WHERE raw IS NOT NULL),
    ex AS (
      SELECT station_id, raw, dord, unnest(range(0, 20)) AS rep FROM obs),
    wts AS (
      SELECT station_id, rep, raw,
        ((station_id * 1000003 + dord * 7919 + rep * 104729) % 10000
          + 10000) % 10000 AS h
      FROM ex),
    w2 AS (
      SELECT station_id, rep, raw,
        CASE WHEN h < 3679 THEN 0 WHEN h < 7358 THEN 1
             WHEN h < 9197 THEN 2 WHEN h < 9810 THEN 3 ELSE 4 END AS w
      FROM wts),
    reps AS (
      SELECT station_id, rep,
        round(sum(w * raw) / sum(w) + 1e-9, 6) AS boot_mean
      FROM w2 GROUP BY 1, 2 HAVING sum(w) > 0)
    SELECT station_id, CAST(count(*) AS BIGINT) AS n_boot,
      round(avg(boot_mean) + 1e-9, 6) AS mean_of_means,
      round(stddev_pop(boot_mean) + 1e-9, 6) AS boot_se,
      round(quantile_cont(boot_mean, 0.025) + 1e-9, 4) AS ci_lo,
      round(quantile_cont(boot_mean, 0.975) + 1e-9, 4) AS ci_hi
    FROM reps GROUP BY 1 ORDER BY station_id"""

  /** Mirrors Climate.moransI: z map onto the knn edge list, scalar
    * rollup. */
  val qMoransI: String = s"""
    WITH $world,
    gm AS (SELECT round(avg(ma) + 1e-9, 6) AS gm,
      CAST(count(*) AS BIGINT) AS n FROM ma_raw),
    z AS (SELECT station_id, ma - gm.gm AS z, gm.n FROM ma_raw, gm),
    den AS (SELECT sum(z*z) AS den, max(n) AS n FROM z),
    num AS (
      SELECT sum(a.z * b.z) AS num, CAST(count(*) AS BIGINT) AS w_edges
      FROM knn k JOIN z a ON k.station_id = a.station_id
      JOIN z b ON k.nb_id = b.station_id)
    SELECT den.n, num.w_edges,
      CASE WHEN den.den > 0.0
        THEN round(den.n / num.w_edges::DOUBLE * num.num / den.den + 1e-9, 6)
      END AS morans_i,
      round(-1.0 / (den.n - 1) + 1e-9, 6) AS e_i
    FROM num, den"""

  /** Mirrors Climate.localMoran: 6-dp z, row-standardized neighbor
    * lag, LISA quadrants. */
  val qLocalMoran: String = s"""
    WITH $world,
    gm AS (SELECT round(avg(ma) + 1e-9, 6) AS gm FROM ma_raw),
    z AS (SELECT station_id, round(ma - gm.gm + 1e-9, 6) AS z
      FROM ma_raw, gm),
    m2 AS (SELECT sum(z*z) / count(*) AS m2 FROM z),
    lagz AS (
      SELECT k.station_id, round(avg(b.z) + 1e-9, 6) AS lag_z
      FROM knn k JOIN z b ON k.nb_id = b.station_id GROUP BY 1)
    SELECT z.station_id, z.z, l.lag_z,
      CASE WHEN m2.m2 > 0.0
        THEN round(z.z * l.lag_z / m2.m2 + 1e-9, 6) END AS local_i,
      CASE WHEN z.z >= 0.0 AND l.lag_z >= 0.0 THEN 'HH'
           WHEN z.z < 0.0 AND l.lag_z < 0.0 THEN 'LL'
           WHEN z.z >= 0.0 THEN 'HL' ELSE 'LH' END AS quadrant
    FROM z JOIN lagz l USING (station_id), m2
    ORDER BY station_id"""

  /** Mirrors Neighbors.geoCells: zoom-exploded integer cell keys over
    * the registry. */
  val qGeoCells: String = s"""
    WITH $world,
    j AS (
      SELECT m.station_id, m.x, m.y, m.elev, a.ma
      FROM meta m LEFT JOIN ma_raw a USING (station_id)),
    ex AS (SELECT *, unnest([2, 4, 8]) AS cell FROM j)
    SELECT cell, CAST(floor(x / cell) AS BIGINT) AS cell_x,
      CAST(floor(y / cell) AS BIGINT) AS cell_y,
      CAST(count(*) AS BIGINT) AS n_stations,
      round(avg(elev) + 1e-9, 4) AS mean_elev,
      round(avg(ma) + 1e-9, 4) AS mean_ma
    FROM ex GROUP BY 1, 2, 3 ORDER BY cell, cell_x, cell_y"""

  /** Mirrors Climate.rsi: Cutler SMA-14 relative strength on the
    * zero-filled daily diffs, complete windows only. */
  val qRsi: String = s"""
    WITH $world,
    x AS (
      SELECT station_id, day, coalesce(raw, 0.0) AS x,
        coalesce(raw, 0.0) - lag(coalesce(raw, 0.0), 1)
          OVER (PARTITION BY station_id ORDER BY day) AS diff
      FROM raw_daily),
    g AS (
      SELECT station_id, day, diff,
        CASE WHEN diff > 0.0 THEN diff ELSE 0.0 END AS gain,
        CASE WHEN diff < 0.0 THEN -diff ELSE 0.0 END AS loss
      FROM x),
    wf AS (
      SELECT station_id, day,
        count(diff) OVER win AS n_w,
        avg(gain) OVER win AS avg_gain,
        avg(loss) OVER win AS avg_loss
      FROM g
      WINDOW win AS (PARTITION BY station_id ORDER BY day
        ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
    SELECT station_id, day,
      CASE WHEN avg_loss > 0.0
        THEN round(100.0 - 100.0 / (1.0 + avg_gain / avg_loss) + 1e-9, 4)
        ELSE 100.0 END AS rsi
    FROM wf WHERE n_w = 14 ORDER BY station_id, day"""

  /** Mirrors Climate.petThornthwaite: 4-dp monthly climatology, heat
    * index, closed-form PET. */
  val qPetThornthwaite: String = s"""
    WITH $world,
    temp_daily AS (
      SELECT user_id::BIGINT AS station_id, ts::date AS day,
        round(avg(value) + 1e-9, 6) - $TempShift AS t
      FROM events WHERE event_type = 'view' GROUP BY 1, 2),
    tgrid AS (
      SELECT g.station_id, g.day, t.t
      FROM grid g LEFT JOIN temp_daily t USING (station_id, day)),
    clim AS (
      SELECT station_id, month(day) AS mon,
        round(avg(t) + 1e-9, 4) AS t_clim
      FROM tgrid WHERE t IS NOT NULL GROUP BY 1, 2),
    heat AS (
      SELECT station_id,
        round(sum(pow(t_clim / 5.0, 1.514)) + 1e-9, 6) AS i
      FROM clim WHERE t_clim > 0.0 GROUP BY 1),
    a AS (
      SELECT c.station_id, c.mon, c.t_clim, h.i,
        6.75e-7*h.i*h.i*h.i - 7.71e-5*h.i*h.i + 1.792e-2*h.i + 0.49239
          AS alpha_raw
      FROM clim c JOIN heat h USING (station_id))
    SELECT station_id, mon, t_clim,
      round(alpha_raw + 1e-9, 6) AS alpha,
      CASE WHEN t_clim > 0.0 AND i > 0.0
        THEN round(16.0 * pow(10.0 * t_clim / i, alpha_raw) + 1e-9, 4)
        ELSE 0.0 END AS pet
    FROM a ORDER BY station_id, mon"""

  /** Mirrors Climate.continentality: climatology annual range, Conrad
    * closed form with the etHargreaves latitude convention. */
  val qContinentality: String = s"""
    WITH $world,
    temp_daily AS (
      SELECT user_id::BIGINT AS station_id, ts::date AS day,
        round(avg(value) + 1e-9, 6) - $TempShift AS t
      FROM events WHERE event_type = 'view' GROUP BY 1, 2),
    tgrid AS (
      SELECT g.station_id, g.day, t.t
      FROM grid g LEFT JOIN temp_daily t USING (station_id, day)),
    clim AS (
      SELECT station_id, month(day) AS mon,
        round(avg(t) + 1e-9, 4) AS t_clim
      FROM tgrid WHERE t IS NOT NULL GROUP BY 1, 2),
    rng AS (
      SELECT station_id, CAST(count(*) AS BIGINT) AS n_months,
        round(max(t_clim) - min(t_clim) + 1e-9, 4) AS a_range
      FROM clim GROUP BY 1),
    j AS (
      SELECT r.*, 10.0 + (m.y % 10.0) * 4.0 AS phi_deg
      FROM rng r JOIN meta m USING (station_id))
    SELECT station_id, n_months, a_range, phi_deg,
      round(1.7 * a_range / sin(radians(phi_deg + 10.0)) - 14.0 + 1e-9, 4)
        AS conrad
    FROM j ORDER BY station_id"""

  /** Mirrors Climate.growingSeasonLength: gaps-and-islands runs over
    * the dense temperature grid, ≥6-day warm start / post-July cold
    * end. */
  val qGsl: String = s"""
    WITH $world,
    temp_daily AS (
      SELECT user_id::BIGINT AS station_id, ts::date AS day,
        round(avg(value) + 1e-9, 6) - $TempShift AS t
      FROM events WHERE event_type = 'view' GROUP BY 1, 2),
    tgrid AS (
      SELECT g.station_id, g.day, t.t
      FROM grid g LEFT JOIN temp_daily t USING (station_id, day)),
    base AS (
      SELECT station_id, day, year(day) AS yr,
        coalesce(t > 5.0, FALSE) AS warm
      FROM tgrid),
    marked AS (
      SELECT *, datediff('day', DATE '1970-01-01', day)
        - row_number() OVER (PARTITION BY station_id, yr, warm ORDER BY day)
        AS grp
      FROM base),
    runs AS (
      SELECT station_id, yr, warm, grp,
        CAST(count(*) AS BIGINT) AS len, min(day) AS run_start
      FROM marked GROUP BY 1, 2, 3, 4),
    starts AS (
      SELECT station_id, yr, min(run_start) AS season_start
      FROM runs WHERE warm AND len >= 6 GROUP BY 1, 2),
    ends AS (
      SELECT station_id, yr, min(run_start) AS season_end
      FROM runs WHERE NOT warm AND len >= 6
        AND dayofyear(run_start) >= 183 GROUP BY 1, 2),
    ybounds AS (
      SELECT station_id, yr, max(day) AS last_day,
        CAST(count(*) AS BIGINT) AS n_days
      FROM base GROUP BY 1, 2)
    SELECT b.station_id, b.yr, b.n_days,
      coalesce(dayofyear(s.season_start), 0) AS start_doy,
      coalesce(dayofyear(e.season_end), 0) AS end_doy,
      CASE WHEN s.season_start IS NULL THEN 0
        ELSE datediff('day', s.season_start,
          coalesce(e.season_end, b.last_day + 1)) END AS gsl
    FROM ybounds b
    LEFT JOIN starts s USING (station_id, yr)
    LEFT JOIN ends e USING (station_id, yr)
    ORDER BY station_id, yr"""

  /** Mirrors Climate.ewmaControl. The weights and the limit width are
    * computed by the SAME Scala expressions as the engine's and
    * injected as decimal literals (Double.toString round-trips, DuckDB
    * parses shortest-repr back to the identical double), and the
    * num/den sums keep the engine's left-assoc fold order — zero
    * cross-engine float drift by construction. */
  val qEwmaControl: String = {
    val k = 14; val alpha = 0.3; val l = 3.0
    val ew = (0 until k).map(i => alpha * math.pow(1 - alpha, i))
    val lags = (1 until k).map(i =>
      s"lag(x, $i) OVER (PARTITION BY station_id ORDER BY day) AS lag$i")
      .mkString(",\n        ")
    val num = (0 until k).map(i =>
      s"(CASE WHEN lag$i IS NOT NULL THEN lag$i * ${ew(i)} ELSE 0.0 END)")
      .mkString(" + ")
    val den = (0 until k).map(i =>
      s"(CASE WHEN lag$i IS NOT NULL THEN ${ew(i)} ELSE 0.0 END)")
      .mkString(" + ")
    val width = l * math.sqrt(alpha / (2 - alpha))
    s"""
    WITH $world,
    filled AS (
      SELECT station_id, day, coalesce(raw, 0.0) AS x FROM raw_daily),
    lagged AS (
      SELECT station_id, day, x, x AS lag0,
        $lags
      FROM filled),
    moments AS (
      SELECT station_id, round(avg(x) + 1e-9, 6) AS mu,
        round(stddev_pop(x) + 1e-9, 6) AS sigma
      FROM filled GROUP BY 1),
    ew AS (
      SELECT station_id, day, x,
        round(($num) / ($den) + 1e-9, 6) AS ewma
      FROM lagged)
    SELECT e.station_id, e.day, e.x, e.ewma,
      round(m.mu + $width * m.sigma + 1e-9, 6) AS ucl,
      round(m.mu - $width * m.sigma + 1e-9, 6) AS lcl,
      e.ewma > round(m.mu + $width * m.sigma + 1e-9, 6)
        OR e.ewma < round(m.mu - $width * m.sigma + 1e-9, 6) AS flag
    FROM ew e JOIN moments m USING (station_id)
    ORDER BY e.station_id, e.day"""
  }

  /** Mirrors Climate.brownDouble: two truncated-EWMA passes with
    * identical literal weights, s′ rounded at 6 dp between passes. */
  /** Mirrors Climate.baseflow: Lyne–Hollick as the SAME truncated
    * K=24-term geometric convolution (identical weights, identical
    * missing-lag handling), clamp, BFI window sums. */
  val qBaseflow: String = {
    val k = 24; val alpha = 0.75
    val ws = (0 until k).map(i => (1.0 + alpha) / 2.0 * math.pow(alpha, i))
    val terms = (0 until k).map { i =>
      val src = if (i == 0) "dq" else s"lag(dq, $i) OVER win"
      s"(CASE WHEN $src IS NOT NULL THEN ($src) * ${ws(i)} ELSE 0.0 END)"
    }.mkString(" + ")
    s"""
    WITH $world,
    q AS (
      SELECT station_id, day, coalesce(raw, 0.0) AS q FROM raw_daily),
    d AS (
      SELECT station_id, day, q,
        CASE WHEN lag(q, 1) OVER win IS NULL THEN 0.0
             ELSE q - lag(q, 1) OVER win END AS dq
      FROM q
      WINDOW win AS (PARTITION BY station_id ORDER BY day)),
    conv AS (
      SELECT station_id, day, q,
        round(($terms) + 1e-9, 6) AS qf_raw
      FROM d
      WINDOW win AS (PARTITION BY station_id ORDER BY day)),
    c AS (
      SELECT station_id, day, q,
        least(greatest(qf_raw, 0.0), q) AS quickflow
      FROM conv),
    b AS (
      SELECT station_id, day, q, quickflow,
        round(q - quickflow + 1e-9, 6) AS baseflow
      FROM c)
    SELECT station_id, day, q, quickflow, baseflow,
      round(sum(baseflow) OVER ws / sum(q) OVER ws + 1e-9, 6) AS bfi
    FROM b
    WINDOW ws AS (PARTITION BY station_id)
    ORDER BY station_id, day"""
  }

  /** Mirrors Climate.wilcoxonSigned: am/pm paired diffs, grouped-count
    * average ranks, tie-corrected normal approximation. */
  val qWilcoxonSigned: String = s"""
    WITH hourly AS (
      SELECT user_id::BIGINT AS station_id, date_trunc('hour', ts) AS hour,
        round(sum(value) + 1e-9, 3) AS raw
      FROM events GROUP BY 1, 2),
    stations AS (SELECT DISTINCT user_id::BIGINT AS station_id FROM events),
    hb AS (SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1 FROM events),
    hgrid AS (
      SELECT s.station_id, unnest(generate_series(b.h0, b.h1, INTERVAL 1 HOUR)) AS hour
      FROM stations s, hb b),
    hseries AS (
      SELECT g.station_id, g.hour, coalesce(h.raw, 0.0) AS p
      FROM hgrid g LEFT JOIN hourly h USING (station_id, hour)),
    pairs AS (
      SELECT station_id, hour::date AS day,
        round(sum(CASE WHEN date_part('hour', hour) < 12 THEN p ELSE 0.0 END) + 1e-9, 3) AS am,
        round(sum(CASE WHEN date_part('hour', hour) >= 12 THEN p ELSE 0.0 END) + 1e-9, 3) AS pm
      FROM hseries GROUP BY 1, 2),
    d AS (
      SELECT station_id, round(pm - am + 1e-9, 3) AS d
      FROM pairs WHERE round(pm - am + 1e-9, 3) != 0.0),
    byabs AS (
      SELECT station_id, abs(d) AS ad,
        CAST(count(*) AS BIGINT) AS cnt,
        CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_pos
      FROM d GROUP BY 1, 2),
    ranked AS (
      SELECT station_id, cnt, cnt_pos,
        sum(cnt) OVER (PARTITION BY station_id ORDER BY ad
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        cnt * cnt * cnt - cnt AS tie3
      FROM byabs),
    agg AS (
      SELECT station_id,
        CAST(sum(cnt) AS BIGINT) AS n_pairs,
        round(sum(cnt_pos * (cum - (cnt - 1) / 2.0)) + 1e-9, 1) AS w_plus,
        CAST(sum(tie3) AS BIGINT) AS tie_sum
      FROM ranked GROUP BY 1),
    z AS (
      SELECT station_id, n_pairs, w_plus,
        n_pairs * (n_pairs + 1) / 4.0 AS mu,
        n_pairs * (n_pairs + 1) * (2 * n_pairs + 1) / 24.0 - tie_sum / 48.0 AS var_w
      FROM agg)
    SELECT station_id, n_pairs, w_plus,
      round((w_plus - mu) / sqrt(var_w) + 1e-9, 4) AS z,
      abs(round((w_plus - mu) / sqrt(var_w) + 1e-9, 4)) > 1.96 AS significant
    FROM z WHERE var_w > 0.0
    ORDER BY station_id"""

  /** Mirrors Climate.friedman: per-(station, dow) means, within-block
    * average ranks via rank()+equal-count, k-row rollup. */
  val qFriedman: String = s"""
    WITH $world,
    cell AS (
      SELECT station_id, dayofweek(day) + 1 AS dow,
        round(avg(coalesce(raw, 0.0)) + 1e-9, 6) AS m
      FROM raw_daily GROUP BY 1, 2),
    ranked AS (
      SELECT station_id, dow, m,
        rank() OVER (PARTITION BY station_id ORDER BY m) AS rnk,
        count(*) OVER (PARTITION BY station_id, m) AS eq
      FROM cell),
    ar AS (
      SELECT station_id, dow, (2.0 * rnk + eq - 1.0) / 2.0 AS avg_rank
      FROM ranked),
    rj AS (
      SELECT dow, round(sum(avg_rank) + 1e-9, 1) AS r_j,
        CAST(count(*) AS BIGINT) AS b,
        round(avg(avg_rank) + 1e-9, 6) AS mean_rank
      FROM ar GROUP BY 1),
    stat AS (
      SELECT sum(r_j * r_j) AS sum_r2,
        CAST(max(b) AS BIGINT) AS blocks,
        CAST(count(*) AS BIGINT) AS k
      FROM rj)
    SELECT rj.dow, rj.b, rj.r_j, rj.mean_rank, s.blocks, s.k,
      round(12.0 / (s.blocks * s.k * (s.k + 1)) * s.sum_r2
        - 3.0 * s.blocks * (s.k + 1) + 1e-9, 6) AS chi2_f
    FROM rj, stat s
    ORDER BY rj.dow"""

  /** Mirrors Climate.rainErosivity: wet-hour gaps-and-islands storm
    * split, per-hour rounded unit energy, keyed storm rollup. */
  val qRainErosivity: String = s"""
    WITH hourly AS (
      SELECT user_id::BIGINT AS station_id, date_trunc('hour', ts) AS hour,
        round(sum(value) + 1e-9, 3) AS raw
      FROM events GROUP BY 1, 2),
    wet AS (
      SELECT station_id, hour, raw AS p,
        (epoch(hour) - epoch(lag(hour, 1) OVER win)) / 3600 AS gap_h
      FROM hourly WHERE raw > 10.0
      WINDOW win AS (PARTITION BY station_id ORDER BY hour)),
    marked AS (
      SELECT station_id, hour, p,
        CASE WHEN gap_h IS NULL OR gap_h > 6 THEN 1 ELSE 0 END AS new_storm
      FROM wet),
    storms AS (
      SELECT station_id, hour, p,
        CAST(sum(new_storm) OVER (PARTITION BY station_id ORDER BY hour) AS BIGINT) AS storm_id,
        round(0.29 * (1.0 - 0.72 * exp(p * -0.005)) * p + 1e-9, 6) AS e_hour
      FROM marked),
    agg AS (
      SELECT station_id, storm_id,
        min(hour) AS storm_start, max(hour) AS storm_end,
        count(*) AS n_wet_hours,
        round(sum(p) + 1e-9, 3) AS total_p,
        round(sum(e_hour) + 1e-9, 6) AS energy,
        round(max(p) + 1e-9, 3) AS i60
      FROM storms GROUP BY 1, 2)
    SELECT station_id, storm_id, storm_start, storm_end, n_wet_hours,
      total_p, energy, i60,
      round(energy * i60 / 100.0 + 1e-9, 6) AS ei
    FROM agg WHERE total_p >= 25.0
    ORDER BY station_id, storm_id"""

  /** Mirrors Climate.holtWinters: 4-dp weekday indices (Spark's
    * Sunday=1 weekday convention via dayofweek+1), Brown smoothing of
    * the deseasonalized series, next-day seasonal re-add. */
  val qHoltWinters: String = {
    val k = 14; val alpha = 0.3
    val ew = (0 until k).map(i => alpha * math.pow(1 - alpha, i))
    def lagCols(src: String, out: String) = (0 until k).map(i =>
      s"lag($src, $i) OVER (PARTITION BY station_id ORDER BY day) AS ${out}_l$i")
      .mkString(",\n        ")
    def num(out: String) = (0 until k).map(i =>
      s"(CASE WHEN ${out}_l$i IS NOT NULL THEN ${out}_l$i * ${ew(i)} ELSE 0.0 END)")
      .mkString(" + ")
    def den(out: String) = (0 until k).map(i =>
      s"(CASE WHEN ${out}_l$i IS NOT NULL THEN ${ew(i)} ELSE 0.0 END)")
      .mkString(" + ")
    s"""
    WITH $world,
    filled AS (
      SELECT station_id, day, coalesce(raw, 0.0) AS x,
        dayofweek(day) + 1 AS wd
      FROM raw_daily),
    mu AS (
      SELECT station_id, round(avg(x) + 1e-9, 4) AS mu
      FROM filled GROUP BY 1),
    s_idx AS (
      SELECT f.station_id, f.wd,
        round(round(avg(f.x) + 1e-9, 4) - m.mu + 1e-9, 4) AS s_idx
      FROM filled f JOIN mu m USING (station_id)
      GROUP BY f.station_id, f.wd, m.mu),
    d0 AS (
      SELECT f.station_id, f.day, f.x, s.s_idx, f.x - s.s_idx AS d
      FROM filled f JOIN s_idx s USING (station_id, wd)),
    lag1 AS (
      SELECT station_id, day, x, s_idx, d,
        ${lagCols("d", "s1")}
      FROM d0),
    sm1 AS (
      SELECT station_id, day, x, s_idx,
        round((${num("s1")}) / (${den("s1")}) + 1e-9, 6) AS s1
      FROM lag1),
    lag2 AS (
      SELECT station_id, day, x, s_idx, s1,
        ${lagCols("s1", "s2")}
      FROM sm1),
    sm2 AS (
      SELECT station_id, day, x, s_idx, s1,
        round((${num("s2")}) / (${den("s2")}) + 1e-9, 6) AS s2
      FROM lag2),
    o AS (
      SELECT station_id, day, x, s_idx, s1, s2,
        round(2.0 * s1 - s2 + 1e-9, 6) AS level,
        round(${alpha / (1 - alpha)} * (s1 - s2) + 1e-9, 6) AS trend,
        dayofweek(day + 1) + 1 AS wd_next
      FROM sm2)
    SELECT o.station_id, o.day, o.x, o.s_idx, o.level, o.trend,
      round(o.level + o.trend + s.s_idx + 1e-9, 6) AS yhat_1
    FROM o JOIN s_idx s ON s.station_id = o.station_id AND s.wd = o.wd_next
    ORDER BY o.station_id, o.day"""
  }

  /** Mirrors Climate.viterbiRegimes: the same 4-dp-per-step Viterbi
    * lattice, replayed as a RECURSIVE CTE over the step index —
    * DuckDB's deep list_reduce lambda mis-evaluates the path CASEs
    * (verified minimal repro: identical accumulator values, different
    * branch), so the oracle iterates in plain SQL instead. */
  val qViterbiRegimes: String = {
    def l(x: Double) = math.log(x)
    val lnStay = l(0.9); val lnSwitch = l(0.1)
    val emC = Seq(l(0.35), l(0.6), l(0.05))
    val emS = Seq(l(0.05), l(0.35), l(0.6))
    val emCArr = s"[${emC.mkString("::DOUBLE, ")}::DOUBLE]"
    val emSArr = s"[${emS.mkString("::DOUBLE, ")}::DOUBLE]"
    s"""
    WITH RECURSIVE $world,
    basev AS (
      SELECT station_id, day, coalesce(raw, 0.0) AS x FROM raw_daily),
    muv AS (
      SELECT station_id, round(avg(x) + 1e-9, 4) AS mu FROM basev GROUP BY 1),
    obsd AS (
      SELECT b.station_id, b.day,
        CASE WHEN b.x <= 0.0 THEN 1
             WHEN b.x < m.mu THEN 2 ELSE 3 END AS obs
      FROM basev b JOIN muv m USING (station_id)),
    series AS (
      SELECT station_id,
        list_transform(list_sort(list(struct_pack(day := day, obs := obs))),
          s -> s.obs) AS os
      FROM obsd GROUP BY 1),
    steps AS (
      SELECT station_id, 0 AS t, 0.0::DOUBLE AS lc, 0.0::DOUBLE AS ls,
        '' AS pc, '' AS ps
      FROM series
      UNION ALL
      SELECT s.station_id, s.t + 1,
        round(greatest(s.lc + $lnStay, s.ls + $lnSwitch)
          + list_extract($emCArr, o.os[s.t + 1]), 4),
        round(greatest(s.ls + $lnStay, s.lc + $lnSwitch)
          + list_extract($emSArr, o.os[s.t + 1]), 4),
        (CASE WHEN s.lc + $lnStay >= s.ls + $lnSwitch
          THEN s.pc ELSE s.ps END) || 'C',
        (CASE WHEN s.ls + $lnStay >= s.lc + $lnSwitch
          THEN s.ps ELSE s.pc END) || 'S'
      FROM steps s JOIN series o USING (station_id)
      WHERE s.t < len(o.os)),
    folded AS (
      SELECT s.station_id, s.lc, s.ls, s.pc, s.ps
      FROM steps s JOIN series o USING (station_id)
      WHERE s.t = len(o.os)),
    p AS (
      SELECT station_id,
        round(greatest(lc, ls) + 1e-9, 4) AS logp,
        CASE WHEN lc >= ls THEN pc ELSE ps END AS path
      FROM folded)
    SELECT station_id, CAST(length(path) AS INT) AS n_days,
      CAST(length(path) - length(replace(path, 'S', '')) AS INT) AS storm_days,
      round((length(path) - length(replace(path, 'S', '')))
        / CAST(length(path) AS DOUBLE) + 1e-9, 6) AS storm_share,
      CAST(len(list_filter(range(2, length(path) + 1),
        i -> path[i] != path[i - 1])) AS INT) AS n_switches,
      logp
    FROM p ORDER BY station_id"""
  }

  /** Mirrors Climate.holtWintersSkill: lead-aligned one-step backtest
    * of the HW forecast vs persistence. */
  val qHwSkill: String = s"""
    WITH hw AS (SELECT * FROM ($qHoltWinters)),
    aligned AS (
      SELECT station_id, day, x, yhat_1,
        lead(x) OVER (PARTITION BY station_id ORDER BY day) AS x_next
      FROM hw),
    f AS (SELECT * FROM aligned WHERE x_next IS NOT NULL),
    m AS (
      SELECT station_id, CAST(count(*) AS BIGINT) AS n,
        round(avg(abs(x_next - yhat_1)) + 1e-9, 4) AS mae_hw,
        round(avg(abs(x_next - x)) + 1e-9, 4) AS mae_persist
      FROM f GROUP BY 1)
    SELECT station_id, n, mae_hw, mae_persist,
      CASE WHEN mae_persist > 0.0
        THEN round(1.0 - mae_hw / mae_persist + 1e-9, 4) END AS skill
    FROM m ORDER BY station_id"""

  /** Mirrors Climate.conformalInterval: calibration-window order
    * statistic (k = ceil(0.9 n), ties by day), holdout coverage. */
  val qConformal: String = s"""
    WITH hw AS (SELECT * FROM ($qHoltWinters)),
    aligned AS (
      SELECT * FROM (
        SELECT station_id, day, x, yhat_1,
          lead(x) OVER (PARTITION BY station_id ORDER BY day) AS x_next
        FROM hw)
      WHERE x_next IS NOT NULL),
    resid AS (
      SELECT station_id, day, abs(x_next - yhat_1) AS abs_resid
      FROM aligned),
    hz AS (SELECT max(day) - 7 AS cut FROM resid),
    tagged AS (
      SELECT r.*, r.day < z.cut AS calib FROM resid r CROSS JOIN hz z),
    counts AS (
      SELECT station_id, CAST(count(*) AS BIGINT) AS n_calib
      FROM tagged WHERE calib GROUP BY 1),
    ranked AS (
      SELECT t.station_id, c.n_calib, t.abs_resid,
        row_number() OVER (PARTITION BY t.station_id
          ORDER BY t.abs_resid, t.day) AS rn
      FROM tagged t JOIN counts c USING (station_id)
      WHERE t.calib),
    q AS (
      SELECT station_id, n_calib,
        round(abs_resid + 1e-9, 4) AS q90
      FROM ranked WHERE rn = least(ceil(0.9 * (n_calib + 1)), n_calib)),
    ev AS (
      SELECT t.station_id, q.n_calib, q.q90,
        CAST(count(*) AS BIGINT) AS n_eval,
        CAST(sum(CASE WHEN t.abs_resid <= q.q90 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_covered
      FROM tagged t JOIN q USING (station_id)
      WHERE NOT t.calib
      GROUP BY 1, 2, 3)
    SELECT station_id, n_calib, q90, n_eval, n_covered,
      round(n_covered / CAST(n_eval AS DOUBLE) + 1e-9, 6) AS coverage
    FROM ev ORDER BY station_id"""

  val qHoltBrown: String = {
    val k = 14; val alpha = 0.3
    val ew = (0 until k).map(i => alpha * math.pow(1 - alpha, i))
    def lagCols(src: String, out: String) = (0 until k).map(i =>
      s"lag($src, $i) OVER (PARTITION BY station_id ORDER BY day) AS ${out}_l$i")
      .mkString(",\n        ")
    def num(out: String) = (0 until k).map(i =>
      s"(CASE WHEN ${out}_l$i IS NOT NULL THEN ${out}_l$i * ${ew(i)} ELSE 0.0 END)")
      .mkString(" + ")
    def den(out: String) = (0 until k).map(i =>
      s"(CASE WHEN ${out}_l$i IS NOT NULL THEN ${ew(i)} ELSE 0.0 END)")
      .mkString(" + ")
    s"""
    WITH $world,
    filled AS (
      SELECT station_id, day, coalesce(raw, 0.0) AS x FROM raw_daily),
    lag1 AS (
      SELECT station_id, day, x,
        ${lagCols("x", "s1")}
      FROM filled),
    sm1 AS (
      SELECT station_id, day, x,
        round((${num("s1")}) / (${den("s1")}) + 1e-9, 6) AS s1
      FROM lag1),
    lag2 AS (
      SELECT station_id, day, x, s1,
        ${lagCols("s1", "s2")}
      FROM sm1),
    sm2 AS (
      SELECT station_id, day, x, s1,
        round((${num("s2")}) / (${den("s2")}) + 1e-9, 6) AS s2
      FROM lag2),
    o AS (
      SELECT station_id, day, x, s1, s2,
        round(2.0 * s1 - s2 + 1e-9, 6) AS level,
        round(${alpha / (1 - alpha)} * (s1 - s2) + 1e-9, 6) AS trend
      FROM sm2)
    SELECT station_id, day, x, s1, s2, level, trend,
      round(level + trend + 1e-9, 6) AS yhat_1
    FROM o ORDER BY station_id, day"""
  }

  /** Mirrors Climate.pacf: Durbin–Levinson closed form on the 4-dp
    * lag-1..3 ACF. */
  val qPacf: String = s"""
    WITH $world,
    x AS (
      SELECT station_id, day, coalesce(raw, 0.0) AS x,
        lag(coalesce(raw, 0.0), 1) OVER win AS x_lag1,
        lag(coalesce(raw, 0.0), 2) OVER win AS x_lag2,
        lag(coalesce(raw, 0.0), 3) OVER win AS x_lag3
      FROM raw_daily
      WINDOW win AS (PARTITION BY station_id ORDER BY day)),
    m AS (
      SELECT station_id, round(avg(x) + 1e-9, 6) AS xbar
      FROM x GROUP BY 1),
    agg AS (
      SELECT x.station_id,
        sum((x.x - m.xbar) * (x.x - m.xbar)) AS den,
        sum((x.x - m.xbar) * (x.x_lag1 - m.xbar)) AS num1,
        sum((x.x - m.xbar) * (x.x_lag2 - m.xbar)) AS num2,
        sum((x.x - m.xbar) * (x.x_lag3 - m.xbar)) AS num3
      FROM x JOIN m USING (station_id) GROUP BY 1),
    rho AS (
      SELECT station_id,
        CASE WHEN den > 0.0 THEN round(num1 / den + 1e-9, 4) END AS r1,
        CASE WHEN den > 0.0 THEN round(num2 / den + 1e-9, 4) END AS r2,
        CASE WHEN den > 0.0 THEN round(num3 / den + 1e-9, 4) END AS r3
      FROM agg),
    dl AS (
      SELECT station_id, r1, r2, r3,
        r1 AS p1,
        (r2 - r1 * r1) / (1.0 - r1 * r1) AS p2
      FROM rho),
    dl2 AS (
      SELECT *, r1 * (1.0 - p2) AS phi21 FROM dl),
    dl3 AS (
      SELECT *,
        (r3 - phi21 * r2 - p2 * r1)
          / (1.0 - phi21 * r1 - p2 * r2) AS p3
      FROM dl2),
    stacked AS (
      SELECT station_id, 1 AS lag, p1 AS pacf_raw FROM dl3
      UNION ALL SELECT station_id, 2, p2 FROM dl3
      UNION ALL SELECT station_id, 3, p3 FROM dl3)
    SELECT station_id, lag, round(pacf_raw + 1e-9, 4) AS pacf
    FROM stacked ORDER BY station_id, lag"""

  /** Mirrors Climate.forecastSkill: persistence vs climatology MAE. */
  val qForecastSkill: String = s"""
    WITH $world,
    obs AS (
      SELECT station_id, day, raw,
        lag(raw, 1) OVER (PARTITION BY station_id ORDER BY day) AS prev
      FROM raw_daily WHERE raw IS NOT NULL),
    clim AS (
      SELECT station_id, round(avg(raw) + 1e-9, 6) AS mean
      FROM obs GROUP BY 1)
    SELECT o.station_id,
      CAST(count(o.prev) AS BIGINT) AS n_pairs,
      round(avg(CASE WHEN o.prev IS NOT NULL
        THEN abs(o.raw - o.prev) END) + 1e-9, 6) AS mae_persistence,
      round(avg(abs(o.raw - c.mean)) + 1e-9, 6) AS mae_climatology,
      CASE WHEN round(avg(abs(o.raw - c.mean)) + 1e-9, 6) > 0.0
        THEN round(1.0 - round(avg(CASE WHEN o.prev IS NOT NULL
            THEN abs(o.raw - o.prev) END) + 1e-9, 6)
          / round(avg(abs(o.raw - c.mean)) + 1e-9, 6) + 1e-9, 4)
      END AS skill
    FROM obs o JOIN clim c USING (station_id)
    GROUP BY o.station_id, c.mean
    ORDER BY o.station_id"""

  val qTrendMk: String = s"""
    WITH $world,
    annual AS (
      SELECT station_id, date_trunc('week', day) AS yr,
        round(avg(raw) + 1e-9, 6) AS p
      FROM raw_daily WHERE raw IS NOT NULL GROUP BY 1, 2),
    pairs_mk AS (
      SELECT a.station_id, sign(b.p - a.p) AS sg
      FROM annual a JOIN annual b
        ON a.station_id = b.station_id AND a.yr < b.yr),
    s_stat AS (
      SELECT station_id, CAST(sum(sg) AS BIGINT) AS s
      FROM pairs_mk GROUP BY 1),
    nn AS (SELECT station_id, count(*) AS n FROM annual GROUP BY 1),
    j AS (
      SELECT s_stat.station_id, s_stat.s, nn.n,
        round(nn.n * (nn.n - 1) * (2 * nn.n + 5) / 18.0 + 1e-9, 6) AS var_s
      FROM s_stat JOIN nn USING (station_id))
    SELECT station_id, n, s, var_s,
      CASE WHEN s = 0 THEN 0.0
           ELSE round(sign(s) * (abs(s) - 1) / sqrt(var_s) + 1e-9, 4) END AS z,
      CASE WHEN (CASE WHEN s = 0 THEN 0.0
                 ELSE round(sign(s) * (abs(s) - 1) / sqrt(var_s) + 1e-9, 4) END)
                > 1.96 THEN 'increasing'
           WHEN (CASE WHEN s = 0 THEN 0.0
                 ELSE round(sign(s) * (abs(s) - 1) / sqrt(var_s) + 1e-9, 4) END)
                < -1.96 THEN 'decreasing'
           ELSE 'none' END AS trend
    FROM j ORDER BY station_id"""

  /** Mirrors Climate.doubleMass: neighbor day-mean, ordered cumsums,
    * β from the totals, max deviation with earliest-day tiebreak. */
  /** Mirrors GraphOps.modularity on the zoom-4 cell partition. */
  val qModularity: String = s"""
    WITH $world,
    lab AS (
      SELECT station_id,
        CAST(floor(x / 4) AS BIGINT)::VARCHAR || '_' ||
        CAST(floor(y / 4) AS BIGINT)::VARCHAR AS community
      FROM meta),
    und AS (
      SELECT station_id AS u, nb_id AS v FROM knn WHERE station_id != nb_id
      UNION
      SELECT nb_id, station_id FROM knn WHERE station_id != nb_id),
    tagged AS (
      SELECT a.community AS cu, b.community AS cv
      FROM und JOIN lab a ON und.u = a.station_id
      JOIN lab b ON und.v = b.station_id),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m_dir FROM tagged),
    perc AS (
      SELECT cu AS community,
        CAST(sum(CASE WHEN cu = cv THEN 1 ELSE 0 END) AS BIGINT) AS intra,
        CAST(count(*) AS BIGINT) AS deg
      FROM tagged GROUP BY 1),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_communities,
        max(m.m_dir) AS m_dir,
        CAST(sum(intra) AS BIGINT) AS intra_total,
        sum(intra / m.m_dir::DOUBLE
          - (deg / m.m_dir::DOUBLE) * (deg / m.m_dir::DOUBLE)) AS q
      FROM perc, m)
    SELECT n_communities, m_dir,
      round(intra_total / m_dir::DOUBLE + 1e-9, 6) AS intra_share,
      round(q + 1e-9, 6) AS modularity
    FROM s"""

  /** Mirrors Climate.flowDuration: exact quantile ladder per
    * station, zipped unnest. */
  val qFlowDuration: String = s"""
    WITH $world,
    obs AS (SELECT station_id, raw FROM raw_daily WHERE raw IS NOT NULL),
    fd AS (
      SELECT station_id, CAST(count(*) AS BIGINT) AS n,
        quantile_cont(raw, [0.05, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95]) AS qs
      FROM obs GROUP BY 1),
    ex AS (
      SELECT station_id, n, unnest(qs) AS q,
        unnest([0.05, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95]) AS prob
      FROM fd)
    SELECT station_id, n, prob, round(1.0 - prob, 2) AS exceed_prob,
      round(q + 1e-9, 4) AS q
    FROM ex ORDER BY station_id, prob"""

  /** Mirrors Climate.potDecluster: exact p95 threshold,
    * gaps-and-islands exceedance runs. */
  val qPotDecluster: String = s"""
    WITH $world,
    thr AS (
      SELECT station_id, round(quantile_cont(raw, 0.95) + 1e-9, 4) AS u
      FROM raw_daily WHERE raw IS NOT NULL GROUP BY 1),
    flagged AS (
      SELECT r.station_id, r.day, coalesce(r.raw > t.u, FALSE) AS ex
      FROM raw_daily r JOIN thr t USING (station_id)),
    marked AS (
      SELECT *, datediff('day', DATE '1970-01-01', day)
        - row_number() OVER (PARTITION BY station_id, ex ORDER BY day)
        AS grp
      FROM flagged),
    runs AS (
      SELECT station_id, grp, CAST(count(*) AS BIGINT) AS len
      FROM marked WHERE ex GROUP BY 1, 2),
    agg AS (
      SELECT station_id, CAST(count(*) AS BIGINT) AS n_clusters,
        CAST(sum(len) AS BIGINT) AS n_exceed,
        round(avg(len) + 1e-9, 4) AS mean_len,
        CAST(max(len) AS BIGINT) AS max_len
      FROM runs GROUP BY 1)
    SELECT station_id, n_clusters, n_exceed, mean_len, max_len,
      round(n_clusters / n_exceed::DOUBLE + 1e-9, 6) AS extremal_ratio
    FROM agg ORDER BY station_id"""

  /** Mirrors Climate.ebShrinkage: method-of-moments Beta prior,
    * posterior rates. */
  val qEbShrinkage: String = s"""
    WITH $world,
    per AS (
      SELECT station_id, CAST(count(raw) AS BIGINT) AS n,
        CAST(sum(CASE WHEN raw > 25.0 THEN 1 ELSE 0 END) AS BIGINT) AS k
      FROM raw_daily GROUP BY 1 HAVING count(raw) > 0),
    per2 AS (SELECT *, round(k / n::DOUBLE + 1e-9, 6) AS rate FROM per),
    prior0 AS (
      SELECT round(avg(rate) + 1e-9, 6) AS mu,
        round(var_samp(rate) + 1e-9, 8) AS s2
      FROM per2),
    prior1 AS (
      SELECT *, CASE WHEN s2 > 0.0
        THEN greatest(mu * (1.0 - mu) / s2 - 1.0, 1.0) ELSE 1.0 END AS nu
      FROM prior0),
    prior AS (
      SELECT round(mu * nu + 1e-9, 6) AS alpha,
        round((1.0 - mu) * nu + 1e-9, 6) AS beta
      FROM prior1)
    SELECT p.station_id, p.n, p.k, p.rate, pr.alpha, pr.beta,
      round((p.k + pr.alpha) / (p.n + pr.alpha + pr.beta) + 1e-9, 6)
        AS shrunk_rate
    FROM per2 p, prior pr ORDER BY station_id"""

  /** Mirrors Climate.tailDependence: per-station exact p90, joint
    * exceedance over the knn pair days. */
  val qTailDependence: String = s"""
    WITH $world,
    obs AS (SELECT station_id, day, raw FROM raw_daily
      WHERE raw IS NOT NULL),
    thr AS (SELECT station_id,
      round(quantile_cont(raw, 0.9) + 1e-9, 4) AS q90
      FROM obs GROUP BY 1),
    x AS (
      SELECT o.station_id, o.day, o.raw > t.q90 AS ex_i
      FROM obs o JOIN thr t USING (station_id)),
    j AS (
      SELECT k.station_id, k.nb_id, k.rank, a.ex_i, b.ex_i AS ex_j
      FROM knn k JOIN x a ON a.station_id = k.station_id
      JOIN x b ON b.station_id = k.nb_id AND b.day = a.day),
    agg AS (
      SELECT station_id, nb_id, rank,
        CAST(count(*) AS BIGINT) AS n_days,
        CAST(sum(CASE WHEN ex_i AND ex_j THEN 1 ELSE 0 END) AS BIGINT)
          AS n_joint,
        CAST(sum(CASE WHEN ex_i THEN 1 ELSE 0 END) AS BIGINT) AS n_ex_i
      FROM j GROUP BY 1, 2, 3)
    SELECT station_id, nb_id, rank, n_days, n_joint,
      CASE WHEN n_ex_i > 0
        THEN round(n_joint / n_ex_i::DOUBLE + 1e-9, 6) END AS chi
    FROM agg ORDER BY station_id, rank"""

  /** Mirrors Climate.effectiveSampleSize: lag-1 ACF, AR(1) ESS,
    * plain vs deflated SE. */
  val qEffectiveN: String = s"""
    WITH $world,
    x AS (
      SELECT station_id, day, coalesce(raw, 0.0) AS x,
        lag(coalesce(raw, 0.0), 1)
          OVER (PARTITION BY station_id ORDER BY day) AS x1
      FROM raw_daily),
    m AS (SELECT station_id, round(avg(x) + 1e-9, 6) AS xbar
      FROM x GROUP BY 1),
    agg AS (
      SELECT x.station_id, CAST(count(*) AS BIGINT) AS n,
        sum((x.x - m.xbar) * (x.x - m.xbar)) AS den,
        sum((x.x - m.xbar) * (x.x1 - m.xbar)) AS num
      FROM x JOIN m USING (station_id) GROUP BY 1),
    r AS (
      SELECT *, CASE WHEN den > 0.0
        THEN round(num / den + 1e-9, 4) END AS r1
      FROM agg),
    e AS (
      SELECT *, CASE WHEN r1 IS NOT NULL AND r1 < 1.0
        THEN round(n * (1.0 - r1) / (1.0 + r1) + 1e-9, 2) END AS n_eff
      FROM r)
    SELECT station_id, n, r1, n_eff,
      CASE WHEN den > 0.0
        THEN round(sqrt(den / n) / sqrt(n::DOUBLE) + 1e-9, 6) END AS se_plain,
      CASE WHEN n_eff > 0.0
        THEN round(sqrt(den / n) / sqrt(n_eff) + 1e-9, 6) END AS se_eff
    FROM e ORDER BY station_id"""

  /** Mirrors Climate.fieldSignificance: binomial z on the
    * significant-trend share of the Mann–Kendall table. */
  val qFieldSignificance: String = s"""
    WITH mk AS (SELECT * FROM ($qTrendMk)),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_stations,
        CAST(sum(CASE WHEN trend != 'none' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_sig,
        CAST(sum(CASE WHEN trend = 'increasing' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_inc,
        CAST(sum(CASE WHEN trend = 'decreasing' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_dec
      FROM mk),
    z AS (
      SELECT *, round(n_sig / n_stations::DOUBLE + 1e-9, 6) AS sig_share,
        round((n_sig - 0.05 * n_stations)
          / sqrt(n_stations * 0.05 * 0.95) + 1e-9, 4) AS z_field
      FROM s)
    SELECT n_stations, n_sig, n_inc, n_dec, sig_share, z_field,
      z_field > 1.645 AS field_significant
    FROM z"""

  val qDoubleMass: String = s"""
    WITH $world,
    nb_mean AS (
      SELECT k.station_id, r.day,
        round(avg(coalesce(r.raw, 0.0)) + 1e-9, 6) AS nb_mean
      FROM knn k JOIN raw_daily r ON r.station_id = k.nb_id
      GROUP BY 1, 2),
    base AS (
      SELECT r.station_id, r.day, r.raw, n.nb_mean
      FROM raw_daily r LEFT JOIN nb_mean n USING (station_id, day)),
    cum AS (
      SELECT station_id, day,
        round(sum(coalesce(raw, 0.0)) OVER win + 1e-9, 3) AS cum_s,
        round(sum(coalesce(nb_mean, 0.0)) OVER win + 1e-9, 3) AS cum_n
      FROM base
      WINDOW win AS (PARTITION BY station_id ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    totals AS (
      SELECT station_id,
        round(sum(coalesce(raw, 0.0)) + 1e-9, 3) AS total_s,
        round(sum(coalesce(nb_mean, 0.0)) + 1e-9, 3) AS total_n
      FROM base GROUP BY 1),
    beta_t AS (
      SELECT station_id, total_s, total_n,
        CASE WHEN total_n > 0.0 THEN round(total_s / total_n + 1e-9, 6) END AS beta
      FROM totals),
    dev AS (
      SELECT c.station_id, b.total_s, b.total_n, b.beta, c.day,
        round(abs(c.cum_s - b.beta * c.cum_n) + 1e-9, 4) AS dev
      FROM cum c JOIN beta_t b USING (station_id)),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY station_id
        ORDER BY dev DESC, day ASC) AS rn
      FROM dev)
    SELECT station_id, total_s, total_n, beta, dev AS max_dev,
      day AS break_day
    FROM ranked WHERE rn = 1 ORDER BY station_id"""

  /** Mirrors Climate.countIndices: ETCCDI threshold counts per
    * (station, year) over the dense temperature-extrema grid. */
  val qFrostDays: String = s"""
    WITH $world,
    tmm AS (
      SELECT user_id::BIGINT AS station_id, ts::date AS day,
        round(min(value) + 1e-9, 3) - $TempShift AS t_min,
        round(max(value) + 1e-9, 3) - $TempShift AS t_max
      FROM events WHERE event_type = 'view' GROUP BY 1, 2),
    tg AS (
      SELECT g.station_id, g.day, t.t_min, t.t_max
      FROM grid g LEFT JOIN tmm t USING (station_id, day))
    SELECT station_id, year(day) AS yr,
      count(CASE WHEN t_min < 0.0 THEN 1 END) AS frost_days,
      count(CASE WHEN t_max < 0.0 THEN 1 END) AS ice_days,
      count(CASE WHEN t_max > 25.0 THEN 1 END) AS summer_days,
      count(CASE WHEN t_min > 20.0 THEN 1 END) AS tropical_nights,
      count(t_min) AS n_obs,
      CAST(sum(CASE WHEN t_min IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing
    FROM tg GROUP BY 1, 2 ORDER BY station_id, yr"""

  /** Mirrors Climate.rxNday: annual max observed day and max complete
    * trailing 5-day accumulation, attributed to the window-end year. */
  val qRx5day: String = s"""
    WITH $world,
    acc AS (
      SELECT station_id, day, raw,
        round(sum(coalesce(raw, 0.0)) OVER win + 1e-9, 3) AS acc,
        count(*) OVER win AS w_size
      FROM raw_daily
      WINDOW win AS (PARTITION BY station_id ORDER BY day
                     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
    SELECT station_id, year(day) AS yr, max(raw) AS rx1day,
      max(CASE WHEN w_size = 5 THEN acc END) AS rx5day
    FROM acc GROUP BY 1, 2 ORDER BY station_id, yr"""

  /** Mirrors Climate.r95p: exact interpolated wet-day p95 cutoff,
    * then the very-wet total / count / share per station. */
  val qR95p: String = s"""
    WITH $world,
    wet AS (SELECT station_id, raw FROM raw_daily WHERE raw >= 25.0),
    cut AS (
      SELECT station_id, round(quantile_cont(raw, 0.95) + 1e-9, 6) AS p95,
        count(*) AS n_wet
      FROM wet GROUP BY 1)
    SELECT w.station_id, c.p95, c.n_wet,
      count(CASE WHEN w.raw > c.p95 THEN 1 END) AS n_very_wet,
      round(sum(CASE WHEN w.raw > c.p95 THEN w.raw ELSE 0.0 END) + 1e-9, 3)
        AS r95p_total,
      round(sum(w.raw) + 1e-9, 3) AS wet_total,
      CASE WHEN round(sum(w.raw) + 1e-9, 3) > 0.0
           THEN round(round(sum(CASE WHEN w.raw > c.p95 THEN w.raw ELSE 0.0 END)
                + 1e-9, 3) / round(sum(w.raw) + 1e-9, 3) + 1e-9, 6)
      END AS r95p_share
    FROM wet w JOIN cut c USING (station_id)
    GROUP BY 1, 2, 3 ORDER BY station_id"""

  /** Mirrors Climate.climatology: month-of-year mean + per-day
    * anomaly over the dense grid. */
  val qClimatology: String = s"""
    WITH $world,
    clim AS (
      SELECT station_id, month(day) AS moy,
        round(avg(raw) + 1e-9, 6) AS clim, count(*) AS n_clim
      FROM raw_daily WHERE raw IS NOT NULL GROUP BY 1, 2)
    SELECT r.station_id, r.day, month(r.day) AS moy, r.raw,
      c.clim, c.n_clim,
      CASE WHEN r.raw IS NOT NULL
           THEN round(r.raw - c.clim + 1e-9, 4) END AS anom
    FROM raw_daily r
    LEFT JOIN clim c ON c.station_id = r.station_id AND c.moy = month(r.day)
    ORDER BY r.station_id, r.day"""

  /** Mirrors Climate.lapseRate: closed-form least-squares slope of
    * daily temperature on station elevation from the sufficient sums. */
  val qLapseRate: String = s"""
    WITH $world,
    t_daily AS (
      SELECT user_id::BIGINT AS station_id, ts::date AS day,
        round(avg(value) + 1e-9, 6) - $TempShift AS t
      FROM events WHERE event_type = 'view' GROUP BY 1, 2),
    obs AS (
      SELECT t.day, t.t, m.elev
      FROM t_daily t JOIN meta m USING (station_id)),
    sums AS (
      SELECT day, count(*) AS n, sum(elev) AS sx, sum(t) AS sy,
        sum(elev * elev) AS sxx, sum(t * t) AS syy, sum(elev * t) AS sxy
      FROM obs GROUP BY 1),
    d AS (
      SELECT *, n * sxx - sx * sx AS det, n * syy - sy * sy AS dety
      FROM sums)
    SELECT day, n,
      CASE WHEN n >= 3 AND det > 0.0
           THEN round((n * sxy - sx * sy) / det + 1e-9, 6) END AS slope,
      CASE WHEN n >= 3 AND det > 0.0
           THEN round((sy - (n * sxy - sx * sy) / det * sx) / n + 1e-9, 4)
      END AS intercept,
      CASE WHEN n >= 3 AND det > 0.0 AND dety > 0.0
           THEN round((n * sxy - sx * sy) * (n * sxy - sx * sy)
                / (det * dety) + 1e-9, 6) END AS r2
    FROM d ORDER BY day"""

  /** Mirrors Climate.acf: lag-1..3 sample autocorrelation of the
    * zero-filled daily series per station. */
  val qAcf: String = s"""
    WITH $world,
    x AS (
      SELECT station_id, day, coalesce(raw, 0.0) AS x,
        lag(coalesce(raw, 0.0), 1) OVER win AS x_lag1,
        lag(coalesce(raw, 0.0), 2) OVER win AS x_lag2,
        lag(coalesce(raw, 0.0), 3) OVER win AS x_lag3
      FROM raw_daily
      WINDOW win AS (PARTITION BY station_id ORDER BY day)),
    m AS (
      SELECT station_id, round(avg(x) + 1e-9, 6) AS xbar
      FROM x GROUP BY 1),
    agg AS (
      SELECT x.station_id, m.xbar,
        sum((x.x - m.xbar) * (x.x - m.xbar)) AS den,
        sum((x.x - m.xbar) * (x.x_lag1 - m.xbar)) AS num1,
        sum((x.x - m.xbar) * (x.x_lag2 - m.xbar)) AS num2,
        sum((x.x - m.xbar) * (x.x_lag3 - m.xbar)) AS num3
      FROM x JOIN m USING (station_id) GROUP BY 1, 2),
    stacked AS (
      SELECT station_id, xbar, den, 1 AS lag, num1 AS num FROM agg
      UNION ALL
      SELECT station_id, xbar, den, 2, num2 FROM agg
      UNION ALL
      SELECT station_id, xbar, den, 3, num3 FROM agg)
    SELECT station_id, lag, xbar,
      CASE WHEN den > 0.0 THEN round(num / den + 1e-9, 4) END AS acf
    FROM stacked ORDER BY station_id, lag"""

  /** Mirrors Climate.ljungBox: Q from the 4-dp lag-1..3 ACF, χ²(3)
    * 95% rejection. */
  val qLjungBox: String = s"""
    WITH $world,
    x AS (
      SELECT station_id, day, coalesce(raw, 0.0) AS x,
        lag(coalesce(raw, 0.0), 1) OVER win AS x_lag1,
        lag(coalesce(raw, 0.0), 2) OVER win AS x_lag2,
        lag(coalesce(raw, 0.0), 3) OVER win AS x_lag3
      FROM raw_daily
      WINDOW win AS (PARTITION BY station_id ORDER BY day)),
    m AS (
      SELECT station_id, round(avg(x) + 1e-9, 6) AS xbar
      FROM x GROUP BY 1),
    agg AS (
      SELECT x.station_id, m.xbar,
        CAST(count(*) AS BIGINT) AS n,
        sum((x.x - m.xbar) * (x.x - m.xbar)) AS den,
        sum((x.x - m.xbar) * (x.x_lag1 - m.xbar)) AS num1,
        sum((x.x - m.xbar) * (x.x_lag2 - m.xbar)) AS num2,
        sum((x.x - m.xbar) * (x.x_lag3 - m.xbar)) AS num3
      FROM x JOIN m USING (station_id) GROUP BY 1, 2),
    stacked AS (
      SELECT station_id, n, den, 1 AS lag, num1 AS num FROM agg
      UNION ALL SELECT station_id, n, den, 2, num2 FROM agg
      UNION ALL SELECT station_id, n, den, 3, num3 FROM agg),
    rho AS (
      SELECT station_id, n, lag,
        coalesce(CASE WHEN den > 0.0 THEN round(num / den + 1e-9, 4) END,
          0.0) AS acf
      FROM stacked),
    q AS (
      SELECT station_id, n,
        round(n * (n + 2) * sum(acf * acf / (n - lag)) + 1e-9, 4) AS q_lb
      FROM rho GROUP BY 1, 2)
    SELECT station_id, n, q_lb, q_lb > 7.815 AS white_noise_rejected
    FROM q ORDER BY station_id"""

  /** Mirrors Climate.spearmanNeighbors: tie-averaged ranks per
    * station, Pearson over the rank pairs per knn edge. */
  val qSpearman: String = s"""
    WITH $world,
    ranked AS (
      SELECT station_id, day,
        rank() OVER wo
          + (count(*) OVER (PARTITION BY station_id, coalesce(raw, 0.0))
             - 1) / 2.0 AS r
      FROM raw_daily
      WINDOW wo AS (PARTITION BY station_id ORDER BY coalesce(raw, 0.0))),
    j AS (
      SELECT k.station_id, k.nb_id, k.rank, a.r AS x, b.r AS y
      FROM knn k
      JOIN ranked a ON a.station_id = k.station_id
      JOIN ranked b ON b.station_id = k.nb_id AND b.day = a.day),
    sums AS (
      SELECT station_id, nb_id, rank, CAST(count(*) AS BIGINT) AS n,
        sum(x) AS sx, sum(y) AS sy, sum(x*x) AS sxx, sum(y*y) AS syy,
        sum(x*y) AS sxy
      FROM j GROUP BY 1, 2, 3),
    d AS (
      SELECT *, n*sxx - sx*sx AS detx, n*syy - sy*sy AS dety FROM sums)
    SELECT station_id, nb_id, rank, n,
      CASE WHEN detx > 0.0 AND dety > 0.0
           THEN round((n*sxy - sx*sy) / sqrt(detx * dety) + 1e-9, 6)
      END AS rho
    FROM d ORDER BY station_id, rank"""

  /** Mirrors Climate.bhFdr: A&S 26.2.17 normal CDF (identical Horner
    * order), BH step-up over the station p-values. */
  val qBhFdr: String = s"""
    WITH $world,
    annual AS (
      SELECT station_id, date_trunc('week', day) AS yr,
        round(avg(raw) + 1e-9, 6) AS p
      FROM raw_daily WHERE raw IS NOT NULL GROUP BY 1, 2),
    pairs_mk AS (
      SELECT a.station_id, sign(b.p - a.p) AS sg
      FROM annual a JOIN annual b
        ON a.station_id = b.station_id AND a.yr < b.yr),
    s_stat AS (
      SELECT station_id, CAST(sum(sg) AS BIGINT) AS s
      FROM pairs_mk GROUP BY 1),
    nn AS (SELECT station_id, count(*) AS n FROM annual GROUP BY 1),
    zf AS (
      SELECT s_stat.station_id,
        CASE WHEN s = 0 THEN 0.0
          ELSE round(sign(s) * (abs(s) - 1)
            / sqrt(round(nn.n * (nn.n - 1) * (2 * nn.n + 5) / 18.0
              + 1e-9, 6)) + 1e-9, 4) END AS z
      FROM s_stat JOIN nn USING (station_id)),
    pv AS (
      SELECT station_id, z,
        round(2.0 * (exp(abs(z) * abs(z) / -2.0)
            / ${math.sqrt(2.0 * math.Pi)})
          * ((1.0 / (1.0 + 0.2316419 * abs(z)))
            * (0.319381530 + (1.0 / (1.0 + 0.2316419 * abs(z)))
              * (-0.356563782 + (1.0 / (1.0 + 0.2316419 * abs(z)))
                * (1.781477937 + (1.0 / (1.0 + 0.2316419 * abs(z)))
                  * (-1.821255978 + (1.0 / (1.0 + 0.2316419 * abs(z)))
                    * 1.330274429))))) + 1e-9, 6) AS p
      FROM zf),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY p, station_id) AS rnk,
        CAST(count(*) OVER () AS BIGINT) AS m
      FROM pv),
    th AS (
      SELECT *, round(rnk * 0.05 / m + 1e-9, 6) AS bh_thresh
      FROM ranked),
    km AS (
      SELECT *, max(CASE WHEN p <= bh_thresh THEN rnk ELSE 0 END) OVER ()
        AS kmax
      FROM th)
    SELECT station_id, z, p, rnk, m, bh_thresh, rnk <= kmax AS rejected
    FROM km ORDER BY station_id"""

  /** Mirrors Climate.diurnalHarmonics: DFT bins k=1,2 of the 24-point
    * diurnal profile, 6-dp quantized coefficient sums. */
  val qHarmonic: String = s"""
    WITH stations AS (SELECT DISTINCT user_id::BIGINT AS station_id FROM events),
    hb AS (SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1 FROM events),
    hgrid AS (
      SELECT s.station_id, unnest(generate_series(b.h0, b.h1, INTERVAL 1 HOUR)) AS hour
      FROM stations s, hb b),
    hourly AS (
      SELECT user_id::BIGINT AS station_id, date_trunc('hour', ts) AS hour,
        round(sum(value) + 1e-9, 3) AS raw
      FROM events GROUP BY 1, 2),
    prof AS (
      SELECT g.station_id, hour(g.hour) AS hod,
        round(avg(coalesce(h.raw, 0.0)) + 1e-9, 6) AS x
      FROM hgrid g LEFT JOIN hourly h USING (station_id, hour)
      GROUP BY 1, 2),
    hk AS (
      SELECT station_id, k, hod, x,
        ${2.0 * math.Pi} * k * hod / 24.0 AS ang
      FROM prof, unnest([1, 2]) AS t(k)),
    coeff AS (
      SELECT station_id, k,
        round(sum(x * cos(ang)) + 1e-9, 6) AS a,
        round(sum(x * sin(ang)) + 1e-9, 6) AS b,
        round(avg(x) + 1e-9, 6) AS mean_x
      FROM hk GROUP BY 1, 2)
    SELECT station_id, CAST(k AS INT) AS k, mean_x,
      round(${2.0 / 24.0} * sqrt(a*a + b*b) + 1e-9, 6) AS amplitude,
      round(atan2(b, a) + 1e-9, 4) AS phase
    FROM coeff ORDER BY station_id, k"""

  /** Mirrors Climate.spectralEntropy: 24-point profile power at
    * k = 1..11, entropy + flatness. */
  val qSpectralEntropy: String = s"""
    WITH stations AS (SELECT DISTINCT user_id::BIGINT AS station_id FROM events),
    hb AS (SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1 FROM events),
    hgrid AS (
      SELECT s.station_id, unnest(generate_series(b.h0, b.h1, INTERVAL 1 HOUR)) AS hour
      FROM stations s, hb b),
    hourly AS (
      SELECT user_id::BIGINT AS station_id, date_trunc('hour', ts) AS hour,
        round(sum(value) + 1e-9, 3) AS raw
      FROM events GROUP BY 1, 2),
    prof AS (
      SELECT g.station_id, hour(g.hour) AS hod,
        round(avg(coalesce(h.raw, 0.0)) + 1e-9, 6) AS x
      FROM hgrid g LEFT JOIN hourly h USING (station_id, hour)
      GROUP BY 1, 2),
    hk AS (
      SELECT station_id, k, hod, x,
        ${2.0 * math.Pi} * k * hod / 24.0 AS ang
      FROM prof, unnest([1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11]) AS t(k)),
    power AS (
      SELECT station_id, k,
        round(sum(x * cos(ang)) + 1e-9, 6) AS a,
        round(sum(x * sin(ang)) + 1e-9, 6) AS b
      FROM hk GROUP BY 1, 2),
    pw AS (SELECT station_id, k, a*a + b*b AS pw FROM power),
    tot AS (
      SELECT station_id, sum(pw) AS pw_tot, CAST(count(*) AS BIGINT) AS n_k
      FROM pw GROUP BY 1),
    h AS (
      SELECT p.station_id, t.n_k,
        sum(CASE WHEN p.pw / t.pw_tot > 0.0
          THEN -(p.pw / t.pw_tot) * ln(p.pw / t.pw_tot) ELSE 0.0 END) AS h
      FROM pw p JOIN tot t USING (station_id)
      WHERE t.pw_tot > 0.0 GROUP BY 1, 2)
    SELECT station_id, n_k,
      round(h + 1e-9, 6) AS spectral_entropy,
      round(h / ln(n_k::DOUBLE) + 1e-9, 6) AS flatness
    FROM h ORDER BY station_id"""

  /** Mirrors Climate.miBinned: decile contingency table MI. */
  val qMiBinned: String = s"""
    WITH $world,
    ma_v AS (SELECT station_id, round(avg(raw) + 1e-9, 6) AS ma
      FROM raw_daily GROUP BY 1),
    pts AS (
      SELECT m.station_id,
        ntile(10) OVER (ORDER BY m.elev, m.station_id) AS gx,
        ntile(10) OVER (ORDER BY a.ma, m.station_id) AS gy
      FROM meta m JOIN ma_v a USING (station_id)),
    cells AS (SELECT gx, gy, CAST(count(*) AS BIGINT) AS cnt
      FROM pts GROUP BY 1, 2),
    rm AS (SELECT gx, CAST(sum(cnt) AS BIGINT) AS rn FROM cells GROUP BY 1),
    cm AS (SELECT gy, CAST(sum(cnt) AS BIGINT) AS cn FROM cells GROUP BY 1),
    nn AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM cells),
    terms AS (
      SELECT c.cnt, nn.n,
        c.cnt / nn.n::DOUBLE
          * ln(c.cnt::DOUBLE * nn.n / (rm.rn::DOUBLE * cm.cn)) AS term
      FROM cells c JOIN rm USING (gx) JOIN cm USING (gy), nn),
    s AS (
      SELECT max(n) AS n, CAST(count(*) AS BIGINT) AS n_cells,
        round(sum(term) + 1e-9, 6) AS mi
      FROM terms)
    SELECT n, n_cells, mi, round(mi / ln(10.0) + 1e-9, 6) AS nmi FROM s"""

  /** Mirrors Neighbors.idwGrid: 9-cell replication, regularized IDW
    * cell means. */
  val qIdwGrid: String = s"""
    WITH $world,
    pts AS (
      SELECT m.station_id, m.x, m.y, a.ma
      FROM meta m JOIN ma_raw a USING (station_id)),
    cells AS (
      SELECT DISTINCT floor(x / 4.0) AS cx, floor(y / 4.0) AS cy FROM pts),
    repl AS (
      SELECT floor(x / 4.0) + dx AS cx, floor(y / 4.0) + dy AS cy,
        x, y, ma
      FROM pts, unnest([-1, 0, 1]) AS tx(dx), unnest([-1, 0, 1]) AS ty(dy)),
    j AS (
      SELECT c.cx, c.cy, r.x, r.y, r.ma,
        (c.cx + 0.5) * 4.0 AS cxc, (c.cy + 0.5) * 4.0 AS cyc
      FROM cells c JOIN repl r ON c.cx = r.cx AND c.cy = r.cy),
    d AS (
      SELECT cx, cy, ma,
        1.0 / ((x - cxc) * (x - cxc) + (y - cyc) * (y - cyc) + 1.0) AS w
      FROM j)
    SELECT CAST(cx AS BIGINT) AS cx, CAST(cy AS BIGINT) AS cy,
      CAST(count(*) AS BIGINT) AS n_contrib,
      round(sum(w * ma) / sum(w) + 1e-9, 4) AS idw_value
    FROM d GROUP BY 1, 2 ORDER BY cx, cy"""

  /** Mirrors Climate.variogram: zero-filled period means, brute
    * complete pairs ≤ hMax (the engine's cell join is deterministic-
    * complete over the same set), unit distance bins. */
  val qVariogram: String = s"""
    WITH $world,
    vm AS (
      SELECT station_id, round(avg(coalesce(raw, 0.0)) + 1e-9, 6) AS v
      FROM raw_daily GROUP BY 1),
    pr AS (
      SELECT a.station_id, b.station_id AS nb_id,
        sqrt((ma.x - mb.x)*(ma.x - mb.x) + (ma.y - mb.y)*(ma.y - mb.y))
          AS dist,
        a.v AS va, b.v AS vb
      FROM vm a JOIN vm b ON a.station_id < b.station_id
      JOIN meta ma ON ma.station_id = a.station_id
      JOIN meta mb ON mb.station_id = b.station_id),
    binned AS (
      SELECT CAST(floor(dist) AS INT) AS bin, dist, va, vb
      FROM pr WHERE dist > 0.0 AND dist <= 6.0)
    SELECT bin, CAST(count(*) AS BIGINT) AS n_pairs,
      round(avg(dist) + 1e-9, 4) AS mean_dist,
      round(avg((va - vb) * (va - vb)) / 2 + 1e-9, 2) AS gamma
    FROM binned GROUP BY 1 ORDER BY bin"""

  /** Mirrors Climate.potGpd: exact-p95 exceedances, GPD method of
    * moments. */
  val qPotGpd: String = s"""
    WITH $world,
    x AS (SELECT station_id, coalesce(raw, 0.0) AS x FROM raw_daily),
    th AS (
      SELECT station_id, round(quantile_cont(x, 0.95) + 1e-9, 6) AS u
      FROM x GROUP BY 1),
    exc AS (
      SELECT x.station_id, th.u, x.x - th.u AS e
      FROM x JOIN th USING (station_id) WHERE x.x > th.u),
    m AS (
      SELECT station_id, u, CAST(count(*) AS BIGINT) AS n_exc,
        round(avg(e) + 1e-9, 6) AS mean_excess,
        round(var_samp(e) + 1e-9, 6) AS var_excess
      FROM exc GROUP BY 1, 2),
    r AS (
      SELECT *, mean_excess * mean_excess / var_excess AS rr
      FROM m WHERE var_excess > 0.0)
    SELECT station_id, u, n_exc, mean_excess,
      round(0.5 * (1.0 - rr) + 1e-9, 6) AS xi,
      round(0.5 * mean_excess * (rr + 1.0) + 1e-9, 6) AS sigma
    FROM r ORDER BY station_id"""

  /** Mirrors Climate.snScale: pairwise median-of-medians robust
    * scale over the weekly-aggregated observed series. */
  val qSnScale: String = s"""
    WITH $world,
    x AS (
      SELECT station_id, date_trunc('week', day)::date AS day,
        round(avg(raw) + 1e-9, 6) AS x
      FROM raw_daily WHERE raw IS NOT NULL GROUP BY 1, 2),
    inner_m AS (
      SELECT a.station_id, a.day,
        round(quantile_cont(abs(a.x - b.x), 0.5) + 1e-9, 6) AS med_i
      FROM x a JOIN x b
        ON a.station_id = b.station_id AND a.day <> b.day
      GROUP BY 1, 2),
    outer_m AS (
      SELECT station_id, CAST(count(*) AS BIGINT) AS n,
        round(quantile_cont(med_i, 0.5) + 1e-9, 6) AS med_med
      FROM inner_m GROUP BY 1)
    SELECT station_id, n, med_med,
      round(1.1926 * med_med + 1e-9, 6) AS sn
    FROM outer_m ORDER BY station_id"""

  /** Mirrors Climate.gumbelFit: method-of-moments EV-I over daily
    * maxima of the hourly series. */
  val qGumbel: String = s"""
    WITH hourly AS (
      SELECT user_id::BIGINT AS station_id, date_trunc('hour', ts) AS hour,
        round(sum(value) + 1e-9, 3) AS raw
      FROM events GROUP BY 1, 2),
    maxima AS (
      SELECT station_id, hour::date AS day, max(raw) AS mx
      FROM hourly GROUP BY 1, 2),
    m AS (
      SELECT station_id, CAST(count(*) AS BIGINT) AS n_blocks,
        round(avg(mx) + 1e-9, 6) AS mean_max,
        round(stddev_samp(mx) + 1e-9, 6) AS sd_max
      FROM maxima GROUP BY 1),
    fit AS (
      SELECT station_id, n_blocks,
        round(sd_max * ${math.sqrt(6.0)} / ${math.Pi} + 1e-9, 6) AS beta,
        mean_max
      FROM m WHERE sd_max > 0.0),
    fit2 AS (
      SELECT station_id, n_blocks, beta,
        round(mean_max - 0.5772156649 * beta + 1e-9, 6) AS mu
      FROM fit)
    SELECT station_id, n_blocks, mu, beta,
      round(mu - beta * ln(-ln(1.0 - 1.0/2)) + 1e-9, 4) AS rl2,
      round(mu - beta * ln(-ln(1.0 - 1.0/10)) + 1e-9, 4) AS rl10,
      round(mu - beta * ln(-ln(1.0 - 1.0/100)) + 1e-9, 4) AS rl100
    FROM fit2 ORDER BY station_id"""

  /** Mirrors Climate.gevLmoments: Hosking L-moment GEV fit over the
    * ranked daily block maxima of the hourly series. DuckDB's
    * built-in gamma() stands in for the engine's Lanczos Γ — they
    * agree to ~1e-13, far inside the 6-decimal round. */
  val qGevLmoments: String = s"""
    WITH hourly AS (
      SELECT user_id::BIGINT AS station_id, date_trunc('hour', ts) AS hour,
        round(sum(value) + 1e-9, 3) AS raw
      FROM events GROUP BY 1, 2),
    maxima AS (
      SELECT station_id, hour::date AS day, max(raw) AS mx
      FROM hourly GROUP BY 1, 2),
    ranked AS (
      SELECT station_id, mx,
        CAST(row_number() OVER (PARTITION BY station_id ORDER BY mx, day) AS DOUBLE) AS r
      FROM maxima),
    pwm AS (
      SELECT station_id, CAST(count(*) AS DOUBLE) AS n,
        sum(mx) AS s0, sum((r - 1.0) * mx) AS s1,
        sum((r - 1.0) * (r - 2.0) * mx) AS s2
      FROM ranked GROUP BY 1 HAVING count(*) >= 5),
    b AS (
      SELECT station_id, n,
        round(s0 / n + 1e-9, 6) AS b0,
        round(s1 / (n * (n - 1.0)) + 1e-9, 6) AS b1,
        round(s2 / (n * (n - 1.0) * (n - 2.0)) + 1e-9, 6) AS b2
      FROM pwm),
    lmom AS (
      SELECT station_id, n, b0 AS l1, 2.0 * b1 - b0 AS l2,
        6.0 * b2 - 6.0 * b1 + b0 AS l3
      FROM b),
    rat AS (
      SELECT station_id, n, l1, l2,
        round(l2 / l1 + 1e-9, 6) AS t_lcv,
        round(l3 / l2 + 1e-9, 6) AS t3
      FROM lmom WHERE l2 > 0.0),
    kap AS (
      SELECT station_id, n, l1, l2, t_lcv, t3,
        round(7.8590 * cc + 2.9554 * cc * cc + 1e-9, 6) AS kappa
      FROM (SELECT *, 2.0 / (3.0 + t3) - ${math.log(2.0) / math.log(3.0)} AS cc
            FROM rat)),
    fit AS (
      SELECT *, gamma(1.0 + kappa) AS g1k
      FROM kap WHERE abs(kappa) > 1e-6),
    fit2 AS (
      SELECT *, round(l2 * kappa / (g1k * (1.0 - pow(2.0, -kappa)))
        + 1e-9, 6) AS sigma
      FROM fit),
    fit3 AS (
      SELECT *, round(l1 - sigma * (1.0 - g1k) / kappa + 1e-9, 6) AS mu
      FROM fit2)
    SELECT station_id, CAST(n AS BIGINT) AS n_blocks, l1, l2, t_lcv, t3,
      kappa, sigma, mu,
      round(mu + sigma / kappa * (1.0 - pow(-ln(1.0 - 0.01), kappa))
        + 1e-9, 4) AS rl100
    FROM fit3 ORDER BY station_id"""

  /** Mirrors Climate.floodSeasonality: circular statistics of the
    * annual-maximum day of year. */
  val qFloodSeasonality: String = s"""
    WITH $world,
    obs AS (
      SELECT station_id, day, raw, year(day) AS yr
      FROM raw_daily WHERE raw IS NOT NULL),
    peaks AS (
      SELECT station_id, day,
        2.0 * pi() * CAST(dayofyear(day) - 1 AS DOUBLE)
          / CAST(date_diff('day', make_date(yr, 1, 1),
                 make_date(yr + 1, 1, 1)) AS DOUBLE) AS theta
      FROM (SELECT *, row_number() OVER (PARTITION BY station_id, yr
              ORDER BY raw DESC, day ASC) AS rn FROM obs)
      WHERE rn = 1),
    agg AS (
      SELECT station_id, CAST(count(*) AS BIGINT) AS n_years,
        round(avg(cos(theta)) + 1e-9, 6) AS c_bar,
        round(avg(sin(theta)) + 1e-9, 6) AS s_bar
      FROM peaks GROUP BY 1),
    rbar AS (
      SELECT *, round(sqrt(c_bar * c_bar + s_bar * s_bar) + 1e-9, 6) AS r_bar,
        atan2(s_bar, c_bar) AS ang
      FROM agg)
    SELECT station_id, n_years,
      round((CASE WHEN ang < 0.0 THEN ang + 2.0 * pi() ELSE ang END)
        / (2.0 * pi()) * 365.0 + 1.0 + 1e-9, 2) AS mean_doy,
      r_bar, r_bar > 0.6 AS seasonal
    FROM rbar ORDER BY station_id"""

  /** Mirrors Climate.budyko: aridity from the wrapped Thornthwaite
    * PET oracle and the Köppen 30×-mean-daily precipitation normal;
    * tanh expanded to its exp identity on both engines. */
  val qBudyko: String = s"""
    WITH petq AS (SELECT * FROM ($qPetThornthwaite)),
    pet AS (
      SELECT station_id, round(sum(pet) + 1e-9, 4) AS pet_ann
      FROM petq GROUP BY 1),
    $world,
    pmon AS (
      SELECT station_id, month(day) AS mon,
        round(avg(raw) * 30.0 + 1e-9, 4) AS p_mon
      FROM raw_daily WHERE raw IS NOT NULL GROUP BY 1, 2),
    pann AS (
      SELECT station_id, round(sum(p_mon) + 1e-9, 4) AS p_ann
      FROM pmon GROUP BY 1),
    j AS (
      SELECT station_id, p_ann, pet_ann,
        round(pet_ann / p_ann + 1e-9, 6) AS aridity
      FROM pet JOIN pann USING (station_id)
      WHERE p_ann > 0.0 AND pet_ann > 0.0),
    ef AS (
      SELECT *, round(sqrt(aridity
        * ((1.0 - exp(-2.0 / aridity)) / (1.0 + exp(-2.0 / aridity)))
        * (1.0 - exp(-aridity))) + 1e-9, 6) AS evap_fraction
      FROM j)
    SELECT station_id, p_ann, pet_ann, aridity, evap_fraction,
      round(1.0 - evap_fraction + 1e-9, 6) AS runoff_fraction,
      CASE WHEN aridity > 1.0 THEN 'water-limited'
           ELSE 'energy-limited' END AS regime
    FROM ef ORDER BY station_id"""

  /** Mirrors Climate.periodogramDaily: Fourier power at integer trial
    * periods over the day-ordinal axis. */
  val qPeriodogramDaily: String = s"""
    WITH $world,
    obs AS (
      SELECT station_id, raw AS x,
        CAST(row_number() OVER (PARTITION BY station_id ORDER BY day) - 1
          AS DOUBLE) AS t
      FROM raw_daily WHERE raw IS NOT NULL),
    pw AS (
      SELECT station_id, p, CAST(count(*) AS BIGINT) AS n,
        round(sum(x * cos(2.0 * pi() * t / p)) + 1e-9, 6) AS a,
        round(sum(x * sin(2.0 * pi() * t / p)) + 1e-9, 6) AS b
      FROM obs, range(2, 15) pr(p)
      GROUP BY 1, 2),
    pw2 AS (
      SELECT station_id, p, n,
        round(a * a + b * b + 1e-9, 4) AS power
      FROM pw),
    tot AS (
      SELECT station_id, sum(power) AS tot FROM pw2 GROUP BY 1
      HAVING sum(power) > 0.0)
    SELECT w.station_id, CAST(w.p AS INT) AS period_days, w.n, w.power,
      round(w.power / t.tot + 1e-9, 6) AS power_share
    FROM pw2 w JOIN tot t USING (station_id)
    ORDER BY w.station_id, w.p"""

  /** Mirrors Climate.weibullFit: Justus power-law moment
    * approximation with DuckDB's gamma() standing in for the engine's
    * Lanczos column. */
  val qWeibullFit: String = s"""
    WITH $world,
    m AS (
      SELECT station_id, CAST(count(*) AS BIGINT) AS n,
        round(avg(raw) + 1e-9, 6) AS mu,
        round(stddev_samp(raw) + 1e-9, 6) AS sd
      FROM raw_daily WHERE raw IS NOT NULL AND raw > 0.0
      GROUP BY 1
      HAVING count(*) >= 10 AND round(stddev_samp(raw) + 1e-9, 6) > 0.0),
    cv AS (
      SELECT *, round(sd / mu + 1e-9, 6) AS cv FROM m),
    fit AS (
      SELECT station_id, n, mu, sd, cv,
        round(pow(cv, -1.086) + 1e-9, 4) AS k
      FROM cv WHERE cv > 0.1 AND cv < 1.0),
    fit2 AS (
      SELECT *, round(mu / gamma(1.0 + 1.0 / k) + 1e-9, 4) AS c FROM fit)
    SELECT station_id, n, mu, sd, cv, k, c, c AS p63
    FROM fit2 ORDER BY station_id"""

  /** Mirrors Climate.esdOutliers: the same three unrolled Rosner
    * rounds with the A&S 26.2.23 inverse-normal critical value,
    * identical Horner order. */
  val qEsdOutliers: String = {
    def roundCtes(i: Int): String = s"""
    mom$i AS (
      SELECT station_id, CAST(count(*) AS BIGINT) AS n,
        round(avg(x) + 1e-9, 6) AS mu,
        round(stddev_samp(x) + 1e-9, 6) AS sd
      FROM src$i GROUP BY 1
      HAVING round(stddev_samp(x) + 1e-9, 6) > 0.0 AND count(*) >= 5),
    pk$i AS (
      SELECT s.station_id, s.day, s.x, m.n, m.mu, m.sd,
        row_number() OVER (PARTITION BY s.station_id
          ORDER BY abs(s.x - m.mu) DESC, s.day) AS rn
      FROM src$i s JOIN mom$i m USING (station_id)),
    peak$i AS (
      SELECT station_id, $i AS "round", n, day AS outlier_day, x AS x_out,
        round(abs(x - mu) / sd + 1e-9, 4) AS r_stat,
        round(t - (2.515517 + t * (0.802853 + t * 0.010328))
          / (1.0 + t * (1.432788 + t * (0.189269 + t * 0.001308)))
          + 1e-9, 4) AS lambda_crit
      FROM (SELECT *, sqrt(-2.0 * ln(${Climate.EsdAlpha} / (2.0 * (n + 1)))) AS t
            FROM pk$i WHERE rn = 1)),
    src${i + 1} AS (
      SELECT s.* FROM src$i s LEFT JOIN peak$i p
        ON s.station_id = p.station_id AND s.day = p.outlier_day
      WHERE p.station_id IS NULL)"""
    s"""
    WITH $world,
    src1 AS (
      SELECT station_id, day, raw AS x FROM raw_daily WHERE raw IS NOT NULL),
    ${(1 to Climate.EsdK).map(roundCtes).mkString(",")},
    u AS (${(1 to Climate.EsdK).map(i => s"SELECT * FROM peak$i")
      .mkString(" UNION ALL ")})
    SELECT station_id, "round", n, outlier_day, x_out, r_stat, lambda_crit,
      r_stat > lambda_crit AS rejected
    FROM u ORDER BY station_id, "round""""
  }

  /** Mirrors Climate.quantileMapping: percent_rank binned to 1%,
    * neighbor quantile table via quantile_cont over the same
    * percentage array (the Spark `percentile` interpolation). */
  val qQuantileMapping: String = {
    val ps = (0 to 100).map(b => s"${b / 100.0}").mkString(", ")
    s"""
    WITH $world,
    obs AS (SELECT station_id, day, raw FROM raw_daily WHERE raw IS NOT NULL),
    ranked AS (
      SELECT station_id, day, raw,
        CAST(round(percent_rank() OVER (PARTITION BY station_id
          ORDER BY raw, day) * 100.0 + 1e-9) AS INT) AS bin
      FROM obs),
    qtab AS (
      SELECT station_id AS nb_id, quantile_cont(raw, [$ps]) AS qarr
      FROM obs GROUP BY 1),
    nearest AS (SELECT station_id, nb_id FROM knn WHERE rank = 1)
    SELECT r.station_id, n.nb_id, r.day, r.raw, r.bin,
      round(q.qarr[r.bin + 1] + 1e-9, 4) AS mapped
    FROM ranked r
    JOIN nearest n USING (station_id)
    JOIN qtab q USING (nb_id)
    ORDER BY r.station_id, r.day"""
  }

  /** Mirrors Climate.solarRa: FAO-56 Ra and day length from the
    * registry-derived latitude; identical rounded lat/decl inputs so
    * libm ulp noise stays inside the output rounds. */
  val qSolarRa: String = s"""
    WITH $world,
    latm AS (
      SELECT station_id, round((y % 100) * 1.1 - 55.0 + 1e-9, 4) AS lat_deg
      FROM meta),
    base AS (
      SELECT g.station_id, g.day, m.lat_deg,
        radians(m.lat_deg) AS phi,
        2.0 * pi() * CAST(dayofyear(g.day) AS DOUBLE) / 365.0 AS ang
      FROM grid g JOIN latm m USING (station_id)),
    d1 AS (
      SELECT station_id, day, lat_deg, phi,
        round(0.409 * sin(ang - 1.39) + 1e-9, 6) AS decl,
        1.0 + 0.033 * cos(ang) AS dr
      FROM base),
    d2 AS (
      SELECT *, acos(-tan(phi) * tan(decl)) AS ws FROM d1)
    SELECT station_id, day, lat_deg, decl,
      round((24.0 * 60.0 / pi()) * 0.0820 * dr
        * (ws * sin(phi) * sin(decl) + cos(phi) * cos(decl) * sin(ws))
        + 1e-9, 4) AS ra,
      round((24.0 / pi()) * ws + 1e-9, 4) AS daylen_h
    FROM d2 ORDER BY station_id, day"""

  /** Mirrors Climate.snowpack: the same 4-dp-per-step degree-day SWE
    * fold. Snowfall and the snow-day indicator are precomputed per
    * ROW (the fold lambda stays pure arithmetic — DuckDB's deep
    * list_reduce CASE-branch bug never engages), state and elements
    * are both DOUBLE[] so list_reduce type-checks with the prepended
    * init. DuckDB lists are 1-based where Spark arrays are 0-based. */
  val qSnowpack: String = {
    val melt = s"least(a[1] + x[3], ${Climate.SnowpackDdf} * greatest(x[2], 0.0))"
    val sweNew = s"round(a[1] + x[3] - $melt + 1e-9, 4)"
    s"""
    WITH $world,
    t_daily AS (
      SELECT user_id::BIGINT AS station_id, ts::date AS day,
        round(avg(value) + 1e-9, 6) - $TempShift AS t
      FROM events WHERE event_type = 'view' GROUP BY 1, 2),
    joined AS (
      SELECT r.station_id, r.day, coalesce(r.raw, 0.0) AS p,
        coalesce(t.t, 0.0) AS t
      FROM raw_daily r LEFT JOIN t_daily t USING (station_id, day)),
    rows_pt AS (
      SELECT station_id, day, p, t,
        CASE WHEN t < 0.0 THEN p ELSE 0.0 END AS snow,
        CASE WHEN t < 0.0 AND p > 0.0 THEN 1.0 ELSE 0.0 END AS ind
      FROM joined),
    series AS (
      SELECT station_id, CAST(count(*) AS BIGINT) AS n_days,
        list_transform(
          list_sort(list(struct_pack(day := day, p := p, t := t,
            snow := snow, ind := ind))),
          s -> [s.p, s.t, s.snow, s.ind]) AS pt
      FROM rows_pt GROUP BY 1),
    folded AS (
      SELECT station_id, n_days,
        list_reduce(list_prepend([0.0, 0.0, 0.0, 0.0], pt),
          (a, x) -> [
            $sweNew,
            greatest(a[2], $sweNew),
            round(a[3] + $melt + 1e-9, 4),
            a[4] + x[4]]) AS st
      FROM series)
    SELECT station_id, n_days,
      CAST(st[4] AS BIGINT) AS snow_days,
      st[2] AS peak_swe, st[1] AS end_swe, st[3] AS total_melt
    FROM folded ORDER BY station_id"""
  }

  /** Mirrors Climate.scsRunoff: TR-55 curve-number runoff with the
    * deterministic per-station CN. */
  val qScsRunoff: String = s"""
    WITH $world,
    wet AS (
      SELECT station_id, raw,
        25400.0 / (60.0 + CAST(station_id % 40 AS DOUBLE)) - 254.0 AS s
      FROM raw_daily WHERE raw IS NOT NULL AND raw > 0.0),
    q AS (
      SELECT station_id, raw, s, 0.2 * s AS ia,
        CASE WHEN raw > 0.2 * s
          THEN (raw - 0.2 * s) * (raw - 0.2 * s) / (raw - 0.2 * s + s)
          ELSE 0.0 END AS q
      FROM wet),
    agg AS (
      SELECT station_id, CAST(count(*) AS BIGINT) AS n_wet_days,
        CAST(sum(CASE WHEN q > 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_runoff_days,
        round(sum(raw) + 1e-9, 3) AS total_p,
        round(sum(q) + 1e-9, 4) AS total_q
      FROM q GROUP BY 1)
    SELECT station_id, 60.0 + CAST(station_id % 40 AS DOUBLE) AS cn,
      n_wet_days, n_runoff_days, total_p, total_q,
      round(total_q / total_p + 1e-9, 6) AS runoff_coef
    FROM agg ORDER BY station_id"""

  /** Mirrors Climate.lowess: tricube local-linear smoother via the
    * same bounded contribution explode (±7 days, weight from the
    * source−target offset) and WLS-at-zero projection. */
  val qLowess: String = s"""
    WITH $world,
    obs AS (SELECT station_id, day, raw FROM raw_daily WHERE raw IS NOT NULL),
    contrib AS (
      SELECT station_id, day + CAST(o AS INT) AS t,
        CAST(-o AS DOUBLE) AS u, raw,
        pow(1.0 - pow(abs(CAST(-o AS DOUBLE)) / ${Climate.LowessHalf + 1}.0, 3.0), 3.0) AS w
      FROM obs, range(-${Climate.LowessHalf}, ${Climate.LowessHalf + 1}) tt(o)),
    sums AS (
      SELECT station_id, t AS day, CAST(count(*) AS BIGINT) AS n_window,
        sum(w) AS sw, sum(w * u) AS su, sum(w * raw) AS sy,
        sum(w * u * u) AS suu, sum(w * u * raw) AS suy
      FROM contrib GROUP BY 1, 2),
    j AS (
      SELECT o.station_id, o.day, o.raw, s.n_window,
        s.sw * s.suu - s.su * s.su AS denom,
        s.suu * s.sy - s.su * s.suy AS numer
      FROM obs o JOIN sums s USING (station_id, day)),
    sm AS (
      SELECT station_id, day, raw, n_window,
        round(numer / denom + 1e-9, 6) AS smooth
      FROM j WHERE denom > 1e-12)
    SELECT station_id, day, raw, n_window, smooth,
      round(raw - smooth + 1e-9, 6) AS resid
    FROM sm ORDER BY station_id, day"""

  /** Mirrors Climate.kpss: Bartlett long-run variance at lag 4 over
    * the demeaned observed daily series, η = ΣS_t²/(n²s²). */
  val qKpss: String = s"""
    WITH $world,
    obs AS (SELECT station_id, day, raw FROM raw_daily WHERE raw IS NOT NULL),
    mu AS (
      SELECT station_id, round(avg(raw) + 1e-9, 6) AS mu,
        CAST(count(*) AS DOUBLE) AS n
      FROM obs GROUP BY 1 HAVING count(*) >= 6),
    e AS (
      SELECT o.station_id, o.raw - m.mu AS e, m.n,
        sum(o.raw - m.mu) OVER (PARTITION BY o.station_id ORDER BY o.day
          ROWS UNBOUNDED PRECEDING) AS s_t,
        lag(o.raw - m.mu, 1) OVER (PARTITION BY o.station_id ORDER BY o.day) AS e1,
        lag(o.raw - m.mu, 2) OVER (PARTITION BY o.station_id ORDER BY o.day) AS e2,
        lag(o.raw - m.mu, 3) OVER (PARTITION BY o.station_id ORDER BY o.day) AS e3,
        lag(o.raw - m.mu, 4) OVER (PARTITION BY o.station_id ORDER BY o.day) AS e4
      FROM obs o JOIN mu m USING (station_id)),
    agg AS (
      SELECT station_id, max(n) AS n,
        sum(s_t * s_t) AS ss, sum(e * e) AS g0,
        sum(e * e1) AS g1, sum(e * e2) AS g2,
        sum(e * e3) AS g3, sum(e * e4) AS g4
      FROM e GROUP BY 1),
    lrv AS (
      SELECT station_id, n, ss,
        round((g0 + 2.0 * (1.0 - 1.0 / 5.0) * coalesce(g1, 0.0)
                  + 2.0 * (1.0 - 2.0 / 5.0) * coalesce(g2, 0.0)
                  + 2.0 * (1.0 - 3.0 / 5.0) * coalesce(g3, 0.0)
                  + 2.0 * (1.0 - 4.0 / 5.0) * coalesce(g4, 0.0)) / n
          + 1e-9, 6) AS s2_lrv
      FROM agg),
    eta AS (
      SELECT station_id, n, s2_lrv,
        round(ss / (n * n * s2_lrv) + 1e-9, 6) AS eta
      FROM lrv WHERE s2_lrv > 0.0)
    SELECT station_id, CAST(n AS BIGINT) AS n, s2_lrv, eta,
      eta > 0.463 AS rejected_5pct
    FROM eta ORDER BY station_id"""

  /** Mirrors Climate.dickeyFuller: DF(0) regression Δx on (1, x_lag)
    * from closed-form OLS sums. */
  val qAdf: String = s"""
    WITH $world,
    obs AS (
      SELECT station_id, day, raw,
        lag(raw, 1) OVER (PARTITION BY station_id ORDER BY day) AS z
      FROM raw_daily WHERE raw IS NOT NULL),
    d AS (SELECT station_id, raw - z AS y, z FROM obs WHERE z IS NOT NULL),
    s AS (
      SELECT station_id, CAST(count(*) AS DOUBLE) AS n,
        sum(y) AS sy, sum(z) AS sz, sum(y * z) AS syz,
        sum(z * z) AS szz, sum(y * y) AS syy
      FROM d GROUP BY 1 HAVING count(*) >= 10),
    cc AS (
      SELECT station_id, n,
        szz - sz * sz / n AS szz_c,
        syz - sy * sz / n AS syz_c,
        syy - sy * sy / n AS syy_c
      FROM s),
    fit AS (
      SELECT station_id, n, szz_c, syy_c,
        round(syz_c / szz_c + 1e-9, 6) AS rho
      FROM cc WHERE szz_c > 0.0),
    fit2 AS (
      SELECT station_id, n, rho, szz_c,
        syy_c - rho * rho * szz_c AS rss
      FROM fit),
    fit3 AS (
      SELECT station_id, n, rho,
        round(rho / sqrt(rss / (n - 2.0) / szz_c) + 1e-9, 4) AS t_stat
      FROM fit2 WHERE rss > 0.0)
    SELECT station_id, CAST(n AS BIGINT) AS n, rho, t_stat,
      t_stat < -2.86 AS unit_root_rejected
    FROM fit3 ORDER BY station_id"""

  /** Mirrors Climate.engleGranger: two-step cointegration vs the
    * rank-1 nearest neighbor — OLS long-run relation, then the
    * no-intercept DF regression on its residuals. */
  val qCointEg: String = s"""
    WITH $world,
    nearest AS (SELECT station_id, nb_id FROM knn WHERE rank = 1),
    a AS (SELECT station_id, day, raw AS xa FROM raw_daily WHERE raw IS NOT NULL),
    bb AS (SELECT station_id AS nb_id, day, raw AS xb FROM raw_daily WHERE raw IS NOT NULL),
    paired AS (
      SELECT a.station_id, n.nb_id, a.day, a.xa, bb.xb
      FROM a JOIN nearest n USING (station_id) JOIN bb USING (nb_id, day)),
    ols0 AS (
      SELECT station_id, nb_id, CAST(count(*) AS DOUBLE) AS n,
        sum(xa) AS sa, sum(xb) AS sb, sum(xa * xb) AS sab, sum(xb * xb) AS sbb
      FROM paired GROUP BY 1, 2 HAVING count(*) >= 10),
    ols1 AS (
      SELECT station_id, nb_id, n, sa, sb,
        sbb - sb * sb / n AS sbb_c, sab - sa * sb / n AS sab_c
      FROM ols0),
    olsb AS (
      SELECT station_id, nb_id, n, sa, sb,
        round(sab_c / sbb_c + 1e-9, 6) AS beta
      FROM ols1 WHERE sbb_c > 0.0),
    ols2 AS (
      SELECT station_id, nb_id, beta,
        round((sa - beta * sb) / n + 1e-9, 6) AS alpha
      FROM olsb),
    resid AS (
      SELECT p.station_id, p.nb_id, o.alpha, o.beta, p.day,
        p.xa - o.alpha - o.beta * p.xb AS u
      FROM paired p JOIN ols2 o USING (station_id, nb_id)),
    lagd AS (
      SELECT station_id, nb_id, alpha, beta, u,
        lag(u, 1) OVER (PARTITION BY station_id ORDER BY day) AS u_prev
      FROM resid),
    dfr AS (
      SELECT station_id, nb_id, alpha, beta, CAST(count(*) AS DOUBLE) AS n,
        sum(u_prev * (u - u_prev)) AS sud,
        sum(u_prev * u_prev) AS suu,
        sum((u - u_prev) * (u - u_prev)) AS sdd
      FROM lagd WHERE u_prev IS NOT NULL
      GROUP BY 1, 2, 3, 4 HAVING count(*) >= 10),
    fit AS (
      SELECT station_id, nb_id, alpha, beta, n, suu, sdd,
        round(sud / suu + 1e-9, 6) AS rho
      FROM dfr WHERE suu > 0.0),
    fit2 AS (
      SELECT station_id, nb_id, alpha, beta, n, rho, suu,
        sdd - rho * rho * suu AS rss
      FROM fit),
    fit3 AS (
      SELECT station_id, nb_id, n, alpha, beta, rho,
        round(rho / sqrt(rss / (n - 1.0) / suu) + 1e-9, 4) AS t_stat
      FROM fit2 WHERE rss > 0.0)
    SELECT station_id, nb_id, CAST(n AS BIGINT) AS n, alpha, beta, rho,
      t_stat, t_stat < -3.37 AS cointegrated
    FROM fit3 ORDER BY station_id"""

  /** Mirrors Climate.dtwNeighbors: the same Sakoe–Chiba BANDED
    * nested-fold DP (band = 7). Each DP row is only its in-band
    * window; the previous row's offset plo is derived from the row
    * index i (0 for the virtual row 0 = [D(0,0)] = [0.0]);
    * out-of-window reads are 1e18. DuckDB list_reduce has no init
    * argument, so the initial row is prepended to the fold input —
    * the outer items are singleton [i] lists (same DOUBLE[] type as
    * the rows), identical fold order to Spark's aggregate(). */
  val qDtw: String = {
    val W = 7
    // prev row's offset: 0 for the virtual row 0, else max(1, i-1-W)
    val plo = s"(CASE WHEN xe[1] = 1 THEN 0 ELSE greatest(1, CAST(xe[1] AS INT) - 1 - $W) END)"
    val i = "CAST(xe[1] AS INT)"
    s"""
    WITH $world,
    series AS (
      SELECT station_id,
        list(coalesce(raw, 0.0) ORDER BY day) AS xs
      FROM raw_daily GROUP BY 1),
    pairs2 AS (
      SELECT k.station_id, k.nb_id, k.rank, a.xs AS xa, b.xs AS xb
      FROM knn k
      JOIN series a ON a.station_id = k.station_id
      JOIN series b ON b.station_id = k.nb_id),
    dp AS (
      SELECT station_id, nb_id, rank, len(xa) AS n,
        list_reduce(
          list_prepend([0.0::DOUBLE],
            list_transform(range(1, len(xa) + 1), i -> [CAST(i AS DOUBLE)])),
          (prev, xe) ->
            (list_reduce(
              list_prepend([1e18::DOUBLE],
                list_transform(
                  range(greatest(1, $i - $W), least(len(xb), $i + $W) + 1),
                  j -> [abs(xa[$i] - xb[j]),
                    CASE WHEN j - 1 >= $plo
                          AND j - 1 <= $plo + len(prev) - 1
                      THEN prev[j - $plo] ELSE 1e18 END,
                    CASE WHEN j >= $plo
                          AND j <= $plo + len(prev) - 1
                      THEN prev[j - $plo + 1] ELSE 1e18 END])),
              (acc, trip) ->
                list_append(acc, trip[1]
                  + least(trip[2], trip[3], acc[len(acc)]))))[2:]
        ) AS row
      FROM pairs2)
    SELECT station_id, nb_id, rank, CAST(n AS INT) AS n,
      round(row[len(row)] + 1e-9, 4) AS dtw,
      round(row[len(row)] / n + 1e-9, 6) AS dtw_per_step
    FROM dp ORDER BY station_id, rank"""
  }

  /** Mirrors Climate.ohlc: arg_min/arg_max candles over observed
    * hourly values. */
  val qOhlc: String = s"""
    WITH hourly AS (
      SELECT user_id::BIGINT AS station_id, date_trunc('hour', ts) AS hour,
        round(sum(value) + 1e-9, 3) AS raw
      FROM events GROUP BY 1, 2)
    SELECT station_id, hour::date AS day,
      arg_min(raw, hour) AS open,
      max(raw) AS high, min(raw) AS low,
      arg_max(raw, hour) AS close,
      CAST(count(*) AS BIGINT) AS n_obs
    FROM hourly GROUP BY 1, 2 ORDER BY station_id, day"""

  /** Mirrors Climate.diurnalCycle: hour-of-day profile over the
    * dense hourly grid, rn=1 peak flag. */
  val qDiurnalCycle: String = s"""
    WITH stations AS (SELECT DISTINCT user_id::BIGINT AS station_id FROM events),
    hb AS (SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1 FROM events),
    hgrid AS (
      SELECT s.station_id, unnest(generate_series(b.h0, b.h1, INTERVAL 1 HOUR)) AS hour
      FROM stations s, hb b),
    hourly AS (
      SELECT user_id::BIGINT AS station_id, date_trunc('hour', ts) AS hour,
        round(sum(value) + 1e-9, 3) AS raw
      FROM events GROUP BY 1, 2),
    prof AS (
      SELECT g.station_id, hour(g.hour) AS hod,
        CAST(count(*) AS BIGINT) AS n,
        round(avg(coalesce(h.raw, 0.0)) + 1e-9, 6) AS mean_raw
      FROM hgrid g LEFT JOIN hourly h USING (station_id, hour)
      GROUP BY 1, 2),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY station_id
        ORDER BY mean_raw DESC, hod ASC) AS rn
      FROM prof)
    SELECT station_id, hod, n, mean_raw, rn = 1 AS is_peak
    FROM r ORDER BY station_id, hod"""

  /** Mirrors Climate.grubbs: worst standardized deviation per
    * station, earliest day on ties. */
  val qGrubbs: String = s"""
    WITH $world,
    x AS (SELECT station_id, day, coalesce(raw, 0.0) AS x FROM raw_daily),
    m AS (
      SELECT station_id, CAST(count(*) AS BIGINT) AS n,
        round(avg(x) + 1e-9, 6) AS mu,
        round(stddev_samp(x) + 1e-9, 6) AS sd
      FROM x GROUP BY 1),
    ranked AS (
      SELECT x.station_id, m.n, m.mu, m.sd, x.day, x.x,
        row_number() OVER (PARTITION BY x.station_id
          ORDER BY abs(x.x - m.mu) DESC, x.day ASC) AS rn
      FROM x JOIN m USING (station_id) WHERE m.sd > 0.0)
    SELECT station_id, n, mu, sd, day AS peak_day, x AS x_peak,
      round(abs(x - mu) / sd + 1e-9, 4) AS g_stat
    FROM ranked WHERE rn = 1 ORDER BY station_id"""

  /** Mirrors Climate.wetDryMarkov: day-over-day wet/dry transition
    * probabilities per station. */
  val qWetDryMarkov: String = s"""
    WITH $world,
    s AS (
      SELECT station_id, day,
        CAST(coalesce(raw, 0.0) > 0.0 AS INT) AS wet,
        lag(CAST(coalesce(raw, 0.0) > 0.0 AS INT), 1)
          OVER (PARTITION BY station_id ORDER BY day) AS prev_wet
      FROM raw_daily),
    agg AS (
      SELECT station_id, CAST(count(*) AS BIGINT) AS n_trans,
        CAST(sum(wet) AS BIGINT) AS n_wet,
        CAST(sum(CASE WHEN prev_wet = 1 AND wet = 1 THEN 1 ELSE 0 END)
          AS BIGINT) AS n_ww,
        CAST(sum(prev_wet) AS BIGINT) AS n_from_wet,
        CAST(sum(CASE WHEN prev_wet = 0 AND wet = 1 THEN 1 ELSE 0 END)
          AS BIGINT) AS n_dw
      FROM s WHERE prev_wet IS NOT NULL GROUP BY 1)
    SELECT station_id, n_trans, n_wet, n_ww, n_dw,
      round(n_wet / CAST(n_trans AS DOUBLE) + 1e-9, 6) AS p_wet,
      CASE WHEN n_from_wet > 0
        THEN round(n_ww / CAST(n_from_wet AS DOUBLE) + 1e-9, 6)
      END AS p_w_given_w,
      CASE WHEN n_trans > n_from_wet
        THEN round(n_dw / CAST(n_trans - n_from_wet AS DOUBLE) + 1e-9, 6)
      END AS p_w_given_d
    FROM agg ORDER BY station_id"""

  /** Mirrors Climate.olsTrend: closed-form OLS of the zero-filled
    * daily series on the day index from the five sufficient sums. */
  val qOlsTrend: String = s"""
    WITH $world,
    xy AS (
      SELECT station_id,
        datediff('day', min(day) OVER (PARTITION BY station_id), day)::DOUBLE AS t,
        coalesce(raw, 0.0) AS yv
      FROM raw_daily),
    sums AS (
      SELECT station_id, CAST(count(*) AS BIGINT) AS n,
        sum(t) AS sx, sum(yv) AS sy, sum(t*t) AS sxx, sum(yv*yv) AS syy,
        sum(t*yv) AS sxy
      FROM xy GROUP BY 1),
    d AS (
      SELECT *, n*sxx - sx*sx AS detx, n*syy - sy*sy AS dety FROM sums),
    sl AS (
      SELECT *, CASE WHEN detx > 0.0
        THEN round((n*sxy - sx*sy) / detx + 1e-9, 6) END AS slope
      FROM d)
    SELECT station_id, n, slope,
      round((sy - slope * sx) / n + 1e-9, 4) AS intercept,
      CASE WHEN detx > 0.0 AND dety > 0.0
           THEN round((n*sxy - sx*sy) * (n*sxy - sx*sy) / (detx * dety)
             + 1e-9, 6) END AS r2
    FROM sl ORDER BY station_id"""

  /** Mirrors Climate.hurstRs: complete-block R/S over the dense
    * hourly series at sizes 24/48/96, log–log slope. */
  val qHurst: String = s"""
    WITH stations AS (SELECT DISTINCT user_id::BIGINT AS station_id FROM events),
    hb AS (SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1 FROM events),
    hgrid AS (
      SELECT s.station_id, unnest(generate_series(b.h0, b.h1, INTERVAL 1 HOUR)) AS hour
      FROM stations s, hb b),
    hourly AS (
      SELECT user_id::BIGINT AS station_id, date_trunc('hour', ts) AS hour,
        round(sum(value) + 1e-9, 3) AS raw
      FROM events GROUP BY 1, 2),
    hseries AS (
      SELECT g.station_id, g.hour, coalesce(h.raw, 0.0) AS yv,
        epoch(g.hour)::BIGINT // 3600
          - min(epoch(g.hour)::BIGINT // 3600) OVER (PARTITION BY g.station_id)
          AS idx
      FROM hgrid g LEFT JOIN hourly h USING (station_id, hour)),
    exploded AS (
      SELECT station_id, yv, idx, bs, idx // bs AS blk
      FROM hseries, unnest([24, 48, 96]) AS t(bs)),
    stats AS (
      SELECT station_id, bs, blk, count(*) AS n_in,
        round(avg(yv) + 1e-9, 6) AS mu,
        round(stddev_pop(yv) + 1e-9, 6) AS sd
      FROM exploded GROUP BY 1, 2, 3
      HAVING count(*) = bs AND round(stddev_pop(yv) + 1e-9, 6) > 0.0),
    cum AS (
      SELECT e.station_id, e.bs, e.blk, s.sd,
        sum(e.yv - s.mu) OVER (PARTITION BY e.station_id, e.bs, e.blk
          ORDER BY e.idx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS c
      FROM exploded e JOIN stats s USING (station_id, bs, blk)),
    rs AS (
      SELECT station_id, bs, blk, sd, max(c) - min(c) AS r
      FROM cum GROUP BY 1, 2, 3, 4),
    per_size AS (
      SELECT station_id, bs, round(avg(r / sd) + 1e-9, 6) AS mean_rs
      FROM rs GROUP BY 1, 2
      HAVING round(avg(r / sd) + 1e-9, 6) > 0.0),
    ll AS (
      SELECT station_id, ln(bs::DOUBLE) AS lx, ln(mean_rs) AS ly
      FROM per_size),
    fit AS (
      SELECT station_id, CAST(count(*) AS BIGINT) AS n_sizes,
        sum(lx) AS sx, sum(ly) AS sy, sum(lx*lx) AS sxx, sum(lx*ly) AS sxy
      FROM ll GROUP BY 1 HAVING count(*) > 1)
    SELECT station_id, n_sizes,
      round((n_sizes * sxy - sx * sy) / (n_sizes * sxx - sx * sx) + 1e-9, 4)
        AS hurst
    FROM fit ORDER BY station_id"""

  /** Mirrors Climate.diurnalRange: monthly mean/max of the daily
    * (t_max − t_min) spread over the dense extrema grid. */
  val qDtr: String = s"""
    WITH $world,
    tmm AS (
      SELECT user_id::BIGINT AS station_id, ts::date AS day,
        round(min(value) + 1e-9, 3) - $TempShift AS t_min,
        round(max(value) + 1e-9, 3) - $TempShift AS t_max
      FROM events WHERE event_type = 'view' GROUP BY 1, 2),
    tg AS (
      SELECT g.station_id, g.day, t.t_min, t.t_max
      FROM grid g LEFT JOIN tmm t USING (station_id, day))
    SELECT station_id, date_trunc('month', day)::date AS mon,
      CAST(count(*) AS BIGINT) AS n_days,
      round(avg(t_max - t_min) + 1e-9, 4) AS mean_dtr,
      round(max(t_max - t_min) + 1e-9, 3) AS max_dtr
    FROM tg WHERE t_min IS NOT NULL
    GROUP BY 1, 2 ORDER BY station_id, mon"""

  /** Mirrors Climate.neighborCorr: Pearson r per knn pair from the
    * five sufficient sums over the zero-filled daily series. */
  val qNeighborCorr: String = s"""
    WITH $world,
    x AS (SELECT station_id, day, coalesce(raw, 0.0) AS x FROM raw_daily),
    j AS (
      SELECT k.station_id, k.nb_id, k.rank, a.day, a.x, b.x AS y
      FROM knn k
      JOIN x a ON a.station_id = k.station_id
      JOIN x b ON b.station_id = k.nb_id AND b.day = a.day),
    sums AS (
      SELECT station_id, nb_id, rank, count(*) AS n,
        sum(x) AS sx, sum(y) AS sy, sum(x*x) AS sxx, sum(y*y) AS syy,
        sum(x*y) AS sxy
      FROM j GROUP BY 1, 2, 3),
    d AS (
      SELECT *, n*sxx - sx*sx AS detx, n*syy - sy*sy AS dety FROM sums)
    SELECT station_id, nb_id, rank, n,
      CASE WHEN detx > 0.0 AND dety > 0.0
           THEN round((n*sxy - sx*sy) / sqrt(detx * dety) + 1e-9, 6)
      END AS r
    FROM d ORDER BY station_id, rank"""

  /** Mirrors Aggregate.nearestTimeJoin: prior/following view via
    * ignore-nulls running extremes on the (ts, event_id) order,
    * nearest within tolerance, tie → prior. */
  val qNearestTime: String = """
    WITH base AS (
      SELECT event_id, user_id, ts, event_type, epoch_us(ts) AS t_us,
        CASE WHEN event_type = 'view' THEN epoch_us(ts) END AS v_t,
        CASE WHEN event_type = 'view' THEN event_id END AS v_id
      FROM events),
    nbr AS (
      SELECT *,
        last_value(v_t IGNORE NULLS) OVER wp AS pv_t,
        last_value(v_id IGNORE NULLS) OVER wp AS pv_id,
        first_value(v_t IGNORE NULLS) OVER wn AS nv_t,
        first_value(v_id IGNORE NULLS) OVER wn AS nv_id
      FROM base
      WINDOW wp AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             wn AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)),
    clicks AS (
      SELECT event_id, user_id, ts,
        t_us - pv_t AS d_prev, nv_t - t_us AS d_next, pv_id, nv_id
      FROM nbr WHERE event_type = 'click'),
    flags AS (
      SELECT *,
        (d_prev IS NOT NULL AND d_prev <= 1800000000) AS use_prev,
        (d_next IS NOT NULL AND d_next <= 1800000000) AS use_next
      FROM clicks),
    sel AS (
      SELECT *,
        (use_prev AND (NOT use_next OR d_prev <= d_next)) AS from_prev
      FROM flags)
    SELECT event_id, user_id, ts,
      CASE WHEN from_prev THEN pv_id
           WHEN use_next THEN nv_id END AS matched_view_id,
      from_prev,
      CASE WHEN from_prev THEN round(d_prev / 1e6 + 1e-9, 3)
           WHEN use_next THEN round(d_next / 1e6 + 1e-9, 3) END AS diff_s
    FROM sel ORDER BY event_id"""

  /** Mirrors Climate.availability: monthly observed share + missing
    * gaps-and-islands per station. */
  val qAvailability: String = s"""
    WITH $world,
    base AS (
      SELECT station_id, date_trunc('month', day)::date AS month, day, raw
      FROM raw_daily),
    runs AS (
      SELECT station_id, month, grp, count(*) AS run_len FROM (
        SELECT station_id, month, day,
          datediff('day', DATE '1970-01-01', day)
            - row_number() OVER (PARTITION BY station_id, month
                                 ORDER BY day) AS grp
        FROM base WHERE raw IS NULL)
      GROUP BY 1, 2, 3),
    gaps AS (
      SELECT station_id, month, max(run_len) AS max_outage,
        count(*) AS n_gaps
      FROM runs GROUP BY 1, 2),
    census AS (
      SELECT station_id, month, count(*) AS n_days, count(raw) AS n_obs
      FROM base GROUP BY 1, 2)
    SELECT c.station_id, c.month, c.n_days, c.n_obs,
      round(c.n_obs / c.n_days::DOUBLE + 1e-9, 6) AS availability,
      coalesce(g.n_gaps, 0) AS n_gaps,
      coalesce(g.max_outage, 0) AS max_outage
    FROM census c LEFT JOIN gaps g USING (station_id, month)
    ORDER BY c.station_id, c.month"""

  /** Mirrors Climate.koppen: monthly t/p climatologies, Peel-order
    * rule chain on 4-dp quantized values. */
  val qKoppen: String = s"""
    WITH $world,
    t_stats AS (
      SELECT user_id::BIGINT AS station_id, ts::date AS day,
        round(avg(value) + 1e-9, 6) - $TempShift AS t
      FROM events WHERE event_type = 'view' GROUP BY 1, 2),
    t_clim AS (
      SELECT station_id, month(day) AS mon, round(avg(t) + 1e-9, 4) AS t_clim
      FROM t_stats GROUP BY 1, 2),
    p_clim AS (
      SELECT station_id, month(day) AS mon,
        round(avg(coalesce(raw, 0.0)) * 30.0 + 1e-9, 4) AS p_mon
      FROM raw_daily GROUP BY 1, 2),
    m AS (
      SELECT t.station_id, t.mon, t.t_clim, p.p_mon
      FROM t_clim t JOIN p_clim p USING (station_id, mon)),
    s AS (
      SELECT station_id,
        round(avg(t_clim) + 1e-9, 4) AS t_ann,
        min(t_clim) AS t_cold, max(t_clim) AS t_hot,
        CAST(sum(CASE WHEN t_clim >= 10.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_warm,
        round(sum(p_mon) + 1e-9, 4) AS p_ann,
        min(p_mon) AS p_dry,
        round(sum(CASE WHEN mon BETWEEN 4 AND 9 THEN p_mon ELSE 0.0 END)
          + 1e-9, 4) AS p_summer,
        min(CASE WHEN mon BETWEEN 4 AND 9 THEN p_mon END) AS ps_dry,
        max(CASE WHEN mon BETWEEN 4 AND 9 THEN p_mon END) AS ps_wet,
        min(CASE WHEN mon NOT BETWEEN 4 AND 9 THEN p_mon END) AS pw_dry,
        max(CASE WHEN mon NOT BETWEEN 4 AND 9 THEN p_mon END) AS pw_wet
      FROM m GROUP BY 1),
    c AS (
      SELECT *,
        2.0 * t_ann + CASE WHEN p_summer / p_ann >= 0.7 THEN 28.0
                           WHEN p_summer / p_ann >= 0.3 THEN 14.0
                           ELSE 0.0 END AS pth
      FROM s),
    k AS (
      SELECT *,
        CASE WHEN p_ann < 10.0 * pth THEN 'B'
             WHEN t_hot < 10.0 THEN 'E'
             WHEN t_cold >= 18.0 THEN 'A'
             WHEN t_cold > 0.0 THEN 'C'
             ELSE 'D' END AS main
      FROM c)
    SELECT station_id, t_ann, t_cold, t_hot, p_ann, p_dry,
      main || CASE
        WHEN main = 'B' THEN
          (CASE WHEN p_ann < 5.0 * pth THEN 'W' ELSE 'S' END)
          || (CASE WHEN t_ann >= 18.0 THEN 'h' ELSE 'k' END)
        WHEN main = 'E' THEN CASE WHEN t_hot > 0.0 THEN 'T' ELSE 'F' END
        WHEN main = 'A' THEN
          CASE WHEN p_dry >= 60.0 THEN 'f'
               WHEN p_dry >= 100.0 - p_ann / 25.0 THEN 'm'
               ELSE 'w' END
        ELSE
          (CASE WHEN ps_dry < 40.0 AND ps_dry < pw_wet / 3.0 THEN 's'
                WHEN pw_dry < ps_wet / 10.0 THEN 'w'
                ELSE 'f' END)
          || (CASE WHEN t_hot >= 22.0 THEN 'a'
                   WHEN n_warm >= 4 THEN 'b' ELSE 'c' END)
      END AS koppen
    FROM k ORDER BY station_id"""

  /** Mirrors Climate.etHargreaves: FAO-56 Ra from latitude +
    * day-of-year, Hargreaves–Samani ET0. Identical double arithmetic;
    * the 4-dp round + 1e-9 nudge absorbs last-ulp libm differences. */
  val qEtHargreaves: String = s"""
    WITH $world,
    t_stats AS (
      SELECT user_id::BIGINT AS station_id, ts::date AS day,
        round(avg(value) + 1e-9, 6) - $TempShift AS t,
        round(min(value) + 1e-9, 3) - $TempShift AS t_min,
        round(max(value) + 1e-9, 3) - $TempShift AS t_max
      FROM events WHERE event_type = 'view' GROUP BY 1, 2),
    j AS (
      SELECT g.station_id, g.day, t.t, t.t_min, t.t_max, m.y,
        date_part('doy', g.day) * 2.0 * 3.141592653589793 / 365.0 AS ang,
        radians(10.0 + (m.y % 10.0) * 4.0) AS phi
      FROM grid g
      LEFT JOIN t_stats t USING (station_id, day)
      JOIN meta m USING (station_id)),
    trig AS (
      SELECT *, 0.409 * sin(ang - 1.39) AS delta,
        1.0 + 0.033 * cos(ang) AS dr
      FROM j),
    rad AS (
      SELECT *, acos(-tan(phi) * tan(delta)) AS ws FROM trig),
    ra_t AS (
      SELECT *, ${24.0 * 60.0 / math.Pi * 0.0820} * dr *
        (ws * sin(phi) * sin(delta) + cos(phi) * cos(delta) * sin(ws)) AS ra
      FROM rad)
    SELECT station_id, day, t, t_min, t_max,
      round(ra + 1e-9, 4) AS ra,
      CASE WHEN t IS NOT NULL AND t_min IS NOT NULL
           THEN round(0.0023 * (t + 17.8)
                * sqrt(greatest(t_max - t_min, 0.0)) * ra / 2.45 + 1e-9, 4)
      END AS et0
    FROM ra_t ORDER BY station_id, day"""

  /** Mirrors Climate.monthlyExtremes: earliest-day argmax/argmin per
    * (station, month) via ranked windows. */
  val qMonthlyExtremes: String = s"""
    WITH $world,
    obs AS (
      SELECT station_id, date_trunc('month', day)::date AS month, day, raw
      FROM raw_daily WHERE raw IS NOT NULL),
    mx AS (
      SELECT station_id, month, raw AS max_raw, day AS max_day FROM (
        SELECT *, row_number() OVER (PARTITION BY station_id, month
          ORDER BY raw DESC, day ASC) AS rn FROM obs) WHERE rn = 1),
    mn AS (
      SELECT station_id, month, raw AS min_raw, day AS min_day FROM (
        SELECT *, row_number() OVER (PARTITION BY station_id, month
          ORDER BY raw ASC, day ASC) AS rn FROM obs) WHERE rn = 1),
    census AS (
      SELECT station_id, month, count(*) AS n_obs FROM obs GROUP BY 1, 2)
    SELECT c.station_id, c.month, c.n_obs, x.max_raw, x.max_day,
      n.min_raw, n.min_day
    FROM census c
    JOIN mx x USING (station_id, month)
    JOIN mn n USING (station_id, month)
    ORDER BY c.station_id, c.month"""

  /** Mirrors Climate.climatologyBands: exact interpolated percentile
    * envelope per (station, calendar month). */
  val qClimatologyBands: String = s"""
    WITH $world
    SELECT station_id, month(day) AS moy, count(*) AS n_obs,
      round(quantile_cont(raw, 0.1) + 1e-9, 6) AS p10,
      round(quantile_cont(raw, 0.5) + 1e-9, 6) AS p50,
      round(quantile_cont(raw, 0.9) + 1e-9, 6) AS p90
    FROM raw_daily WHERE raw IS NOT NULL
    GROUP BY 1, 2 ORDER BY station_id, moy"""

  /** Mirrors Climate.heatWaves: hot-day gaps-and-islands with the
    * min-length filter per (station, year). */
  val qHeatWaves: String = s"""
    WITH $world,
    t_stats AS (
      SELECT user_id::BIGINT AS station_id, ts::date AS day,
        round(max(value) + 1e-9, 3) - $TempShift AS t_max
      FROM events WHERE event_type = 'view' GROUP BY 1, 2),
    tg AS (
      SELECT g.station_id, year(g.day) AS yr, g.day, t.t_max
      FROM grid g LEFT JOIN t_stats t USING (station_id, day)),
    runs AS (
      SELECT station_id, yr, grp, count(*) AS run_len FROM (
        SELECT station_id, yr, day,
          datediff('day', DATE '1970-01-01', day)
            - row_number() OVER (PARTITION BY station_id, yr
                                 ORDER BY day) AS grp
        FROM tg WHERE t_max > 25.0)
      GROUP BY 1, 2, 3 HAVING count(*) >= 3),
    waves AS (
      SELECT station_id, yr, count(*) AS n_waves,
        CAST(sum(run_len) AS BIGINT) AS wave_days,
        max(run_len) AS longest_wave
      FROM runs GROUP BY 1, 2),
    census AS (
      SELECT station_id, yr, count(t_max) AS n_obs FROM tg GROUP BY 1, 2)
    SELECT c.station_id, c.yr, c.n_obs,
      coalesce(w.n_waves, 0) AS n_waves,
      coalesce(w.wave_days, 0) AS wave_days,
      coalesce(w.longest_wave, 0) AS longest_wave
    FROM census c LEFT JOIN waves w USING (station_id, yr)
    ORDER BY c.station_id, c.yr"""

  /** Mirrors Climate.idfCurve: five trailing hourly frames, complete
    * windows only, per-station maxima stacked by duration. */
  val qIdfCurve: String = {
    val durations = Seq(1, 3, 6, 12, 24)
    val accCols = durations.map { d =>
      s"""CASE WHEN count(*) OVER (win ROWS BETWEEN ${d - 1} PRECEDING
            AND CURRENT ROW) = $d
          THEN round(sum(coalesce(raw, 0.0)) OVER (win ROWS BETWEEN
            ${d - 1} PRECEDING AND CURRENT ROW) + 1e-9, 3) END AS acc$d"""
    }.mkString(",\n        ")
    val maxCols = durations.map(d => s"max(acc$d) AS max$d").mkString(", ")
    val stacked = durations.map(d =>
      s"SELECT station_id, $d AS duration_h, max$d AS max_acc FROM agg")
      .mkString("\n      UNION ALL\n      ")
    s"""
    WITH hourly_e AS (
      SELECT user_id::BIGINT AS station_id,
        date_trunc('hour', ts) AS hour, round(sum(value) + 1e-9, 3) AS raw
      FROM events GROUP BY 1, 2),
    hb AS (SELECT date_trunc('hour', min(ts)) AS h0,
                  date_trunc('hour', max(ts)) AS h1 FROM events),
    hgrid AS (
      SELECT s.station_id,
        unnest(generate_series(b.h0, b.h1, INTERVAL 1 HOUR)) AS hour
      FROM (SELECT DISTINCT user_id::BIGINT AS station_id FROM events) s,
        hb b),
    hourly AS (
      SELECT g.station_id, g.hour, h.raw
      FROM hgrid g LEFT JOIN hourly_e h USING (station_id, hour)),
    acc AS (
      SELECT station_id,
        $accCols
      FROM hourly
      WINDOW win AS (PARTITION BY station_id ORDER BY hour)),
    agg AS (SELECT station_id, $maxCols FROM acc GROUP BY 1)
    SELECT station_id, duration_h, max_acc FROM (
      $stacked)
    ORDER BY station_id, duration_h"""
  }

  /** Mirrors Climate.apiIndex: k^i-weighted trailing lags; weights
    * are the same Scala-computed double literals the Spark plan
    * embeds. */
  val qApiIndex: String = {
    val k = 0.9; val memory = 14
    val terms = (0 until memory).map { i =>
      s"coalesce(lag(coalesce(raw, 0.0), $i) OVER win, 0.0) * ${math.pow(k, i)}"
    }.mkString(" + ")
    s"""
    WITH $world
    SELECT station_id, day, raw,
      round($terms + 1e-9, 4) AS api
    FROM raw_daily
    WINDOW win AS (PARTITION BY station_id ORDER BY day)
    ORDER BY station_id, day"""
  }

  /** Mirrors Climate.theilSen: median of pairwise slopes over the
    * weekly-aggregated series. */
  val qTheilSen: String = s"""
    WITH $world,
    trend_w AS (
      SELECT station_id, date_trunc('week', day)::date AS day,
        round(avg(raw) + 1e-9, 6) AS p
      FROM raw_daily WHERE raw IS NOT NULL GROUP BY 1, 2),
    obs AS (
      SELECT station_id,
        datediff('day', DATE '1970-01-01', day) AS t, p
      FROM trend_w),
    pr AS (
      SELECT a.station_id, (b.p - a.p) / (b.t - a.t) AS slope
      FROM obs a JOIN obs b
        ON a.station_id = b.station_id AND a.t < b.t)
    SELECT station_id, count(*) AS n_pairs,
      round(quantile_cont(slope, 0.5) + 1e-9, 6) AS sen_slope
    FROM pr GROUP BY 1 ORDER BY station_id"""

  /** Mirrors Climate.runsTest: above/below-median run census with
    * the normal-approximation moments. */
  val qRunsTest: String = s"""
    WITH $world,
    med_t AS (
      SELECT station_id, round(quantile_cont(raw, 0.5) + 1e-9, 6) AS med
      FROM raw_daily WHERE raw IS NOT NULL GROUP BY 1),
    signed AS (
      SELECT r.station_id, r.day,
        CASE WHEN r.raw > m.med THEN 1 ELSE 0 END AS up
      FROM raw_daily r JOIN med_t m USING (station_id)
      WHERE r.raw IS NOT NULL AND r.raw <> m.med),
    chg AS (
      SELECT station_id,
        CASE WHEN lag(up, 1) OVER win IS NULL
              OR lag(up, 1) OVER win <> up THEN 1 ELSE 0 END AS chg, up
      FROM signed
      WINDOW win AS (PARTITION BY station_id ORDER BY day)),
    agg AS (
      SELECT station_id, CAST(sum(chg) AS BIGINT) AS n_runs,
        CAST(sum(up) AS BIGINT) AS n1,
        CAST(sum(1 - up) AS BIGINT) AS n2
      FROM chg GROUP BY 1),
    m AS (
      SELECT *, n1 + n2 AS n,
        round(2.0 * n1 * n2 / (n1 + n2) + 1.0 + 1e-9, 6) AS e_runs,
        CASE WHEN n1 + n2 > 1
             THEN round(2.0 * n1 * n2 * (2.0 * n1 * n2 - (n1 + n2))
                  / ((n1 + n2) * (n1 + n2) * ((n1 + n2) - 1.0)) + 1e-9, 6)
        END AS var_runs
      FROM agg)
    SELECT station_id, n1, n2, n_runs, e_runs, var_runs,
      CASE WHEN var_runs > 0.0
           THEN round((n_runs - e_runs) / sqrt(var_runs) + 1e-9, 4)
      END AS z
    FROM m ORDER BY station_id"""

  /** Mirrors Climate.seasonalDecompose: centered 29-day MA trend,
    * month-of-year mean of the detrended series, residual. */
  val qSeasonalDecompose: String = s"""
    WITH $world,
    base AS (
      SELECT station_id, day, month(day) AS moy, coalesce(raw, 0.0) AS x
      FROM raw_daily),
    tr AS (
      SELECT station_id, day, moy, x,
        CASE WHEN count(*) OVER win = 29
             THEN round(avg(x) OVER win + 1e-9, 6) END AS trend
      FROM base
      WINDOW win AS (PARTITION BY station_id ORDER BY day
                     ROWS BETWEEN 14 PRECEDING AND 14 FOLLOWING)),
    seas AS (
      SELECT station_id, moy,
        round(avg(x - trend) + 1e-9, 6) AS seasonal
      FROM tr WHERE trend IS NOT NULL GROUP BY 1, 2)
    SELECT t.station_id, t.day, t.x, t.trend, s.seasonal,
      CASE WHEN t.trend IS NOT NULL AND s.seasonal IS NOT NULL
           THEN round(t.x - t.trend - s.seasonal + 1e-9, 4) END AS resid
    FROM tr t LEFT JOIN seas s USING (station_id, moy)
    ORDER BY t.station_id, t.day"""

  /** Mirrors Climate.precipIndices: R10/R20/SDII counts + CWD run
    * census per (station, year). */
  val qPrecipIndices: String = s"""
    WITH $world,
    base AS (
      SELECT station_id, year(day) AS yr, day,
        coalesce(raw, 0.0) AS x
      FROM raw_daily),
    counts AS (
      SELECT station_id, yr, CAST(count(*) AS BIGINT) AS n_days,
        CAST(sum(CASE WHEN x >= 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS wet_days,
        CAST(sum(CASE WHEN x >= 10.0 THEN 1 ELSE 0 END) AS BIGINT) AS r10mm,
        CAST(sum(CASE WHEN x >= 20.0 THEN 1 ELSE 0 END) AS BIGINT) AS r20mm,
        sum(CASE WHEN x >= 1.0 THEN x ELSE 0.0 END) AS wet_sum
      FROM base GROUP BY 1, 2),
    wet AS (
      SELECT station_id, yr, day,
        datediff('day', DATE '1970-01-01', day)
          - row_number() OVER (PARTITION BY station_id, yr ORDER BY day)
          AS grp
      FROM base WHERE x >= 1.0),
    runs AS (
      SELECT station_id, yr, grp, CAST(count(*) AS BIGINT) AS run_len
      FROM wet GROUP BY 1, 2, 3),
    cwd AS (
      SELECT station_id, yr, max(run_len) AS cwd FROM runs GROUP BY 1, 2)
    SELECT c.station_id, c.yr, c.n_days, c.wet_days, c.r10mm, c.r20mm,
      CASE WHEN c.wet_days > 0
        THEN round(c.wet_sum / c.wet_days + 1e-9, 4) END AS sdii,
      coalesce(w.cwd, 0) AS cwd
    FROM counts c LEFT JOIN cwd w USING (station_id, yr)
    ORDER BY c.station_id, c.yr"""

  /** Mirrors Climate.txTnPercentile: whole-record percentile
    * thresholds, exceedance shares. */
  val qTxTnPercentile: String = s"""
    WITH $world,
    tmm AS (
      SELECT user_id::BIGINT AS station_id, ts::date AS day,
        round(min(value) + 1e-9, 3) - $TempShift AS t_min,
        round(max(value) + 1e-9, 3) - $TempShift AS t_max
      FROM events WHERE event_type = 'view' GROUP BY 1, 2),
    obs AS (
      SELECT g.station_id, g.day, t.t_min, t.t_max
      FROM grid g JOIN tmm t USING (station_id, day)
      WHERE t.t_min IS NOT NULL),
    th AS (
      SELECT station_id,
        round(quantile_cont(t_max, 0.9) + 1e-9, 6) AS tx90,
        round(quantile_cont(t_min, 0.1) + 1e-9, 6) AS tn10
      FROM obs GROUP BY 1),
    agg AS (
      SELECT o.station_id, th.tx90, th.tn10,
        CAST(count(*) AS BIGINT) AS n_days,
        CAST(sum(CASE WHEN o.t_max > th.tx90 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_tx90p,
        CAST(sum(CASE WHEN o.t_min < th.tn10 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_tn10p
      FROM obs o JOIN th USING (station_id) GROUP BY 1, 2, 3)
    SELECT station_id, n_days, tx90, tn10, n_tx90p, n_tn10p,
      round(n_tx90p / CAST(n_days AS DOUBLE) + 1e-9, 6) AS tx90p_share,
      round(n_tn10p / CAST(n_days AS DOUBLE) + 1e-9, 6) AS tn10p_share
    FROM agg ORDER BY station_id"""

  /** Mirrors Climate.seasonalStrength: variance decomposition over
    * the complete-trend rows of the decompose frame. */
  val qSeasonalStrength: String = s"""
    WITH $world,
    base AS (
      SELECT station_id, day, month(day) AS moy, coalesce(raw, 0.0) AS x
      FROM raw_daily),
    tr AS (
      SELECT station_id, day, moy, x,
        CASE WHEN count(*) OVER win = 29
             THEN round(avg(x) OVER win + 1e-9, 6) END AS trend
      FROM base
      WINDOW win AS (PARTITION BY station_id ORDER BY day
                     ROWS BETWEEN 14 PRECEDING AND 14 FOLLOWING)),
    seas AS (
      SELECT station_id, moy,
        round(avg(x - trend) + 1e-9, 6) AS seasonal
      FROM tr WHERE trend IS NOT NULL GROUP BY 1, 2),
    dec AS (
      SELECT t.station_id, t.x, t.trend, s.seasonal,
        CASE WHEN t.trend IS NOT NULL AND s.seasonal IS NOT NULL
             THEN round(t.x - t.trend - s.seasonal + 1e-9, 4) END AS resid
      FROM tr t LEFT JOIN seas s USING (station_id, moy)),
    v AS (
      SELECT station_id, CAST(count(*) AS BIGINT) AS n,
        round(var_pop(resid) + 1e-9, 6) AS v_r,
        round(var_pop(x - seasonal) + 1e-9, 6) AS v_tr,
        round(var_pop(x - trend) + 1e-9, 6) AS v_sr
      FROM dec WHERE resid IS NOT NULL GROUP BY 1)
    SELECT station_id, n, v_r,
      CASE WHEN v_tr > 0.0
        THEN round(greatest(0.0, 1.0 - v_r / v_tr) + 1e-9, 6) END AS f_trend,
      CASE WHEN v_sr > 0.0
        THEN round(greatest(0.0, 1.0 - v_r / v_sr) + 1e-9, 6) END AS f_seasonal
    FROM v ORDER BY station_id"""

  val all: Map[String, String] = Map(
    "q_seasonal_decompose" -> qSeasonalDecompose,
    "q_seasonal_strength" -> qSeasonalStrength,
    "q_precip_indices" -> qPrecipIndices,
    "q_txtn_percentile" -> qTxTnPercentile,
    "q_theil_sen" -> qTheilSen,
    "q_geom_wkt" -> qGeomWkt,
    "q_geom_wgs84" -> qGeomWgs84,
    "q_runs_test" -> qRunsTest,
    "q_idf_curve" -> qIdfCurve,
    "q_api_index" -> qApiIndex,
    "q_heat_waves" -> qHeatWaves,
    "q_climatology_bands" -> qClimatologyBands,
    "q_monthly_extremes" -> qMonthlyExtremes,
    "q_availability" -> qAvailability,
    "q_et_hargreaves" -> qEtHargreaves,
    "q_neighbor_corr" -> qNeighborCorr,
    "q_nearest_time" -> qNearestTime,
    "q_frost_days" -> qFrostDays,
    "q_rx5day" -> qRx5day,
    "q_r95p" -> qR95p,
    "q_climatology" -> qClimatology,
    "q_lapse_rate" -> qLapseRate,
    "q_acf" -> qAcf,
    "q_ljung_box" -> qLjungBox,
    "q_spearman" -> qSpearman,
    "q_ols_trend" -> qOlsTrend,
    "q_hurst" -> qHurst,
    "q_dtr" -> qDtr,
    "q_grubbs" -> qGrubbs,
    "q_wet_dry_markov" -> qWetDryMarkov,
    "q_diurnal_cycle" -> qDiurnalCycle,
    "q_ohlc" -> qOhlc,
    "q_dtw" -> qDtw,
    "q_gumbel" -> qGumbel,
    "q_gev_lmoments" -> qGevLmoments,
    "q_lowess" -> qLowess,
    "q_snowpack" -> qSnowpack,
    "q_solar_ra" -> qSolarRa,
    "q_quantile_mapping" -> qQuantileMapping,
    "q_esd_outliers" -> qEsdOutliers,
    "q_periodogram_daily" -> qPeriodogramDaily,
    "q_flood_seasonality" -> qFloodSeasonality,
    "q_budyko" -> qBudyko,
    "q_weibull_fit" -> qWeibullFit,
    "q_scs_runoff" -> qScsRunoff,
    "q_kpss" -> qKpss,
    "q_adf" -> qAdf,
    "q_coint_eg" -> qCointEg,
    "q_sn_scale" -> qSnScale,
    "q_bh_fdr" -> qBhFdr,
    "q_harmonic" -> qHarmonic,
    "q_pot_gpd" -> qPotGpd,
    "q_variogram" -> qVariogram,
    "q_assortativity" -> qAssortativity,
    "q_link_prediction" -> qLinkPrediction,
    "q_label_propagation" -> qLabelPropagation,
    "q_knn_hubness" -> qKnnHubness,
    "q_koppen" -> qKoppen,
    "q_bfs_layers" -> qBfsLayers,
    "q_hits" -> qHits,
    "q_granger" -> qGranger,
    "q_hw_skill" -> qHwSkill,
    "q_viterbi_regimes" -> qViterbiRegimes,
    "q_conformal" -> qConformal,
    "q_jarque_bera" -> qJarqueBera,
    "q_durbin_watson" -> qDurbinWatson,
    "q_yule_walker" -> qYuleWalker,
    "q_kendall_binned" -> qKendallBinned,
    "q_rsi" -> qRsi,
    "q_bootstrap_ci" -> qBootstrapCi,
    "q_concurrency" -> qConcurrency,
    "q_geary_c" -> qGearyC,
    "q_field_significance" -> qFieldSignificance,
    "q_eb_shrinkage" -> qEbShrinkage,
    "q_flow_duration" -> qFlowDuration,
    "q_spectral_entropy" -> qSpectralEntropy,
    "q_mi_binned" -> qMiBinned,
    "q_idw_grid" -> qIdwGrid,
    "q_pot_decluster" -> qPotDecluster,
    "q_baseflow" -> qBaseflow,
    "q_wilcoxon_signed" -> qWilcoxonSigned,
    "q_friedman" -> qFriedman,
    "q_rain_erosivity" -> qRainErosivity,
    "q_tail_dependence" -> qTailDependence,
    "q_effective_n" -> qEffectiveN,
    "q_kcore" -> qKcore,
    "q_modularity" -> qModularity,
    "q_getis_ord" -> qGetisOrd,
    "q_morans_i" -> qMoransI,
    "q_local_moran" -> qLocalMoran,
    "q_geo_cells" -> qGeoCells,
    "q_pet_thornthwaite" -> qPetThornthwaite,
    "q_continentality" -> qContinentality,
    "q_gsl" -> qGsl,
    "q_holt_brown" -> qHoltBrown,
    "q_holt_winters" -> qHoltWinters,
    "q_pacf" -> qPacf,
    "q_dry_spells" -> qDrySpells,
    "q_spi_zscore" -> qSpiZscore,
    "q_pettitt" -> qPettitt,
    "q_cusum" -> qCusum,
    "q_snht" -> qSnht,
    "q_seasonal_mk" -> qSeasonalMk,
    "q_ks_test" -> qKsTest,
    "q_crosscorr" -> qCrossCorr,
    "q_sax" -> qSax,
    "q_pagerank" -> qPagerank,
    "q_triangles" -> qTriangles,
    "q_ewma_control" -> qEwmaControl,
    "q_forecast_skill" -> qForecastSkill,
    "q_trend_mk" -> qTrendMk,
    "q_double_mass" -> qDoubleMass,
    "q_precip_type_mix" -> qPrecipTypeMix,
    "q_degree_days" -> qDegreeDays,
    "q_return_period" -> qReturnPeriod,
    "q_fill_neighbor" -> qFillNeighbor,
    "q_fill_seasonal" -> qFillSeasonal,
    "q_fill_median5" -> qFillMedian5,
    "q_fill_additive" -> qFillAdditive,
    "q_fill_interp" -> qFillInterp,
    "q_fill_share" -> qFillShare,
    "q_fill_idw" -> qFillIdw,
    "q_rolling_stats" -> qRollingStats,
    "q_ma_timeseries" -> qMaTimeseries,
    "q_ma_seasonal" -> qMaSeasonal,
    "q_quotient_kinds" -> qQuotientKinds,
    "q_quotient_raster" -> qQuotientRaster,
    "q_adjust_mult" -> qAdjustMult,
    "q_adjust_add" -> qAdjustAdd,
    "q_agg_day" -> qAggDay,
    "q_agg_month" -> qAggMonth,
    "q_agg_month_mean" -> qAggMonthMean,
    "q_agg_year" -> qAggYear,
    "q_group_wide" -> qGroupWide,
    "q_filled_period" -> qFilledPeriod,
    "q_max_period" -> qMaxPeriod,
    "q_knn_real" -> qKnnReal,
    "q_count_holes" -> qCountHoles,
    "q_richter_class" -> qRichterClass,
    "q_richter_correct" -> qRichterCorrect,
    "q_richter_correct_hourly" -> qRichterCorrectHourly,
    "q_sessionize" -> qSessionize,
    "q_session_stats" -> qSessionStats,
    "q_stream_window" -> qStreamWindow,
    "q_window_sliding" -> qSlidingWindow,
    "q_unpivot" -> qUnpivot,
    "q_range_join_time" -> qRangeJoinTime,
    "q_model_export" -> qModelExport,
    "q_meta_derive" -> qMetaDerive,
    "q_expand_grid" -> qExpandGrid,
    "q_knn_dist" -> qKnnDist,
    // exact on this density (see Neighbors.knnDistBucketed): same oracle
    "q_knn_bucketed" -> qKnnDist,
    "q_knn_elev" -> qKnnElev,
    "q_qc_range" -> qQcRange,
    "q_qc_repeats" -> qQcRepeats,
    "q_qc_spike" -> qQcSpike,
    "q_qc_daily_compare" -> qQcDailyCompare,
    "q_qc_neighbor_median" -> qQcNeighborMedian,
    "q_qc_all" -> qQcAll,
    "q_qc_dropped_share" -> qQcDroppedShare)
}
