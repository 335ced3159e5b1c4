package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables

/** Event-stream analytics over the `events` table — the query shapes a
  * product/telemetry pipeline runs next to the timeseries engine
  * (the reference exposes free SQL over its tables via get_df /
  * sql_add_where, StationBases.py:2463; these are the canonical
  * aggregation patterns of that surface at fleet scale).
  *
  * Scale notes per operator are on each method; the common theme: one
  * hash shuffle on the natural key (user_id / event_type), everything
  * else partition-local or map-side combinable.
  */
object EventAnalytics {

  /** Ordered conversion funnel per signup cohort: first view, then
    * first click at-or-after that view, then first purchase
    * at-or-after that click — stage timestamps must be causally
    * ordered per user, not merely present (the classic window-funnel
    * operator, cf. ClickHouse windowFunnel / Spark sessionization
    * patterns).
    *
    * Plan: three Window nodes over the SAME partition key (user_id) —
    * one hash shuffle total, stage minima computed partition-locally —
    * then two map-side-combinable hash aggregations (per user, per
    * cohort day). No self-joins: the naive per-stage join would
    * re-shuffle the event table once per stage. */
  def funnel(events: DataFrame): DataFrame = {
    val wUser = Window.partitionBy(col("user_id"))
    val perEvent = events
      .withColumn("min_view",
        min(when(col("event_type") === "view", col("ts"))).over(wUser))
      .withColumn("min_click",
        min(when(col("event_type") === "click" && col("ts") >= col("min_view"),
          col("ts"))).over(wUser))
      .withColumn("min_purchase",
        min(when(col("event_type") === "purchase" && col("ts") >= col("min_click"),
          col("ts"))).over(wUser))
    val perUser = perEvent.groupBy(col("user_id"))
      .agg(to_date(min(col("ts"))).as("cohort_day"),
        max(col("min_view")).as("min_view"),
        max(col("min_click")).as("min_click"),
        max(col("min_purchase")).as("min_purchase"))
    perUser.groupBy(col("cohort_day"))
      .agg(count(lit(1)).as("n_users"),
        count(col("min_view")).as("n_view"),
        count(col("min_click")).as("n_click"),
        count(col("min_purchase")).as("n_purchase"))
      .orderBy(col("cohort_day"))
  }

  /** Cohort retention matrix: users grouped by their first-activity
    * day; n_active = distinct users of that cohort active again
    * `offset_days` later. The d0 frame is O(#users) → broadcast at
    * test scale, co-partitioned shuffle join on user_id at fleet
    * scale (AQE picks); the distinct + count pair is two
    * map-side-combinable aggregations. */
  def retention(events: DataFrame): DataFrame = {
    val d0 = events.groupBy(col("user_id"))
      .agg(to_date(min(col("ts"))).as("cohort_day"))
    val active = events
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    active.join(d0, Seq("user_id"))
      .withColumn("offset_days", datediff(col("day"), col("cohort_day")))
      .groupBy(col("cohort_day"), col("offset_days"))
      .agg(count(lit(1)).as("n_active"))
      .orderBy(col("cohort_day"), col("offset_days"))
  }

  /** Fixed-width value histogram per event type (bucket width 5).
    * One map-side-combinable hash aggregation over a low-cardinality
    * composite key — the cheapest possible distribution sketch; at
    * 100 TB this is a single shuffle of (type, bucket) partial counts,
    * never of rows. */
  def histogram(events: DataFrame, width: Double = 5.0): DataFrame =
    events
      .withColumn("bucket", floor(col("value") / width).cast("long"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")) + lit(1e-9), 3).as("value_sum"))
      .withColumn("bucket_lo", round(col("bucket") * width + lit(1e-9), 1))
      .select(col("event_type"), col("bucket"), col("bucket_lo"), col("n"), col("value_sum"))
      .orderBy(col("event_type"), col("bucket"))

  /** Semi-structured props parsing: the JSON `props` column is parsed
    * with an explicit schema (`from_json` — codegen'd JsonToStructs,
    * no UDF) and aggregated per event type. The parse stays inside
    * whole-stage codegen and the parquet scan reads only the two
    * referenced columns. */
  def jsonProps(events: DataFrame): DataFrame =
    events
      .withColumn("k", from_json(col("props"), lit("k BIGINT")).getField("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        count(col("k")).as("n_k"),
        min(col("k")).as("k_min"),
        max(col("k")).as("k_max"),
        sum(col("k")).as("k_sum"),
        round(avg(col("k")) + lit(1e-9), 6).as("k_avg"))
      .orderBy(col("event_type"))

  /** HyperLogLog distinct-user estimate per event type, implemented
    * with a DETERMINISTIC mirrorable hash so the DuckDB oracle
    * reproduces it bit-for-bit (production swaps in the built-in
    * approx_count_distinct, which is HLL++ with the same plan shape).
    *
    * Sketch pattern: per-(type, bucket) max-rank is map-side
    * combinable — each executor reduces its partition to at most
    * types×64 cells before the shuffle, so the network cost is
    * O(cardinality of the sketch), not O(rows): the canonical 100 TB
    * distinct-count shape. The estimate arithmetic is exact in
    * binary floating point (sum of dyadic rationals 2^-rho, |sum| < 64,
    * lsb 2^-26 → 32 significand bits), so partial-aggregation order
    * cannot perturb it.
    *
    * h = (user_id * 48271) % 2147483647 (MINSTD LCG step); bucket =
    * h % 64; rho = 1 + index of lowest set bit of h div 64 (the
    * div-64 quotient is < 2^25, so rho ≤ 25; quotient 0 → 26). */
  private val HllM = 64

  /** 64-register sketch registers per key group: hash/bucket/rho
    * arithmetic shared STRUCTURALLY by [[hllDistinct]] and
    * [[hllSetOps]] (both oracles mirror this one definition).
    * rho uses exact integer bit arithmetic (bit_count of the
    * trailing-zero mask) — log2() would be ln(x)/ln(2) on the JVM,
    * off-by-an-ulp even for exact powers of two. */
  private def hllRegisters(df: DataFrame, el: org.apache.spark.sql.Column,
      key: org.apache.spark.sql.Column*): DataFrame =
    df.withColumn("el_h", (el * lit(48271L)) % lit(2147483647L))
      .withColumn("bucket", col("el_h") % HllM)
      .withColumn("rest", expr(s"el_h div $HllM"))
      .withColumn("rho",
        when(col("rest") === 0, lit(26))
          .otherwise(expr("bit_count((rest & -rest) - 1) + 1")))
      .groupBy(key :+ col("bucket"): _*).agg(max(col("rho")).as("mj"))

  /** Estimate from a register frame, per `keys` group (empty = one
    * global row): 2^-mj as exact shift-then-divide (dyadic rationals,
    * no transcendental pow), empty buckets contribute 2^0 = 1, and
    * the standard small-range linear-counting switch at ≤ 2.5m with
    * empty buckets left. ln() is the one transcendental; all 63
    * possible m·ln(m/V) values sit ≥ 3e-7 from a 4-decimal rounding
    * boundary, so a 1-ulp libm difference cannot flip the rounding. */
  private def hllEstimate(regs: DataFrame, keys: Seq[String],
      as: String): DataFrame = {
    val grouped =
      if (keys.isEmpty) regs.groupBy() else regs.groupBy(keys.map(col): _*)
    grouped
      .agg(sum(expr("cast(1 as double) / shiftleft(cast(1 as bigint), mj)")).as("s"),
        count(lit(1)).as("nb"))
      .withColumn("v", lit(HllM) - col("nb"))
      .withColumn("e_raw", lit(0.709 * HllM * HllM) / (col("s") + col("v")))
      .withColumn(as,
        round(when(col("e_raw") <= lit(2.5 * HllM) && col("v") > 0,
            lit(HllM.toDouble) * log(lit(HllM.toDouble) / col("v")))
          .otherwise(col("e_raw")) + lit(1e-9), 4))
      .drop("s", "nb", "v", "e_raw")
  }

  def hllDistinct(events: DataFrame): DataFrame = {
    val perBucket = hllRegisters(events, col("user_id"), col("event_type"))
    val est = hllEstimate(perBucket, Seq("event_type"), "hll_estimate")
    val exact = events.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    est.join(exact, Seq("event_type"))
      .withColumn("rel_err",
        round(abs(col("hll_estimate") - col("n_exact")) / col("n_exact") + lit(1e-9), 4))
      .select(col("event_type"), col("n_exact"), col("hll_estimate"), col("rel_err"))
      .orderBy(col("event_type"))
  }

  /** Tumbling-window HLL distinct users — the unique-visitors
    * dashboard metric in its streaming-native shape: q_stream_window
    * counts EVENTS per 6-hour window, this counts UNIQUES with the
    * same deterministic 64-register sketch as [[hllDistinct]]. The
    * per-(window, type, bucket) max-rho registers are map-combinable
    * partials — the watermarked streaming twin carries 64 small
    * integers per open window instead of a user set, and merging two
    * partial windows is a register-wise max (the mergeability that
    * makes sketches THE streaming cardinality tool). Batch here (the
    * driver contract), exact count + relative error alongside. */
  def windowHll(events: DataFrame, windowSeconds: Long = 21600L): DataFrame = {
    val windowed = events.withColumn("window_start",
      timestamp_seconds(floor(col("ts").cast("long") / windowSeconds) * windowSeconds))
    val regs = hllRegisters(windowed, col("user_id"),
      col("window_start"), col("event_type"))
    val est = hllEstimate(regs, Seq("window_start", "event_type"), "hll_estimate")
    val exact = windowed.groupBy(col("window_start"), col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    est.join(exact, Seq("window_start", "event_type"))
      .withColumn("rel_err",
        round(abs(col("hll_estimate") - col("n_exact")) / col("n_exact") + lit(1e-9), 4))
      .select(col("window_start"), col("event_type"), col("n_exact"),
        col("hll_estimate"), col("rel_err"))
  }

  /** Exact per-type value quantiles (p50/p90/p99) via the exact
    * `percentile` aggregate (sort-based linear interpolation — the
    * same definition as ANSI `percentile_cont`). Exact quantiles
    * shuffle the group's values once; at 100 TB scale production swaps
    * in `approx_percentile` (KLL-style mergeable sketch, map-side
    * combinable partials) with the identical plan shape — the exact
    * form stays the cross-engine-verifiable oracle anchor. */
  def quantiles(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(expr("percentile(value, 0.5D)") + lit(1e-9), 6).as("p50"),
        round(expr("percentile(value, 0.9D)") + lit(1e-9), 6).as("p90"),
        round(expr("percentile(value, 0.99D)") + lit(1e-9), 6).as("p99"))
      .orderBy(col("event_type"))

  /** Multi-dimensional CUBE aggregate over (event_type, day): all four
    * grouping sets in ONE pass — Spark's Expand node emits each row
    * once per set before a single hash aggregation, so the input scans
    * once no matter how many sets roll up (vs. four separate
    * aggregations = four scans). `grouping_id` disambiguates the
    * subtotal level; NULL group keys render as 'ALL' so the frame is
    * sentinel-free for downstream string handling. */
  def cubeAgg(events: DataFrame): DataFrame =
    events.withColumn("day", to_date(col("ts")).cast("string"))
      .cube(col("event_type"), col("day"))
      .agg(grouping_id().as("gid"),
        count(lit(1)).as("n"),
        round(sum(col("value")) + lit(1e-9), 3).as("value_sum"))
      .select(coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("day"), lit("ALL")).as("day"),
        col("gid"), col("n"), col("value_sum"))
      .orderBy(col("gid"), col("event_type"), col("day"))

  /** Trailing-window z-score anomaly detection: each event scored
    * against the mean/stddev of its user's previous `lookback` events
    * (never including itself — no target leakage), flagged when
    * |z| ≥ `zThresh`. The telemetry outlier-detection staple.
    *
    * Plan: ONE window partition key (user_id) computes count, mean and
    * stddev in a single Window node over the same sliding frame — one
    * hash shuffle of the events table total, then a stateless filter.
    * Guards: ≥ 8 prior points and sd above noise floor, else a cold
    * user's first events all "anomalize" against a degenerate
    * baseline. */
  def anomalyZscore(events: DataFrame, lookback: Int = 24,
      zThresh: Double = 3.0): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-lookback, -1)
    events
      .withColumn("n_prior", count(col("value")).over(w))
      .withColumn("mu", avg(col("value")).over(w))
      .withColumn("sd", stddev_samp(col("value")).over(w))
      .filter(col("n_prior") >= 8 && col("sd") > 0.001)
      .withColumn("z", round((col("value") - col("mu")) / col("sd") + lit(1e-9), 4))
      .filter(abs(col("z")) >= zThresh)
      .select(col("event_id"), col("user_id"), col("value"),
        round(col("mu") + lit(1e-9), 4).as("mu"),
        round(col("sd") + lit(1e-9), 4).as("sd"), col("z"))
      .orderBy(col("event_id"))
  }

  /** First-order Markov transition matrix of the event-type stream per
    * user (the user-journey / path-analysis primitive next to funnel
    * and retention): each user's events ordered by (ts, event_id), the
    * lag-1 event type is the origin state; output is per (prev_type,
    * event_type) transition count and the row-normalized probability
    * share within the origin state.
    *
    * Plan: ONE hash shuffle of events on user_id for the lag window;
    * the transition aggregate is map-side combinable down to at most
    * |event_type|² rows, and the normalizing window runs over that
    * ≤ 25-row result — nothing user-count-sized crosses the network
    * after the first exchange. At 100 TB the shape is unchanged: the
    * lag is partition-local per user, the matrix is tiny. */
  def transitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wPrev = Window.partitionBy(col("prev_type"))
    events
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share",
        round(col("n") / sum(col("n")).over(wPrev) + lit(1e-9), 6))
      .orderBy(col("prev_type"), col("event_type"))
  }

  /** Top user journeys: each user's first `depth` event types in
    * (ts, event_id) order joined with '>', counted and share-ranked —
    * the "common paths" view next to [[funnel]] and [[transitions]]
    * (full-sequence path analysis where transitions is its first-order
    * Markov summary).
    *
    * Plan: ONE hash shuffle of events on user_id; row_number and the
    * per-user path concat are partition-local (the rn ≤ depth filter
    * bounds the collect_list at `depth` elements per user — nothing
    * unbounded is materialized). The path aggregate is map-side
    * combinable down to ≤ |event_type|^depth rows, and the share
    * window runs over that bounded frame only. */
  def userPaths(events: DataFrame, depth: Int = 5): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wAll = Window.partitionBy()
    events
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= depth)
      .groupBy(col("user_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("rn"), col("event_type")))),
          x => x("event_type")), ">").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_users"))
      .withColumn("share",
        round(col("n_users") / sum(col("n_users")).over(wAll).cast("double")
          + lit(1e-9), 6))
      .orderBy(col("n_users").desc, col("path"))
  }

  /** Rolling active users — DAU / WAU / MAU per day (the engagement
    * dashboard staple): distinct users active on the day, in the
    * trailing 7 days, and in the trailing 30 days.
    *
    * Plan: distinct (user, day) presence (ONE keyed aggregate), then
    * each presence row is exploded into the ≤ 30 target days it
    * contributes to (a BOUNDED ×30 projection — the standard trick
    * that turns distinct-over-sliding-window into a plain keyed
    * distinct aggregate), and one aggregation per target day with
    * three filtered distinct counts. Days outside the observed range
    * (warm-up ghosts from the explode) are dropped by an anti-bound
    * on the real day set. At 100 TB presence is ~#users×#days rows —
    * the ×30 fan-out carries two small columns and combines map-side. */
  def activeUsers(events: DataFrame): DataFrame = {
    val presence = events
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val bounds = events.agg(to_date(max(col("ts"))).as("max_day"),
      to_date(min(col("ts"))).as("min_day"))
    presence
      .select(col("user_id"), col("day"),
        explode(expr("sequence(0, 29)")).as("off"))
      .withColumn("target_day", date_add(col("day"), col("off")))
      .crossJoin(broadcast(bounds))
      .filter(col("target_day") <= col("max_day") &&
        col("target_day") >= col("min_day"))
      .groupBy(col("target_day"))
      .agg(expr("count(DISTINCT CASE WHEN off = 0 THEN user_id END)").as("dau"),
        expr("count(DISTINCT CASE WHEN off <= 6 THEN user_id END)").as("wau"),
        expr("count(DISTINCT user_id)").as("mau"))
      .withColumnRenamed("target_day", "day")
      .orderBy(col("day"))
  }

  /** Activity-concentration (Pareto / "whale curve") report: the
    * share of total event volume and value mass contributed by the
    * top-10% / top-1% of users by value — the skew diagnostic behind
    * both product analysis and shuffle-skew planning.
    *
    * Plan: ONE map-combinable groupBy(user_id), exact percentile
    * cutoffs as a 1-row broadcast (approx_percentile is the 100 TB
    * swap), a stateless tier classification and ONE global aggregate
    * — no ranking window over the user frame. */
  def paretoShare(events: DataFrame): DataFrame = {
    val perUser = events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")) + lit(1e-9), 3).as("v"))
    val cuts = perUser.agg(
      round(expr("percentile(v, 0.9D)") + lit(1e-9), 6).as("p90"),
      round(expr("percentile(v, 0.99D)") + lit(1e-9), 6).as("p99"))
    perUser.crossJoin(broadcast(cuts))
      .agg(count(lit(1)).as("n_users"),
        sum(col("n_events")).as("n_events"),
        round(sum(col("v")) + lit(1e-9), 3).as("total_value"),
        sum(when(col("v") > col("p90"), 1L).otherwise(0L)).as("n_top10"),
        round(sum(when(col("v") > col("p90"), col("v")).otherwise(0.0))
          + lit(1e-9), 3).as("value_top10"),
        sum(when(col("v") > col("p99"), 1L).otherwise(0L)).as("n_top1"),
        round(sum(when(col("v") > col("p99"), col("v")).otherwise(0.0))
          + lit(1e-9), 3).as("value_top1"))
      .withColumn("share_top10",
        round(col("value_top10") / col("total_value") + lit(1e-9), 6))
      .withColumn("share_top1",
        round(col("value_top1") / col("total_value") + lit(1e-9), 6))
  }

  /** HyperLogLog SET ALGEBRA over the deterministic 64-register
    * sketch of [[hllDistinct]]: view-active vs purchase-active
    * (user, day) elements, their union (element-wise register max —
    * the merge that makes HLL a distributed sketch), and the
    * intersection estimated by inclusion–exclusion `|A|+|B|−|A∪B|`
    * (clamped at 0) — the activity-overlap question sketches answer
    * without a set join. Exact counterparts computed alongside for
    * the report.
    *
    * Scale: per event type the register frame is ≤ m rows built by a
    * map-combinable max — the union merge and every estimate are
    * constant-size; only the EXACT overlap count (kept for the
    * report) touches O(distinct user-days), and at 100 TB it is the
    * column you drop. Identical hash/rho/estimate arithmetic to
    * [[hllDistinct]], mirrored bit-for-bit by the oracle. */
  def hllSetOps(events: DataFrame, typeA: String = "view",
      typeB: String = "purchase"): DataFrame = {
    // element = active (user, day): the overlap question a product
    // asks at a granularity where the two sets genuinely differ
    val elExpr = col("user_id") * lit(100000L) +
      expr("datediff(to_date(ts), DATE'1970-01-01')")
    val both = events.filter(col("event_type").isin(typeA, typeB))
    val perBucket = hllRegisters(both, elExpr, col("event_type"))
    def estimate(regs: DataFrame, as: String) =
      hllEstimate(regs, Nil, as)
    val estA = estimate(perBucket.filter(col("event_type") === typeA), "est_a")
    val estB = estimate(perBucket.filter(col("event_type") === typeB), "est_b")
    // union registers: element-wise max across the two types
    val estU = estimate(
      perBucket.groupBy(col("bucket")).agg(max(col("mj")).as("mj")), "est_union")
    val els = both.select(col("event_type"), elExpr.as("el")).distinct()
    val exact = els.groupBy(col("el"))
      .agg(count(lit(1)).as("n_types"))
      .agg(count(lit(1)).as("n_union_exact"),
        sum(when(col("n_types") === 2, 1L).otherwise(0L)).as("n_both_exact"))
    exact.crossJoin(broadcast(estA)).crossJoin(broadcast(estB))
      .crossJoin(broadcast(estU))
      .withColumn("est_intersection",
        round(greatest(lit(0.0), col("est_a") + col("est_b") - col("est_union"))
          + lit(1e-9), 4))
      .select(col("n_union_exact"), col("n_both_exact"), col("est_a"),
        col("est_b"), col("est_union"), col("est_intersection"))
  }

  /** Time-constrained conversion funnel (the ClickHouse
    * `windowFunnel` shape): stages only count when they complete
    * within `windowDays` of the user's FIRST view — unlike [[funnel]],
    * which admits conversions years later. Per first-view cohort day:
    * users, in-window clickers, in-window purchasers, and the
    * click→purchase conversion shares.
    *
    * Plan: identical to [[funnel]] — three stage-minimum Window nodes
    * over ONE user_id shuffle (the deadline is a per-row projection,
    * not a join), then two map-combinable aggregations. */
  def windowFunnel(events: DataFrame, windowDays: Int = 7): DataFrame = {
    val wUser = Window.partitionBy(col("user_id"))
    val perEvent = events
      .withColumn("min_view",
        min(when(col("event_type") === "view", col("ts"))).over(wUser))
      .withColumn("deadline", col("min_view") + expr(s"INTERVAL $windowDays DAYS"))
      .withColumn("min_click",
        min(when(col("event_type") === "click" && col("ts") >= col("min_view") &&
          col("ts") <= col("deadline"), col("ts"))).over(wUser))
      .withColumn("min_purchase",
        min(when(col("event_type") === "purchase" && col("ts") >= col("min_click") &&
          col("ts") <= col("deadline"), col("ts"))).over(wUser))
    val perUser = perEvent.filter(col("min_view").isNotNull)
      .groupBy(col("user_id"))
      .agg(to_date(max(col("min_view"))).as("cohort_day"),
        max(col("min_click")).as("min_click"),
        max(col("min_purchase")).as("min_purchase"))
    perUser.groupBy(col("cohort_day"))
      .agg(count(lit(1)).as("n_view"),
        count(col("min_click")).as("n_click_w"),
        count(col("min_purchase")).as("n_purchase_w"))
      .withColumn("click_rate",
        round(col("n_click_w") / col("n_view").cast("double") + lit(1e-9), 6))
      .withColumn("purchase_rate",
        round(col("n_purchase_w") / col("n_view").cast("double") + lit(1e-9), 6))
      .orderBy(col("cohort_day"))
  }

  /** RFM (recency / frequency / monetary) user segmentation — the
    * classic marketing/engagement scoring frame: per user, days since
    * last activity, event count and value mass, each bucketed into
    * quartiles (r_q 1 = most recent quartile; f_q/m_q 4 = top
    * quartile), concatenated into the familiar 3-digit segment code.
    *
    * Plan: ONE map-combinable groupBy(user_id) builds the per-user
    * frame; the anchor day and the nine quartile cutoffs are two tiny
    * broadcast frames (exact interpolated `percentile` here — the
    * oracle-verifiable anchor; at 100 TB swap in `approx_percentile`,
    * identical shape). Scoring is a stateless comparison against the
    * broadcast cutoffs — deliberately NOT an ntile window, which would
    * sort the O(#users) frame on a single partition. */
  def rfm(events: DataFrame): DataFrame = {
    val perUser = events.groupBy(col("user_id"))
      .agg(to_date(max(col("ts"))).as("last_day"),
        count(lit(1)).as("frequency"),
        round(sum(col("value")) + lit(1e-9), 3).as("monetary"))
    val anchor = events.agg(to_date(max(col("ts"))).as("anchor_day"))
    val scored = perUser.crossJoin(broadcast(anchor))
      .withColumn("recency_days",
        datediff(col("anchor_day"), col("last_day")).cast("long"))
    def cut(c: String, p: Double, as: String) =
      round(expr(s"percentile(cast($c AS double), ${p}D)") + lit(1e-9), 6).as(as)
    val cuts = scored.agg(
      cut("recency_days", 0.25, "r25"), cut("recency_days", 0.5, "r50"),
      cut("recency_days", 0.75, "r75"),
      cut("frequency", 0.25, "f25"), cut("frequency", 0.5, "f50"),
      cut("frequency", 0.75, "f75"),
      cut("monetary", 0.25, "m25"), cut("monetary", 0.5, "m50"),
      cut("monetary", 0.75, "m75"))
    def quart(c: String, a: String, b: String, d: String) =
      expr(s"1 + cast(cast($c AS double) > $a AS int) " +
        s"+ cast(cast($c AS double) > $b AS int) + cast(cast($c AS double) > $d AS int)")
    scored.crossJoin(broadcast(cuts))
      .withColumn("r_q", quart("recency_days", "r25", "r50", "r75"))
      .withColumn("f_q", quart("frequency", "f25", "f50", "f75"))
      .withColumn("m_q", quart("monetary", "m25", "m50", "m75"))
      .withColumn("segment",
        concat(col("r_q").cast("string"), col("f_q").cast("string"),
          col("m_q").cast("string")))
      .select(col("user_id"), col("recency_days"), col("frequency"),
        col("monetary"), col("r_q"), col("f_q"), col("m_q"), col("segment"))
      .orderBy(col("user_id"))
  }

  /** Gini coefficient of per-user event-value mass (the inequality
    * scalar behind q_pareto_share's whale curve): users ranked
    * ascending by mass, `G = 2·Σ(rank·x) / (n·Σx) − (n+1)/n`.
    *
    * The global rank is [[graft.core.Ordinals.running]]'s ordinal
    * under (mass, user_id) — NOT a single-partition
    * `row_number() OVER (ORDER BY …)`, which would serialize the
    * O(#users) frame through one task; the final aggregate is one row.
    * The oracle pins the spec AS the global window and this route
    * must reproduce it exactly. */
  def gini(events: DataFrame): DataFrame = {
    val perUser = events.groupBy(col("user_id"))
      .agg(round(sum(col("value")) + lit(1e-9), 3).as("x"))
    graft.core.Ordinals.running(perUser, Seq(col("x"), col("user_id")))
      .agg(count(lit(1)).as("n_users"),
        round(sum(col("x")) + lit(1e-9), 3).as("total_value"),
        sum(col("ord") * col("x")).as("rank_mass"))
      .select(col("n_users"), col("total_value"),
        round((col("rank_mass") * 2) / (col("n_users") * sum_guard(col("total_value")))
          - (col("n_users") + lit(1)).cast("double") / col("n_users")
          + lit(1e-9), 6).as("gini"))
  }

  /** NULL-safe positive denominator: NULL (not a fake 0-division)
    * when the total is non-positive. */
  private def sum_guard(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(c > 0.0, c)

  /** Engagement streaks: per user the longest and current run of
    * consecutive active days plus the active-day census (the
    * habit-formation metric of consumer products). Gaps-and-islands
    * on the distinct presence frame; "current" = the streak touching
    * the dataset's last day.
    *
    * Plan: distinct presence, ONE partition-local window per user,
    * two keyed aggregates; the 1-row max-day frame broadcasts. */
  def userStreaks(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val presence = events
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val runs = presence
      .withColumn("grp",
        datediff(col("day"), lit(java.sql.Date.valueOf("1970-01-01")))
          - row_number().over(w))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("run_len"), max(col("day")).as("run_end"))
    val lastDay = events.agg(max(to_date(col("ts"))).as("last_day"))
    runs.crossJoin(broadcast(lastDay))
      .groupBy(col("user_id"))
      .agg(sum(col("run_len")).as("active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("run_len")).as("longest_streak"),
        max(when(col("run_end") === col("last_day"), col("run_len"))
          .otherwise(lit(0L))).as("current_streak"))
  }

  /** Robust per-user anomaly flags by median absolute deviation (the
    * outlier test that survives the contaminated tails a mean/stddev
    * z-score is dragged by): modified z = (x − median) / (1.4826·MAD),
    * |z| ≥ 3.5 flags (Iglewicz & Hoaglin 1993). Complements
    * q_anomaly_zscore's trailing-window moment test with a
    * whole-history robust one.
    *
    * Plan: both percentiles run as window AGGREGATES over the user
    * partition — the MAD needs the median first, so they are two
    * Window nodes, but with the same partitioning they share ONE
    * user_id exchange and the events table scans ONCE (a join-based
    * two-pass would scan it four times); flagging is a stateless
    * projection. `approx_percentile` swaps in at 100 TB. */
  def anomalyMad(events: DataFrame): DataFrame =
    events.select(col("event_id"), col("user_id"), col("value"))
      .withColumn("med", expr(
        "round(percentile(value, 0.5D) OVER (PARTITION BY user_id) + 1e-9, 6)"))
      .withColumn("mad", expr(
        "round(percentile(abs(value - med), 0.5D) OVER (PARTITION BY user_id) + 1e-9, 6)"))
      .withColumn("robust_z",
        when(col("mad") > 0.0,
          round((col("value") - col("med")) / (lit(1.4826) * col("mad"))
            + lit(1e-9), 4)))
      .withColumn("is_anomaly",
        col("robust_z").isNotNull && abs(col("robust_z")) >= 3.5)
      .select(col("event_id"), col("user_id"), col("value"), col("med"),
        col("mad"), col("robust_z"), col("is_anomaly"))

  /** New-vs-returning daily actives (the acquisition/retention split
    * on every growth dashboard): each (user, day) presence is "new"
    * on the user's first active day, "returning" after.
    *
    * Plan: distinct presence frame, O(#users) first-day aggregate
    * joined back keyed on user_id, ONE map-combinable aggregate per
    * day. */
  def newVsReturning(events: DataFrame): DataFrame = {
    val presence = events
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val first = presence.groupBy(col("user_id"))
      .agg(min(col("day")).as("first_day"))
    presence.join(first, Seq("user_id"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("active_users"),
        count(when(col("day") === col("first_day"), lit(1))).as("new_users"))
      .withColumn("returning_users", col("active_users") - col("new_users"))
      .withColumn("new_share",
        round(col("new_users") / col("active_users").cast("double")
          + lit(1e-9), 6))
  }

  /** Audience-overlap matrix: exact Jaccard similarity of the user
    * sets behind every event-type pair (the "people who view also
    * click?" report — the exact companion of q_hll_setops' sketch
    * algebra). Intersections come from a self-join of the DISTINCT
    * (type, user) presence frame — O(presence²/|types|) pair rows,
    * never the event frame; union sizes by inclusion–exclusion.
    *
    * Plan: one distinct aggregate to the presence frame, one keyed
    * self-join on user_id, map-combinable counts to ≤ |types|² cells,
    * broadcast per-type totals. */
  def typeOverlap(events: DataFrame): DataFrame = {
    val presence = events.select(col("event_type"), col("user_id")).distinct()
    val sizes = presence.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"))
    val inter = presence.as("a")
      .join(presence.as("b"), Seq("user_id"))
      .filter(col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    inter
      .join(broadcast(sizes.select(col("event_type").as("type_a"),
        col("n_users").as("n_a"))), Seq("type_a"))
      .join(broadcast(sizes.select(col("event_type").as("type_b"),
        col("n_users").as("n_b"))), Seq("type_b"))
      .withColumn("jaccard",
        round(col("n_both") / (col("n_a") + col("n_b") - col("n_both"))
          .cast("double") + lit(1e-9), 6))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_both"), col("jaccard"))
  }

  /** Conversion-latency profile per first-view cohort: for every user
    * whose first purchase happens at-or-after their first view, the
    * minutes between the two, summarized as median / p90 per cohort
    * day (the time-to-convert report next to q_funnel's rate report).
    * Per-user latency is rounded FIRST (3 dp), so both engines
    * interpolate percentiles over identical inputs; exact percentile
    * here, `approx_percentile` at 100 TB.
    *
    * Plan: two keyed aggregates to O(#users) frames, one keyed join,
    * then a keyed aggregate per cohort day — no window over the event
    * frame. */
  def timeToConvert(events: DataFrame): DataFrame = {
    val firstView = events.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
    val firstPurchase = events.filter(col("event_type") === "purchase")
      .join(firstView, Seq("user_id"))
      .filter(col("ts") >= col("t_view"))
      .groupBy(col("user_id"), col("t_view"))
      .agg(min(col("ts")).as("t_purchase"))
    firstPurchase
      .withColumn("latency_min",
        round((unix_micros(col("t_purchase")) - unix_micros(col("t_view")))
          / lit(6e7) + lit(1e-9), 3))
      .groupBy(to_date(col("t_view")).as("cohort_day"))
      .agg(count(lit(1)).as("n_converters"),
        round(expr("percentile(latency_min, 0.5D)") + lit(1e-9), 6).as("p50_min"),
        round(expr("percentile(latency_min, 0.9D)") + lit(1e-9), 6).as("p90_min"))
  }

  /** Calendar heatmap: event count / value mass per (day-of-week,
    * hour-of-day) cell with share of total — the 168-cell activity
    * matrix behind load scheduling and maintenance-window choice.
    * dow is 0 = Sunday on both engines.
    *
    * Plan: stateless scan, ONE map-combinable aggregate to ≤ 168
    * rows; the share window runs over that bound only. */
  def calendarHeatmap(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy()
    events
      .select((dayofweek(col("ts")) - 1).as("dow"),
        hour(col("ts")).as("hod"), col("value"))
      .groupBy(col("dow"), col("hod"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")) + lit(1e-9), 3).as("value_mass"))
      .withColumn("share",
        round(col("n_events") / sum(col("n_events")).over(w).cast("double")
          + lit(1e-9), 6))
  }

  /** Marketing-style conversion attribution: each purchase credits the
    * touch events (click/view) of the same user inside a trailing
    * 7-day lookback — once to the FIRST touch in the window and once
    * to the LAST (the two standard single-touch models, reported side
    * by side per touch type).
    *
    * Plan: ONE keyed join on user_id bounded by the lookback interval
    * (row fan-out is the user's touch density in 7 days, never the
    * whole history); first/last touch per conversion are min/max of a
    * (ts, event_id, type) struct inside the SAME keyed aggregate — no
    * window, no second shuffle; the model×type rollup is
    * map-combinable to ≤ 2·#types rows. At 100 TB the join stays
    * keyed on user_id (AQE handles skewed power users; the interval
    * predicate is a cheap residual). */
  def attribution(events: DataFrame): DataFrame = {
    val touches = events
      .filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("ts").as("t_ts"),
        col("event_id").as("t_id"), col("event_type").as("touch_type"))
    val convs = events
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("c_ts"),
        col("event_id").as("c_id"), col("value"))
    val perConv = convs.join(touches, Seq("user_id"))
      .filter(col("t_ts") <= col("c_ts") &&
        col("t_ts") > col("c_ts") - expr("INTERVAL 7 DAYS"))
      .groupBy(col("c_id"), col("value"))
      .agg(
        min(struct(col("t_ts"), col("t_id"), col("touch_type"))).as("first"),
        max(struct(col("t_ts"), col("t_id"), col("touch_type"))).as("last"))
    val first = perConv.select(lit("first_touch").as("model"),
      col("first.touch_type").as("touch_type"), col("value"))
    val last = perConv.select(lit("last_touch").as("model"),
      col("last.touch_type").as("touch_type"), col("value"))
    first.unionByName(last)
      .groupBy(col("model"), col("touch_type"))
      .agg(count(lit(1)).as("n_conversions"),
        round(sum(col("value")) + lit(1e-9), 2).as("credited_value"))
      .orderBy(col("model"), col("touch_type"))
  }

  /** Tail-risk report per event type: the 95th-percentile value (VaR)
    * and the mean/count/mass of the exceedances beyond it (CVaR /
    * expected shortfall) — the heavy-tail summary an SRE or revenue
    * pipeline reads next to plain quantiles.
    *
    * Plan: one keyed percentile aggregate (O(#types) rows, broadcast
    * back by the keyed join), then ONE conditional re-aggregation over
    * the same typed partitioning — two map-combinable shuffles on a
    * low-cardinality key, no window, no sort of the full frame. */
  def cvar(events: DataFrame): DataFrame = {
    val varT = events.groupBy(col("event_type"))
      .agg(round(expr("percentile(value, 0.95D)") + lit(1e-9), 6).as("var95"),
        count(lit(1)).as("n_events"))
    events.select(col("event_type"), col("value"))
      .join(varT, Seq("event_type"))
      .groupBy(col("event_type"), col("var95"), col("n_events"))
      .agg(
        count(when(col("value") > col("var95"), lit(1))).as("n_tail"),
        round(avg(when(col("value") > col("var95"), col("value")))
          + lit(1e-9), 4).as("cvar95"),
        round(sum(when(col("value") > col("var95"), col("value"))
          .otherwise(lit(0.0))) + lit(1e-9), 2).as("tail_mass"))
      .orderBy(col("event_type"))
  }

  /** Cohort lifetime value: users grouped by first-seen day, revenue
    * accumulated over cohort age — the curve a growth team reads to
    * compare acquisition vintages. Per (cohort_day, age): cohort size,
    * that age's revenue, the running cumulative, and LTV per user.
    *
    * Plan: one keyed min-aggregate for cohorts (shuffle on user_id —
    * the same exchange the per-(user, day) revenue aggregate needs, so
    * the two fold into one shuffle), one (cohort, age) aggregate, then
    * a cumulative window over ≤ #days rows per cohort. The window runs
    * on the AGGREGATED frame (O(#cohorts × #days) rows), never on raw
    * events. Cumulation sums already-rounded per-age revenues in day
    * order — deterministic, so both engines fold bit-identically. */
  def cohortLtv(events: DataFrame): DataFrame = {
    val perUserDay = events.groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(sum(col("value")).as("rev"))
    val withCohort = perUserDay
      .withColumn("cohort_day", min(col("day")).over(Window.partitionBy(col("user_id"))))
    val perAge = withCohort
      .withColumn("age", datediff(col("day"), col("cohort_day")))
      .groupBy(col("cohort_day"), col("age"))
      .agg(round(sum(col("rev")) + lit(1e-9), 2).as("rev"),
        countDistinct(col("user_id")).as("n_active"))
    val cohortSize = withCohort.filter(col("day") === col("cohort_day"))
      .groupBy(col("cohort_day")).agg(countDistinct(col("user_id")).as("n_users"))
    val wAge = Window.partitionBy(col("cohort_day")).orderBy(col("age"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perAge.join(cohortSize, Seq("cohort_day"))
      .withColumn("cum_rev", round(sum(col("rev")).over(wAge) + lit(1e-9), 2))
      .withColumn("ltv", round(col("cum_rev") / col("n_users") + lit(1e-9), 4))
      .select(col("cohort_day"), col("age"), col("n_users"), col("n_active"),
        col("rev"), col("cum_rev"), col("ltv"))
      .orderBy(col("cohort_day"), col("age"))
  }

  /** Engagement stickiness: per day, DAU and the trailing-7-day
    * distinct-user count (WAU), and their ratio — the DAU/WAU metric.
    *
    * Plan: rolling DISTINCT cannot ride a window frame (distinct
    * doesn't decompose over sliding sums), so the standard shape is a
    * bounded range join: the per-(user, day) DISTINCT frame — already
    * orders of magnitude smaller than events — fans out ≤ 7× onto the
    * day grid, then one distinct aggregate per day. At 100 TB the
    * fan-out factor stays constant (7), the join key is the low-
    * cardinality day, and no full-events pass happens twice. */
  def stickiness(events: DataFrame, window: Int = 7): DataFrame = {
    val userDays = events.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val dau = userDays.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    // each active (user, day) is visible from the `window` day-windows
    // ending on day..day+window−1: explode those end-days (constant
    // fan-out, an equi-join key — never a non-equi range join, which
    // would plan as a nested-loop) and count distinct users per end.
    val wau = userDays
      .withColumn("k", explode(lit((0 until window).toArray)))
      .select(col("user_id"), date_add(col("day"), col("k")).as("day"))
      .groupBy(col("day")).agg(countDistinct(col("user_id")).as("wau"))
    // inner join to the DAU frame also trims end-days past the data
    dau.join(wau, Seq("day"))
      .withColumn("stickiness", round(col("dau") / col("wau") + lit(1e-9), 4))
      .select(col("day"), col("dau"), col("wau"), col("stickiness"))
      .orderBy(col("day"))
  }

  /** Benford first-digit screen per event type: observed first-
    * significant-digit distribution vs Benford's law P(d) = log₁₀(1 +
    * 1/d), with the per-type χ² — the classic fabricated-/synthetic-
    * data audit.
    *
    * The first digit is read from the decimal STRING of the fixed-
    * point long round(value·100) — cast long→string is exact and
    * engine-identical, where floor(value / 10^⌊log₁₀ v⌋) floats
    * through log/pow whose last-ulp differences flip the digit at
    * powers of ten. One (type, digit) hash aggregate + one per-type
    * roll-up of the 9-row-per-type frame — two map-combinable
    * shuffles on low-cardinality keys. */
  def benford(events: DataFrame): DataFrame = {
    val digits = events
      .withColumn("cents", round(col("value") * 100).cast("long"))
      .filter(col("cents") > 0)
      .withColumn("digit", substring(col("cents").cast("string"), 1, 1).cast("int"))
      .groupBy(col("event_type"), col("digit")).agg(count(lit(1)).as("n"))
    val totals = digits.groupBy(col("event_type")).agg(sum(col("n")).as("n_type"))
    val scored = digits.join(totals, Seq("event_type"))
      .withColumn("share", round(col("n") / col("n_type") + lit(1e-9), 6))
      .withColumn("benford_share",
        round(log10(lit(1.0) + lit(1.0) / col("digit")) + lit(1e-9), 6))
      .withColumn("chi_term",
        pow(col("share") - col("benford_share"), 2) / col("benford_share"))
    val chi = scored.groupBy(col("event_type"))
      .agg(round(sum(col("chi_term")) + lit(1e-9), 6).as("chi2"))
    scored.join(chi, Seq("event_type"))
      .select(col("event_type"), col("digit"), col("n"), col("share"),
        col("benford_share"), col("chi2"))
      .orderBy(col("event_type"), col("digit"))
  }

  /** Welch two-sample t-test per event type between the A/B variants
    * (user_id parity — the deterministic split an experiment platform
    * would hash-assign): unequal-variance t, Welch–Satterthwaite df,
    * two-sided significance at z≈1.96. Moments are rounded to 6 dp
    * BEFORE the t arithmetic so both engines' different fold orders
    * reach the identical statistic.
    *
    * Plan: ONE map-combinable (type, variant) moment aggregate over
    * the events scan, then a 2-row-per-type pivot — nothing after the
    * first shuffle touches more than O(#types) rows. */
  def ttestWelch(events: DataFrame): DataFrame = {
    val m = events
      .withColumn("variant", (col("user_id") % 2 === 0).cast("int"))
      .groupBy(col("event_type"), col("variant"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("value")) + lit(1e-9), 6).as("mean"),
        round(var_samp(col("value")) + lit(1e-9), 6).as("v"))
    val a = m.filter(col("variant") === 1)
      .select(col("event_type"), col("n").as("n_a"),
        col("mean").as("mean_a"), col("v").as("v_a"))
    val b = m.filter(col("variant") === 0)
      .select(col("event_type"), col("n").as("n_b"),
        col("mean").as("mean_b"), col("v").as("v_b"))
    a.join(b, Seq("event_type"))
      .withColumn("se2", col("v_a") / col("n_a") + col("v_b") / col("n_b"))
      .withColumn("t", round((col("mean_a") - col("mean_b"))
        / sqrt(col("se2")) + lit(1e-9), 4))
      .withColumn("df", round(col("se2") * col("se2")
        / (pow(col("v_a") / col("n_a"), 2) / (col("n_a") - 1)
          + pow(col("v_b") / col("n_b"), 2) / (col("n_b") - 1)) + lit(1e-9), 2))
      .withColumn("significant", abs(col("t")) > 1.96)
      .select(col("event_type"), col("n_a"), col("n_b"), col("mean_a"),
        col("mean_b"), col("t"), col("df"), col("significant"))
      .orderBy(col("event_type"))
  }

  /** Mann–Whitney U (rank-sum) per event type between the same A/B
    * variants — the distribution-free companion to [[ttestWelch]],
    * tie-corrected.
    *
    * Plan: ranks never materialize per ROW — values collapse to a
    * (type, value) frame first (cnt, cnt_a per distinct value), the
    * average rank of each tie block is one ordered cumulative window
    * over DISTINCT values, and the rank sum is a keyed dot product.
    * At 100 TB the window runs over the distinct-value frame, orders
    * of magnitude smaller than events. */
  def mannWhitney(events: DataFrame): DataFrame = {
    val tagged = events
      .withColumn("variant", (col("user_id") % 2 === 0).cast("int"))
      .groupBy(col("event_type"), col("value"))
      .agg(count(lit(1)).as("cnt"), sum(col("variant")).as("cnt_a"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = tagged
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("avg_rank", col("cum") - (col("cnt") - 1) / 2.0)
      .withColumn("tie3", col("cnt") * col("cnt") * col("cnt") - col("cnt"))
    ranked.groupBy(col("event_type"))
      .agg(sum(col("cnt_a") * col("avg_rank")).as("r_a"),
        sum(col("cnt_a")).as("n_a"),
        sum(col("cnt") - col("cnt_a")).as("n_b"),
        sum(col("tie3")).as("tie_sum"))
      .withColumn("n", col("n_a") + col("n_b"))
      .withColumn("u", round(col("r_a")
        - col("n_a") * (col("n_a") + 1) / 2.0 + lit(1e-9), 1))
      .withColumn("var_u",
        col("n_a") * col("n_b") / 12.0
          * ((col("n") + 1) - col("tie_sum") / (col("n") * (col("n") - 1))))
      .withColumn("z", round((col("u") - col("n_a") * col("n_b") / 2.0)
        / sqrt(col("var_u")) + lit(1e-9), 4))
      .withColumn("significant", abs(col("z")) > 1.96)
      .select(col("event_type"), col("n_a"), col("n_b"), col("u"),
        col("z"), col("significant"))
      .orderBy(col("event_type"))
  }

  /** Kaplan–Meier retention curve: survival probability of "user is
    * still active" by lifetime day, right-censoring users whose last
    * event falls on the final day of data (they haven't churned, we
    * just stopped looking — dropping them would bias S(t) down).
    * S(t) = Π_{i ≤ t} (1 − d_i/n_i) over churn days.
    *
    * Plan: one per-user min/max aggregate, one O(#lifetimes) keyed
    * aggregate, then ordered cumulative windows over the ≤ #days
    * lifetime frame; the product folds as exp(Σ ln(·)) — a sum the
    * cumulative window handles, with the summands from exact rationals
    * so both engines agree to well past the 6 reported decimals. */
  /** Exponentially recency-weighted user value (the CRM/ranking
    * "hotness" score): Σ value·exp(−λ·days_before_horizon) per user
    * with λ = ln2/7 (one-week half-life) — yesterday's purchase
    * counts double next week's same purchase.
    *
    * Plan: horizon is a broadcast 1-row aggregate; the score is one
    * map-combinable keyed aggregate over a stateless exp projection. */
  def recencyScore(events: DataFrame, halfLifeDays: Double = 7.0): DataFrame = {
    val lambda = math.log(2.0) / halfLifeDays
    val horizon = events.agg(to_date(max(col("ts"))).as("dmax"))
    events.crossJoin(broadcast(horizon))
      .withColumn("wgt",
        exp(lit(-lambda) * datediff(col("dmax"), to_date(col("ts")))))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value") * col("wgt")) + lit(1e-9), 4).as("score"),
        round(sum(col("wgt")) + lit(1e-9), 6).as("wgt_mass"))
      .withColumn("score_per_event",
        round(col("score") / col("n_events") + lit(1e-9), 6))
      .select(col("user_id"), col("n_events"), col("score"),
        col("wgt_mass"), col("score_per_event"))
  }

  /** Two-proportion z-test on conversion (did the variant move the
    * purchase RATE? — the categorical endpoint beside the
    * value-means t-test): per variant the user count and converted
    * count (≥1 purchase), pooled-proportion z.
    *
    * Plan: one (user → converted) aggregate, one 2-row variant
    * rollup; all test arithmetic on the 2-row frame. */
  def twoPropZ(events: DataFrame): DataFrame = {
    // conversion = first purchase within 24 h of first activity (every
    // user purchases EVENTUALLY in this corpus, so the raw has-purchase
    // rate is degenerately 1.0 — the time-bounded rate varies)
    val users = events.groupBy(col("user_id"))
      .agg((min(when(col("event_type") === "purchase", col("ts")))
        <= min(col("ts")) + expr("interval 24 hours")).cast("int")
        .as("converted"))
      .withColumn("converted", coalesce(col("converted"), lit(0)))
      .withColumn("variant", (col("user_id") % 2 === 0).cast("int"))
    val g = users.groupBy(col("variant"))
      .agg(count(lit(1)).as("n"), sum(col("converted")).as("conv"))
    val a = g.filter(col("variant") === 1)
      .select(col("n").as("n_a"), col("conv").as("conv_a"))
    val b = g.filter(col("variant") === 0)
      .select(col("n").as("n_b"), col("conv").as("conv_b"))
    // limit(1) structurally bounds the nested-loop side (the frame IS
    // one row — variant 0 grouped+filtered — but the plan guard can't
    // prove that through a grouped aggregate)
    a.crossJoin(broadcast(b.limit(1)))
      .withColumn("p_a", round(col("conv_a") / col("n_a").cast("double")
        + lit(1e-9), 6))
      .withColumn("p_b", round(col("conv_b") / col("n_b").cast("double")
        + lit(1e-9), 6))
      .withColumn("p_pool", (col("conv_a") + col("conv_b"))
        / (col("n_a") + col("n_b")).cast("double"))
      .withColumn("z", when(col("p_pool") > 0.0 && col("p_pool") < 1.0,
        round((col("p_a") - col("p_b"))
          / sqrt(col("p_pool") * (lit(1.0) - col("p_pool"))
            * (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))) + lit(1e-9), 4)))
      .withColumn("significant", abs(col("z")) > 1.96)
      .select(col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
        col("p_a"), col("p_b"), col("z"), col("significant"))
  }

  /** Exact 1-D earth mover's distance between the A/B variants' value
    * distributions per event type — the integral companion to the KS
    * statistic's max: EMD₁ = ∫|F_a − F_b| dx, computed exactly as
    * Σ |cumA − cumB| · (next value − value) over the merged distinct
    * values.
    *
    * Plan: values collapse to a (type, value) count frame first (the
    * cumulative windows run over DISTINCT values, orders of magnitude
    * smaller than events at scale — the mannWhitney trick); one
    * ordered window per type for the two CDFs and the gap. */
  def emdVariants(events: DataFrame): DataFrame = {
    val tagged = events
      .withColumn("variant", (col("user_id") % 2 === 0).cast("int"))
      .groupBy(col("event_type"), col("value"))
      .agg(sum(col("variant")).as("cnt_a"),
        sum(lit(1) - col("variant")).as("cnt_b"))
    val wT = Window.partitionBy(col("event_type"))
    val wOrd = wT.orderBy(col("value"))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("n_a", sum(col("cnt_a")).over(wT))
      .withColumn("n_b", sum(col("cnt_b")).over(wT))
      .withColumn("cum_a", sum(col("cnt_a")).over(wCum) / col("n_a").cast("double"))
      .withColumn("cum_b", sum(col("cnt_b")).over(wCum) / col("n_b").cast("double"))
      .withColumn("gap", lead(col("value"), 1).over(wOrd) - col("value"))
      .filter(col("gap").isNotNull)
      .groupBy(col("event_type"))
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        round(sum(abs(col("cum_a") - col("cum_b")) * col("gap")) + lit(1e-9), 6)
          .as("emd"))
      .select(col("event_type"), col("n_a"), col("n_b"), col("emd"))
      .orderBy(col("event_type"))
  }

  /** Association rules over user "baskets" of event types:
    * support / confidence / lift for every ordered type pair — the
    * market-basket staple ("users who error also refund?") with the
    * user as the transaction.
    *
    * Plan: baskets collapse to DISTINCT (user, type) rows first (one
    * keyed aggregate — the pair join runs on ≤ k rows per user, never
    * raw events); pair counts are a self-join on user_id riding the
    * same partitioning; singles broadcast back. */
  def basketLift(events: DataFrame): DataFrame = {
    val items = events.select(col("user_id"), col("event_type")).distinct()
    val total = items.agg(count_distinct(col("user_id")).as("n_users"))
    val singles = items.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_item"))
    val a = items.select(col("user_id"), col("event_type").as("type_a"))
    val b = items.select(col("user_id"), col("event_type").as("type_b"))
    a.join(b, Seq("user_id")).filter(col("type_a") =!= col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_both"))
      .join(broadcast(singles.withColumnRenamed("event_type", "type_a")
        .withColumnRenamed("n_item", "n_a")), Seq("type_a"))
      .join(broadcast(singles.withColumnRenamed("event_type", "type_b")
        .withColumnRenamed("n_item", "n_b")), Seq("type_b"))
      .crossJoin(broadcast(total))
      .withColumn("support",
        round(col("n_both") / col("n_users").cast("double") + lit(1e-9), 6))
      .withColumn("confidence",
        round(col("n_both") / col("n_a").cast("double") + lit(1e-9), 6))
      .withColumn("lift", round(col("n_both") * col("n_users").cast("double")
        / (col("n_a") * col("n_b")).cast("double") + lit(1e-9), 6))
      .select(col("type_a"), col("type_b"), col("n_both"), col("n_a"),
        col("n_b"), col("support"), col("confidence"), col("lift"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** Population Stability Index per event type — the ML-ops drift
    * gauge between the period's first and second half: value deciles
    * binned on the FIRST half's exact edges, PSI = Σ (p−q)·ln(p/q)
    * with the conventional 1e-4 floor on empty bins (PSI > 0.2 =
    * investigate).
    *
    * Plan: the edge frame is one exact-percentile aggregate over the
    * reference half (9 edges × #types, broadcast); binning is a
    * stateless CASE scan; PSI assembles on the 10×#types bin frame. */
  def psi(events: DataFrame): DataFrame = {
    val half = events.agg(to_date(min(col("ts"))).as("d0"),
      to_date(max(col("ts"))).as("d1"))
      .select(expr("date_add(d0, int(datediff(d1, d0) / 2))").as("mid"))
    val tagged = events.crossJoin(broadcast(half))
      .withColumn("is_ref", to_date(col("ts")) <= col("mid"))
    val edges = tagged.filter(col("is_ref"))
      .groupBy(col("event_type"))
      .agg(expr("transform(percentile(value, " +
        "array(0.1D, 0.2D, 0.3D, 0.4D, 0.5D, 0.6D, 0.7D, 0.8D, 0.9D)), " +
        "x -> round(x + 1e-9, 6))").as("edges"))
    val binned = tagged.join(broadcast(edges), Seq("event_type"))
      .withColumn("bin", expr(
        "aggregate(edges, 0, (acc, e) -> acc + if(value > e, 1, 0))"))
      .groupBy(col("event_type"), col("is_ref"), col("bin"))
      .agg(count(lit(1)).as("n"))
    val wT = Window.partitionBy(col("event_type"), col("is_ref"))
    val shares = binned
      .withColumn("share", greatest(lit(1e-4),
        col("n") / sum(col("n")).over(wT).cast("double")))
    val ref = shares.filter(col("is_ref"))
      .select(col("event_type"), col("bin"), col("share").as("p"))
    val cur = shares.filter(!col("is_ref"))
      .select(col("event_type"), col("bin"), col("share").as("q"))
    ref.join(cur, Seq("event_type", "bin"), "full_outer")
      .withColumn("p", coalesce(col("p"), lit(1e-4)))
      .withColumn("q", coalesce(col("q"), lit(1e-4)))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_bins"),
        round(sum((col("p") - col("q")) * log(col("p") / col("q")))
          + lit(1e-9), 6).as("psi"))
      .withColumn("drifted", col("psi") > 0.2)
      .orderBy(col("event_type"))
  }

  /** Day-over-day trending movers: each event type's daily volume
    * rank (row_number, type-name tiebreak) and its change vs the
    * previous day, with the volume percent change — the "what's
    * rising" board over the type dimension.
    *
    * Plan: one (day, type) count aggregate; both windows (per-day
    * rank, per-type lag) run over the O(#days × #types) frame. */
  def trending(events: DataFrame): DataFrame = {
    val counts = events
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val wDay = Window.partitionBy(col("day"))
      .orderBy(col("n").desc, col("event_type"))
    val wType = Window.partitionBy(col("event_type")).orderBy(col("day"))
    counts
      .withColumn("rnk", row_number().over(wDay))
      .withColumn("prev_rnk", lag(col("rnk"), 1).over(wType))
      .withColumn("prev_n", lag(col("n"), 1).over(wType))
      .filter(col("prev_rnk").isNotNull)
      .withColumn("rank_delta", col("prev_rnk") - col("rnk"))
      .withColumn("pct_change", when(col("prev_n") > 0,
        round((col("n") - col("prev_n")) / col("prev_n").cast("double")
          + lit(1e-9), 6)))
      .select(col("day"), col("event_type"), col("n"), col("rnk"),
        col("prev_rnk"), col("rank_delta"), col("pct_change"))
      .orderBy(col("day"), col("rnk"))
  }

  /** Winsorized vs raw mean per event type (robust location under the
    * heavy tail [[hillTail]] measures): values clamped to the exact
    * [p05, p95] band before averaging; the gap between the two means
    * is the tail's pull.
    *
    * Plan: exact-percentile fence frame (O(#types)) broadcast back
    * onto one stateless clamp-and-aggregate scan. */
  def winsorizedMean(events: DataFrame): DataFrame = {
    val fences = events.groupBy(col("event_type"))
      .agg(round(expr("percentile(value, 0.05D)") + lit(1e-9), 6).as("p05"),
        round(expr("percentile(value, 0.95D)") + lit(1e-9), 6).as("p95"))
    events.join(broadcast(fences), Seq("event_type"))
      .withColumn("clamped",
        greatest(col("p05"), least(col("p95"), col("value"))))
      .groupBy(col("event_type"), col("p05"), col("p95"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("value")) + lit(1e-9), 4).as("raw_mean"),
        round(avg(col("clamped")) + lit(1e-9), 4).as("winsor_mean"),
        sum((col("value") < col("p05") || col("value") > col("p95"))
          .cast("long")).as("n_clamped"))
      .withColumn("tail_pull",
        round(col("raw_mean") - col("winsor_mean") + lit(1e-9), 4))
      .select(col("event_type"), col("n"), col("n_clamped"), col("p05"),
        col("p95"), col("raw_mean"), col("winsor_mean"), col("tail_pull"))
      .orderBy(col("event_type"))
  }

  /** Behavioral-diversity profile per user: Shannon entropy (bits)
    * and Simpson index of the user's event-type mix — the per-entity
    * diversity screen (single-type users are bots or single-feature
    * users; the indices quantify the spectrum).
    *
    * Plan: one (user, type) count aggregate, then a per-user rollup
    * on the same key prefix — no second shuffle. */
  def userDiversity(events: DataFrame): DataFrame = {
    val tf = events.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val wU = Window.partitionBy(col("user_id"))
    tf.withColumn("tot", sum(col("n")).over(wU))
      .withColumn("p", col("n") / col("tot").cast("double"))
      .groupBy(col("user_id"))
      .agg(max(col("tot")).as("n_events"),
        count(lit(1)).as("n_types"),
        round(-sum(col("p") * log(2.0, col("p"))) + lit(1e-9), 6)
          .as("shannon_bits"),
        round(sum(col("n") * col("n"))
          / (max(col("tot")) * max(col("tot"))).cast("double") + lit(1e-9), 6)
          .as("simpson"))
  }

  /** Inter-arrival-time profile per event type: percentiles and mean
    * of the gap between a user's consecutive events of that type —
    * the cadence fingerprint behind retention/stickiness (bots show
    * degenerate gap distributions, humans heavy-tailed ones).
    *
    * Plan: one lag window per (user, type) on the shared user
    * partitioning, then a keyed exact-percentile aggregate to
    * O(#types) rows. */
  def interEvent(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    events
      .withColumn("gap_s",
        (unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
          / lit(1e6))
      .filter(col("gap_s").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        round(avg(col("gap_s")) + lit(1e-9), 4).as("mean_gap_s"),
        round(expr("percentile(gap_s, 0.5D)") + lit(1e-9), 4).as("p50_gap_s"),
        round(expr("percentile(gap_s, 0.9D)") + lit(1e-9), 4).as("p90_gap_s"))
      .orderBy(col("event_type"))
  }

  /** Burst detection on the dense hourly arrival-count series per
    * event type: hours whose count exceeds μ + 3σ of the type's
    * hourly counts (zero-filled over the full period) — the ops-alert
    * view of traffic spikes.
    *
    * Plan: counts are ONE map-combinable (type, hour) aggregate; the
    * dense grid is #types × #hours (tiny — types come from a distinct
    * aggregate, hours from a broadcast 1-row bounds frame); moments
    * per type ride a second small aggregate and broadcast back. */
  def burstHours(events: DataFrame): DataFrame = {
    val counts = events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("cnt"))
    val bounds = events.agg(
      date_trunc("hour", min(col("ts"))).as("h0"),
      date_trunc("hour", max(col("ts"))).as("h1"))
    val grid = events.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("hour"))
    val dense = grid.join(counts, Seq("event_type", "hour"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
    val moments = dense.groupBy(col("event_type"))
      .agg(round(avg(col("cnt")) + lit(1e-9), 6).as("mu"),
        round(stddev_pop(col("cnt")) + lit(1e-9), 6).as("sd"))
    dense.join(broadcast(moments), Seq("event_type"))
      .filter(col("sd") > 0.0 && col("cnt") > col("mu") + lit(3.0) * col("sd"))
      .withColumn("z", round((col("cnt") - col("mu")) / col("sd") + lit(1e-9), 4))
      .select(col("event_type"), col("hour"), col("cnt"), col("mu"),
        col("sd"), col("z"))
      .orderBy(col("event_type"), col("hour"))
  }

  /** Hill tail-index estimator per event type — "how heavy is the
    * value distribution's upper tail?" (α ≈ 2 borderline-infinite
    * variance; the quantitative backing for [[paretoShare]]'s whale
    * curve): over the top m order statistics, H = mean ln(x_(i)) −
    * ln(x_(m+1)), tail exponent α = 1/H. Types with fewer than m+1
    * positive values drop out.
    *
    * Plan: the rank filter is a WindowGroupLimit top-(m+1) per type —
    * at most m+1 rows leave each map partition, the 100 TB-safe
    * top-k shape — and the estimator is one keyed aggregate over
    * O(m·#types) rows with a single-row-per-type broadcast join for
    * the threshold. */
  def hillTail(events: DataFrame, m: Int = 50): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").desc, col("event_id").asc)
    val top = events.filter(col("value") > 0.0)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= m + 1)
    val thresh = top.filter(col("rn") === m + 1)
      .select(col("event_type"), col("value").as("x_thresh"))
    top.filter(col("rn") <= m)
      .join(broadcast(thresh), Seq("event_type"))
      .groupBy(col("event_type"), col("x_thresh"))
      .agg(count(lit(1)).as("m_used"), sum(log(col("value"))).as("slog"))
      .withColumn("hill",
        round(col("slog") / col("m_used") - log(col("x_thresh")) + lit(1e-9), 6))
      .withColumn("alpha_tail",
        when(col("hill") > 0.0, round(lit(1.0) / col("hill") + lit(1e-9), 4)))
      .select(col("event_type"), col("m_used"), col("x_thresh"),
        col("hill"), col("alpha_tail"))
      .orderBy(col("event_type"))
  }

  /** Tukey-fence (IQR) outliers per event type — the
    * distribution-free companion to the z-score/MAD anomaly lists:
    * values outside [q1 − k·IQR, q3 + k·IQR] with the violated side.
    *
    * Plan: one exact-percentile aggregate to a k-row fence frame,
    * broadcast back onto a second stateless scan — no window over the
    * full stream, no sort. */
  def anomalyIqr(events: DataFrame, k: Double = 1.5): DataFrame = {
    val fences = events.groupBy(col("event_type"))
      .agg(round(expr("percentile(value, 0.25D)") + lit(1e-9), 6).as("q1"),
        round(expr("percentile(value, 0.75D)") + lit(1e-9), 6).as("q3"))
      .withColumn("lo",
        round(col("q1") - lit(k) * (col("q3") - col("q1")) + lit(1e-9), 6))
      .withColumn("hi",
        round(col("q3") + lit(k) * (col("q3") - col("q1")) + lit(1e-9), 6))
    events.join(broadcast(fences), Seq("event_type"))
      .filter(col("value") < col("lo") || col("value") > col("hi"))
      .withColumn("side", when(col("value") < col("lo"), "low").otherwise("high"))
      .select(col("event_id"), col("event_type"), col("value"),
        col("lo"), col("hi"), col("side"))
      .orderBy(col("event_id"))
  }

  /** Entropy rate of the per-user event-type stream under the
    * first-order Markov model (the information-theoretic summary of
    * [[transitions]]): per source state, the conditional entropy
    * H(next|prev) in bits, its stationary weight, and the
    * contribution to the chain's entropy rate Σ π·H.
    *
    * Plan: the lag window + transition count aggregate are the same
    * one-exchange shape as [[transitions]]; entropy assembly runs on
    * the ≤ k² transition matrix. */
  def entropyRate(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val t = events
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val wPrev = Window.partitionBy(col("prev_type"))
    val wAll = Window.partitionBy()
    t.withColumn("n_from", sum(col("n")).over(wPrev))
      .withColumn("total", sum(col("n")).over(wAll))
      .withColumn("p", col("n") / col("n_from").cast("double"))
      .groupBy(col("prev_type"), col("n_from"), col("total"))
      .agg(round(-sum(col("p") * log(2.0, col("p"))) + lit(1e-9), 6).as("h_bits"))
      .withColumn("weight",
        round(col("n_from") / col("total").cast("double") + lit(1e-9), 6))
      .withColumn("rate_contrib",
        round(col("weight") * col("h_bits") + lit(1e-9), 6))
      .select(col("prev_type"), col("n_from"), col("h_bits"), col("weight"),
        col("rate_contrib"))
      .orderBy(col("prev_type"))
  }

  /** χ² test of independence between the A/B variant and event type —
    * "does the variant shift WHAT users do?", the categorical
    * counterpart to [[ttestWelch]]'s "does it shift HOW MUCH?".
    * Expected counts from the margins, Wilson–Hilferty cube-root
    * normal approximation for the p-decision (closed-form, so both
    * engines compute it identically — no χ² table lookup).
    *
    * Plan: one map-combinable count aggregate over events collapses
    * to ≤ #types×2 cells; margins are windows over that tiny frame;
    * everything after the first aggregate is constant-size. */
  def chiSquare(events: DataFrame): DataFrame = {
    val cells = events
      .withColumn("variant", (col("user_id") % 2 === 0).cast("int"))
      .groupBy(col("event_type"), col("variant"))
      .agg(count(lit(1)).as("o"))
    val wRow = Window.partitionBy(col("event_type"))
    val wCol = Window.partitionBy(col("variant"))
    val wAll = Window.partitionBy()
    val contrib = cells
      .withColumn("row_t", sum(col("o")).over(wRow))
      .withColumn("col_t", sum(col("o")).over(wCol))
      .withColumn("n", sum(col("o")).over(wAll))
      .withColumn("e", col("row_t") * col("col_t") / col("n").cast("double"))
      .withColumn("cell", (col("o") - col("e")) * (col("o") - col("e")) / col("e"))
    contrib
      .groupBy(col("n"))
      .agg((count_distinct(col("event_type")) - 1).as("df"),
        round(sum(col("cell")) + lit(1e-9), 4).as("chi2"))
      .withColumn("z_wh",
        round((pow(col("chi2") / col("df"), 1.0 / 3)
          - (lit(1.0) - lit(2.0) / (lit(9.0) * col("df"))))
          / sqrt(lit(2.0) / (lit(9.0) * col("df"))) + lit(1e-9), 4))
      .withColumn("significant", col("z_wh") > 1.645)
      .select(col("n"), col("df"), col("chi2"), col("z_wh"), col("significant"))
  }

  /** One-way ANOVA of event value across event types: between/within
    * decomposition from per-group sufficient moments, F statistic and
    * effect size η². The p-decision goes through the same
    * Wilson–Hilferty closed form as [[chiSquare]] on the large-df
    * approximation χ²(k−1) ≈ (k−1)·F.
    *
    * Plan: ONE map-combinable moment aggregate over events (count /
    * mean / variance per type, k rows); the grand mean and the F
    * assembly run on that k-row frame — a broadcast of one row back
    * onto k rows, never a second scan. */
  def anova(events: DataFrame): DataFrame = {
    val g = events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_i"),
        round(avg(col("value")) + lit(1e-9), 6).as("mean_i"),
        round(var_samp(col("value")) + lit(1e-9), 6).as("v_i"))
    val grand = g.agg(sum(col("n_i")).as("n"), count(lit(1)).as("k"),
      round(sum(col("n_i") * col("mean_i")) / sum(col("n_i")) + lit(1e-9), 6)
        .as("gm"))
    g.crossJoin(broadcast(grand))
      .groupBy(col("n"), col("k"), col("gm"))
      .agg(sum(col("n_i") * (col("mean_i") - col("gm"))
          * (col("mean_i") - col("gm"))).as("ssb"),
        sum((col("n_i") - 1) * col("v_i")).as("ssw"))
      .withColumn("f_stat",
        round((col("ssb") / (col("k") - 1)) / (col("ssw") / (col("n") - col("k")))
          + lit(1e-9), 4))
      .withColumn("eta_sq",
        round(col("ssb") / (col("ssb") + col("ssw")) + lit(1e-9), 6))
      .withColumn("chi2", round((col("k") - 1) * col("f_stat") + lit(1e-9), 4))
      .withColumn("z_wh",
        round((pow(col("chi2") / (col("k") - 1), 1.0 / 3)
          - (lit(1.0) - lit(2.0) / (lit(9.0) * (col("k") - 1))))
          / sqrt(lit(2.0) / (lit(9.0) * (col("k") - 1))) + lit(1e-9), 4))
      .withColumn("significant", col("z_wh") > 1.645)
      .select(col("n"), col("k"), col("f_stat"), col("eta_sq"),
        col("z_wh"), col("significant"))
  }

  /** Kruskal–Wallis H test across the event-type groups (the
    * nonparametric one-way ANOVA — are the k value distributions
    * stochastically equal?), with the standard tie correction
    * C = 1 − Σ(t³−t)/(N³−N) and the Wilson–Hilferty χ²→z mapping the
    * other tests here use.
    *
    * Plan: ranks come from the mannWhitney tie-block trick — ONE
    * aggregate to the distinct-value frame, cumulative average ranks
    * over it (at 100 TB the same ordinal is an
    * [[graft.core.Ordinals.running]] pass — no row-level global sort
    * either way), then a keyed (type, value) join and two tiny
    * rollups. R_j sums are exact-long-weighted doubles; only the O(1)
    * H statistic rounds. */
  def kruskalWallis(events: DataFrame): DataFrame = {
    val blocks = events.groupBy(col("value")).agg(count(lit(1)).as("cnt"))
    val wv = Window.orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = blocks.withColumn("avg_rank",
      sum(col("cnt")).over(wv).cast("double") - (col("cnt") - 1) / lit(2.0))
    val gv = events.groupBy(col("event_type"), col("value"))
      .agg(count(lit(1)).as("cnt_g"))
    val rj = gv.join(ranked.select(col("value"), col("avg_rank")), Seq("value"))
      .groupBy(col("event_type"))
      .agg(sum(col("cnt_g")).as("n_j"),
        sum(col("cnt_g") * col("avg_rank")).as("r_j"))
    val ties = blocks.agg(sum(col("cnt")).as("n"),
      sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("tie_sum"))
    rj.crossJoin(broadcast(ties))
      .groupBy(col("n"), col("tie_sum"))
      .agg(count(lit(1)).as("k"),
        sum(col("r_j") * col("r_j") / col("n_j")).as("s"))
      .withColumn("h_raw",
        lit(12.0) / (col("n") * (col("n") + 1)) * col("s")
          - lit(3.0) * (col("n") + 1))
      .withColumn("c",
        lit(1.0) - col("tie_sum").cast("double")
          / (col("n") * col("n") * col("n") - col("n")))
      .withColumn("h",
        when(col("c") > 0.0, round(col("h_raw") / col("c") + lit(1e-9), 4)))
      .withColumn("z_wh",
        round((pow(col("h") / (col("k") - 1), 1.0 / 3)
          - (lit(1.0) - lit(2.0) / (lit(9.0) * (col("k") - 1))))
          / sqrt(lit(2.0) / (lit(9.0) * (col("k") - 1))) + lit(1e-9), 4))
      .withColumn("significant", col("z_wh") > 1.645)
      .select(col("n"), col("k"), col("h"), col("z_wh"), col("significant"))
  }

  /** Brown–Forsythe (median-based Levene) test for equal variances
    * across event types — the robust pre-flight before any
    * pooled-variance test: one-way ANOVA F on the absolute deviations
    * from each group's median.
    *
    * Plan: exact group medians (one keyed exact-percentile aggregate
    * to O(k) rows) broadcast back onto a stateless |x − med|
    * projection, then exactly [[anova]]'s plan on the transformed
    * frame. */
  def leveneBrownForsythe(events: DataFrame): DataFrame = {
    val med = events.groupBy(col("event_type"))
      .agg(round(expr("percentile(value, 0.5D)") + lit(1e-9), 6).as("med"))
    val z = events.join(broadcast(med), Seq("event_type"))
      .select(col("event_type"),
        abs(col("value") - col("med")).as("value"))
    anova(z)
      .select(col("n"), col("k"), col("f_stat").as("w_stat"),
        col("z_wh"), col("significant"))
  }

  /** Tukey–Kramer HSD post-hoc over the event-type groups — what the
    * analyst runs AFTER q_anova rejects: which PAIRS differ? Pooled
    * within-group MSE, pairwise studentized-range statistic with the
    * unequal-n Kramer SE, fixed q-critical 3.86 (k = 5, df → ∞,
    * α = 0.05).
    *
    * Plan: one keyed moment aggregate to O(k) group rows, pair
    * enumeration on the broadcast k-row frame (k² ≤ 25 rows),
    * stateless closed form. */
  def tukeyHsd(events: DataFrame): DataFrame = {
    val g = events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("value")) + lit(1e-9), 6).as("mean"),
        round(var_samp(col("value")) + lit(1e-9), 6).as("v"))
    val mse = g.agg((sum((col("n") - 1) * col("v"))
      / sum(col("n") - 1)).as("mse"))
    val a = g.select(col("event_type").as("type_a"), col("n").as("n_a"),
      col("mean").as("mean_a"))
    val b = g.select(col("event_type").as("type_b"), col("n").as("n_b"),
      col("mean").as("mean_b"))
    // ≤ |event types| rows by construction; the limit marks the
    // nested-loop side as constant-bounded for the plan guard
    a.join(broadcast(b.limit(10)), col("type_a") < col("type_b"))
      .crossJoin(broadcast(mse))
      .withColumn("diff", round(col("mean_a") - col("mean_b") + lit(1e-9), 6))
      .withColumn("se",
        sqrt(col("mse") / 2 * (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))))
      .withColumn("q_stat", round(abs(col("diff")) / col("se") + lit(1e-9), 4))
      .withColumn("significant", col("q_stat") > 3.86)
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("diff"), round(col("se") + lit(1e-9), 6).as("se"),
        col("q_stat"), col("significant"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** CUPED variance reduction (Deng et al. 2013 — the industry-
    * standard A/B sensitivity boost): per user the pre-period
    * (days < 16) value is the covariate for the post-period metric;
    * θ = cov(pre, post)/var(pre) pooled across variants, adjusted
    * metric Y − θ·(X − X̄). Reports per variant the raw vs adjusted
    * mean and the variance-reduction share θ²·var(X)/var(Y) realizes.
    *
    * Plan: one keyed user collapse (two half-period sums in one
    * pass), a scalar θ frame broadcast back, one variant rollup —
    * all map-combinable moment sums. */
  def cuped(events: DataFrame): DataFrame = {
    val byUser = events
      .groupBy(col("user_id"))
      .agg(
        round(sum(when(dayofmonth(col("ts")) < 16, col("value"))
          .otherwise(lit(0.0))) + lit(1e-9), 3).as("pre"),
        round(sum(when(dayofmonth(col("ts")) >= 16, col("value"))
          .otherwise(lit(0.0))) + lit(1e-9), 3).as("post"))
      .withColumn("variant", (col("user_id") % 2 === 0).cast("int"))
    val theta = byUser.agg(count(lit(1)).as("n_all"),
        avg(col("pre")).as("mx"), avg(col("post")).as("my"),
        avg(col("pre") * col("post")).as("mxy"),
        avg(col("pre") * col("pre")).as("mxx"))
      .withColumn("var_x", col("mxx") - col("mx") * col("mx"))
      .withColumn("theta",
        when(col("var_x") > 0.0,
          round((col("mxy") - col("mx") * col("my")) / col("var_x")
            + lit(1e-9), 6)).otherwise(lit(0.0)))
      .select(col("theta"), round(col("mx") + lit(1e-9), 6).as("mx"))
    byUser.crossJoin(broadcast(theta))
      .withColumn("adj", col("post") - col("theta") * (col("pre") - col("mx")))
      .groupBy(col("variant"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("post")) + lit(1e-9), 6).as("mean_post"),
        round(avg(col("adj")) + lit(1e-9), 6).as("mean_adj"),
        round(var_samp(col("post")) + lit(1e-9), 4).as("var_post"),
        round(var_samp(col("adj")) + lit(1e-9), 4).as("var_adj"))
      .withColumn("var_reduction",
        when(col("var_post") > 0.0,
          round(lit(1.0) - col("var_adj") / col("var_post") + lit(1e-9), 6)))
      .orderBy(col("variant"))
  }

  /** Difference-in-differences over the half-month split (treatment =
    * odd user ids, post = days ≥ 16): DiD = (T₂−T₁) − (C₂−C₁) with
    * the four-cell pooled SE and z — the causal-inference workhorse
    * when assignment isn't random over time.
    *
    * Plan: ONE map-combinable aggregate to the 2×2 cell frame,
    * closed form on 4 rows. */
  def diffInDiff(events: DataFrame): DataFrame = {
    val cells = events
      .withColumn("treated", (col("user_id") % 2 === 1).cast("int"))
      .withColumn("post", (dayofmonth(col("ts")) >= 16).cast("int"))
      .groupBy(col("treated"), col("post"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("value")) + lit(1e-9), 6).as("mean"),
        round(var_samp(col("value")) + lit(1e-9), 6).as("v"))
    def cell(t: Int, p: Int, c: String) =
      max(when(col("treated") === t && col("post") === p, col(c)))
    cells.agg(
        cell(1, 1, "mean").as("t_post"), cell(1, 0, "mean").as("t_pre"),
        cell(0, 1, "mean").as("c_post"), cell(0, 0, "mean").as("c_pre"),
        (cell(1, 1, "v") / cell(1, 1, "n") + cell(1, 0, "v") / cell(1, 0, "n")
          + cell(0, 1, "v") / cell(0, 1, "n")
          + cell(0, 0, "v") / cell(0, 0, "n")).as("se2"))
      .withColumn("did",
        round((col("t_post") - col("t_pre")) - (col("c_post") - col("c_pre"))
          + lit(1e-9), 6))
      .withColumn("se", round(sqrt(col("se2")) + lit(1e-9), 6))
      .withColumn("z", round(col("did") / col("se") + lit(1e-9), 4))
      .withColumn("significant", abs(col("z")) > 1.96)
      .select(col("t_pre"), col("t_post"), col("c_pre"), col("c_post"),
        col("did"), col("se"), col("z"), col("significant"))
  }

  /** Minimum detectable effect of the standing A/B split (80% power,
    * two-sided 5%): MDE = (1.96 + 0.8416)·√(s²ₐ/nₐ + s²_b/n_b) per
    * event type, absolute and relative to the control mean — the
    * pre-experiment sizing readout.
    *
    * Plan: one keyed moment aggregate to (type, variant), closed
    * form on the O(k) pair frame. */
  def mdePower(events: DataFrame): DataFrame = {
    val m = events
      .withColumn("variant", (col("user_id") % 2 === 0).cast("int"))
      .groupBy(col("event_type"), col("variant"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("value")) + lit(1e-9), 6).as("mean"),
        round(var_samp(col("value")) + lit(1e-9), 6).as("v"))
    val a = m.filter(col("variant") === 1)
      .select(col("event_type"), col("n").as("n_a"), col("v").as("v_a"))
    val b = m.filter(col("variant") === 0)
      .select(col("event_type"), col("n").as("n_b"),
        col("mean").as("mean_b"), col("v").as("v_b"))
    a.join(b, Seq("event_type"))
      .withColumn("mde_abs",
        round(lit(1.96 + 0.8416)
          * sqrt(col("v_a") / col("n_a") + col("v_b") / col("n_b"))
          + lit(1e-9), 6))
      .withColumn("mde_rel",
        when(col("mean_b") =!= 0.0,
          round(col("mde_abs") / col("mean_b") + lit(1e-9), 6)))
      .select(col("event_type"), col("n_a"), col("n_b"), col("mean_b"),
        col("mde_abs"), col("mde_rel"))
      .orderBy(col("event_type"))
  }

  /** Weekly growth accounting (the SaaS "quick ratio" ledger): every
    * active user-week is NEW (first week), RETAINED (also active
    * the previous week) or RESURRECTED (returned after a gap);
    * churned(w) = active(w−1) − retained(w), one output row per
    * `week`. Quick ratio = (new + resurrected) / churned — the
    * one-number growth-quality gauge.
    *
    * Plan: one distinct (user, week) collapse, ONE user-partitioned
    * lag window over the ≤ #weeks rows per user, a keyed week
    * rollup, and the churn lag runs on the O(#weeks) frame. */
  def growthAccounting(events: DataFrame): DataFrame = {
    val um = events.select(col("user_id"),
      trunc(to_date(col("ts")), "week").as("wk")).distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("wk"))
    val flags = um.withColumn("prev_wk", lag(col("wk"), 1).over(w))
      .withColumn("status",
        when(col("prev_wk").isNull, "new")
          .when(datediff(col("wk"), col("prev_wk")) === 7, "retained")
          .otherwise("resurrected"))
    val counts = flags.groupBy(col("wk"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("status") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("status") === "retained", 1L).otherwise(0L)).as("n_retained"),
        sum(when(col("status") === "resurrected", 1L).otherwise(0L))
          .as("n_resurrected"))
    val wm = Window.orderBy(col("wk"))
    counts.withColumn("prev_active", lag(col("n_active"), 1).over(wm))
      .withColumn("n_churned",
        when(col("prev_active").isNotNull,
          col("prev_active") - col("n_retained")))
      .withColumn("quick_ratio",
        when(col("n_churned") > 0,
          round((col("n_new") + col("n_resurrected"))
            / col("n_churned").cast("double") + lit(1e-9), 4)))
      .select(col("wk").as("week"), col("n_active"), col("n_new"),
        col("n_retained"), col("n_resurrected"), col("n_churned"),
        col("quick_ratio"))
      .orderBy(col("week"))
  }

  def kaplanMeier(events: DataFrame): DataFrame = {
    val users = events.groupBy(col("user_id"))
      .agg(to_date(min(col("ts"))).as("d0"), to_date(max(col("ts"))).as("d1"))
    val horizon = events.agg(to_date(max(col("ts"))).as("dmax"))
    val lifetimes = users.crossJoin(broadcast(horizon))
      .select(datediff(col("d1"), col("d0")).as("lifetime"),
        (col("d1") === col("dmax")).cast("int").as("censored"))
    val perDay = lifetimes.groupBy(col("lifetime"))
      .agg(count(lit(1)).as("n_end"),
        sum(col("censored")).as("n_censored"))
      .withColumn("n_churn", col("n_end") - col("n_censored"))
    val w = Window.orderBy(col("lifetime"))
    val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDay
      .withColumn("n_total", sum(col("n_end")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("n_risk", col("n_total")
        - coalesce(sum(col("n_end")).over(
            w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("lnterm",
        when(col("n_churn") > 0,
          log(lit(1.0) - col("n_churn") / col("n_risk"))).otherwise(lit(0.0)))
      .withColumn("survival",
        round(exp(sum(col("lnterm")).over(wCum)) + lit(1e-9), 6))
      .select(col("lifetime"), col("n_risk"), col("n_churn"),
        col("n_censored"), col("survival"))
      .orderBy(col("lifetime"))
  }

  /** Nelson–Aalen cumulative-hazard estimator — the companion of
    * [[kaplanMeier]] on the identical lifetime frame (same censoring
    * convention: a user last seen on the horizon day is censored):
    * H(t) = Σ_{s≤t} d_s/n_risk(s) with variance Σ d_s/n_risk(s)², the
    * estimator of choice when hazard INCREMENTS matter (burn-in /
    * wear-out readouts) rather than survival levels.
    *
    * Plan: identical to kaplanMeier — one user collapse, one lifetime
    * aggregate, cumulative windows over the tiny per-day frame; every
    * term is a ratio of exact integers so the cumsum is
    * order-deterministic. */
  def nelsonAalen(events: DataFrame): DataFrame = {
    val users = events.groupBy(col("user_id"))
      .agg(to_date(min(col("ts"))).as("d0"), to_date(max(col("ts"))).as("d1"))
    val horizon = events.agg(to_date(max(col("ts"))).as("dmax"))
    val lifetimes = users.crossJoin(broadcast(horizon))
      .select(datediff(col("d1"), col("d0")).as("lifetime"),
        (col("d1") === col("dmax")).cast("int").as("censored"))
    val perDay = lifetimes.groupBy(col("lifetime"))
      .agg(count(lit(1)).as("n_end"),
        sum(col("censored")).as("n_censored"))
      .withColumn("n_churn", col("n_end") - col("n_censored"))
    val w = Window.orderBy(col("lifetime"))
    val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDay
      .withColumn("n_total", sum(col("n_end")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("n_risk", col("n_total")
        - coalesce(sum(col("n_end")).over(
            w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("h_inc", col("n_churn") / col("n_risk").cast("double"))
      .withColumn("v_inc", col("n_churn")
        / (col("n_risk") * col("n_risk")).cast("double"))
      .withColumn("cum_hazard", round(sum(col("h_inc")).over(wCum) + lit(1e-9), 6))
      .withColumn("hazard_se",
        round(sqrt(sum(col("v_inc")).over(wCum)) + lit(1e-9), 6))
      .select(col("lifetime"), col("n_risk"), col("n_churn"),
        col("cum_hazard"), col("hazard_se"))
      .orderBy(col("lifetime"))
  }

  /** Markov-chain multi-touch attribution by removal effect (the
    * principled alternative to the positional models in
    * [[attribution]]): user journeys become a first-order chain over
    * event types — START opens each journey (user start and after
    * every purchase), purchase absorbs as CONV, a journey that just
    * stops absorbs as END — and each channel's credit is how much the
    * absorption probability P(CONV | START) DROPS when that channel is
    * cut out of the chain (its states contribute zero flow), shares
    * normalized over channels.
    *
    * Absorption probabilities come from `iterations` rounds of the
    * fixed-point p ← P·w (w: CONV = 1, END/removed = 0, channel =
    * previous p), each round rounded to 10 dp so both engines walk the
    * identical trajectory — the pageRank discipline.
    *
    * Plan: the BIG-data part is one lag/lead window over (user ORDER
    * BY ts, id) + one keyed count — the chain itself is an
    * ≤64-state frame, collected once; the value iteration runs
    * driver-side over it as a pure fold. */
  def markovAttribution(events: DataFrame, iterations: Int = 16): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val seq0 = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("nxt", lead(col("event_type"), 1).over(w))
      .withColumn("rn", row_number().over(w))
    val first = seq0.filter(col("rn") === 1)
      .select(lit("START").as("src"),
        when(col("event_type") === "purchase", lit("CONV"))
          .otherwise(col("event_type")).as("dst"))
    val mid = seq0.filter(col("nxt").isNotNull)
      .select(
        when(col("event_type") === "purchase", lit("START"))
          .otherwise(col("event_type")).as("src"),
        when(col("nxt") === "purchase", lit("CONV"))
          .otherwise(col("nxt")).as("dst"))
    val lastT = seq0.filter(col("nxt").isNull && col("event_type") =!= "purchase")
      .select(col("event_type").as("src"), lit("END").as("dst"))
    val probs = first.unionByName(mid).unionByName(lastT)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("cnt"))
      .withColumn("p", col("cnt")
        / sum(col("cnt")).over(Window.partitionBy(col("src"))).cast("double"))
      .select(col("src"), col("dst"), col("p"))
    // Chain states are event types (+START/CONV/END) — a ≤64-state
    // transition matrix, the declared tiny-dim exception (SURVEY §5
    // "tiny fitted state folds into the plan as literals"): collect
    // it ONCE and run the removal-effect value iteration driver-side
    // as a pure fold. The big-data work — the journey scan and the
    // transition counting — stays distributed above; iterating a
    // 64×64 matrix through 16 distributed checkpoint rounds was pure
    // scheduling overhead (~5 s of it at sf0.1).
    val pRows = probs.collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    require(pRows.map(_._1).distinct.length <= 64,
      s"event-type chain exploded past 64 states")
    val states = pRows.map(_._1).distinct.sorted
    // deterministic term order per src (DuckDB's own sum order differs
    // anyway; the per-iteration 10-dp round absorbs ulp effects for
    // these ≤#states-term sums, same as it did for the shuffled agg)
    val bySrc = pRows.groupBy(_._1).map { case (s, ts) =>
      s -> ts.sortBy(_._2)
    }
    def round10(x: Double): Double =
      BigDecimal(x).setScale(10, BigDecimal.RoundingMode.HALF_UP).toDouble
    def converge(removed: String): Double = {
      var pconv = states.map(_ -> 0.0).toMap
      (1 to iterations).foreach { _ =>
        pconv = states.map { s =>
          val v = bySrc.getOrElse(s, Array.empty[(String, String, Double)])
            .map { case (_, dst, p) =>
              val wgt =
                if (dst == "CONV") 1.0
                else if (dst == "END" || dst == removed) 0.0
                else pconv.getOrElse(dst, 0.0)
              p * wgt
            }.sum
          s -> round10(v)
        }.toMap
      }
      pconv.getOrElse("START", 0.0)
    }
    val baseConv = converge("")
    val channels = states.filter(_ != "START")
    val effs = channels.map { ch =>
      val rc = converge(ch)
      (ch, rc, (baseConv - rc) / baseConv)
    }
    val totEff = effs.map(_._3).sum
    def round6(x: Double): Double =
      BigDecimal(x + 1e-9).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val spark = events.sparkSession
    import spark.implicits._
    effs.toSeq.map { case (ch, rc, eff) =>
      (ch, round6(baseConv), round6(rc), round6(eff),
        if (totEff > 0) Some(round6(eff / totEff)) else None)
    }.toDF("channel", "base_conv", "removal_conv", "removal_effect",
      "attribution")
      .orderBy(col("channel"))
  }

  /** Exact Shapley-value multi-touch attribution — the axiomatic
    * counterpart to [[markovAttribution]]'s removal effects: channels
    * are the non-purchase event types, a user's journey is their
    * DISTINCT channel set, and the coalition value v(S) counts
    * converted users whose whole journey fits inside S. Each channel's
    * Shapley value is the usual weighted sum of marginal contributions
    * Σ_S |S|!·(C−1−|S|)!/C! · [v(S∪{i}) − v(S)] — exact (all 2^C
    * coalitions), not sampled, because C is the event-type alphabet.
    *
    * Plan: the BIG-data part is two user-keyed collapses (distinct
    * user×channel pairs → bitmask, distinct converters) — everything
    * after lives on the ≤2^C-row mask-count frame: subset enumeration
    * via `sequence`+explode off the scalar channel count, v(S) by a
    * broadcast bitwise-subset join, weights from exact `factorial`.
    * The driver never collects; 2^C stays a few dozen rows while the
    * user collapse is the only shuffle that scales with data. */
  def shapleyAttribution(events: DataFrame): DataFrame = {
    val chan = events.filter(col("event_type") =!= "purchase")
      .select(col("event_type").as("channel")).distinct()
      .withColumn("bit",
        (row_number().over(Window.orderBy(col("channel"))) - 1).cast("int"))
    val userChan = events.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_type").as("channel")).distinct()
      .join(broadcast(chan), Seq("channel"))
    val allUsers = events.select(col("user_id")).distinct()
    val userMask = allUsers
      .join(userChan.groupBy(col("user_id"))
        .agg(sum(expr("shiftleft(1L, bit)")).as("m")), Seq("user_id"), "left")
      .select(col("user_id"), coalesce(col("m"), lit(0L)).as("mask"))
    val conv = events.filter(col("event_type") === "purchase")
      .select(col("user_id")).distinct().withColumn("is_conv", lit(1L))
    val maskCounts = userMask.join(conv, Seq("user_id"), "left")
      .groupBy(col("mask"))
      .agg(sum(coalesce(col("is_conv"), lit(0L))).as("n_conv"))
    val cRow = chan.agg(count(lit(1)).cast("int").as("n_chan"))
    val subsets = cRow.select(col("n_chan"),
      explode(sequence(lit(0L), expr("shiftleft(1L, n_chan) - 1"))).as("s"))
    val v = subsets.join(broadcast(maskCounts),
        col("mask").bitwiseAND(col("s")) === col("mask"), "left")
      .groupBy(col("n_chan"), col("s"))
      .agg(sum(coalesce(col("n_conv"), lit(0L))).as("v"))
    val without = chan.crossJoin(broadcast(v))
      .filter(col("s").bitwiseAND(expr("shiftleft(1L, bit)")) === 0L)
      .withColumn("s1", col("s").bitwiseOR(expr("shiftleft(1L, bit)")))
    val sh = without
      .join(broadcast(v.select(col("s").as("s1"), col("v").as("v1"))), Seq("s1"))
      .withColumn("sz", expr("bit_count(s)"))
      .withColumn("w", factorial(col("sz")) * factorial(col("n_chan") - 1 - col("sz"))
        / factorial(col("n_chan")).cast("double"))
      .groupBy(col("channel"))
      .agg(round(sum(col("w") * (col("v1") - col("v"))) + lit(1e-9), 6).as("shapley"))
    val tot = sh.agg(sum(col("shapley")).as("tot"))
    sh.crossJoin(broadcast(tot))
      .select(col("channel"), col("shapley"),
        when(col("tot") > 0,
          round(col("shapley") / col("tot") + lit(1e-9), 6)).as("share"))
      .orderBy(col("channel"))
  }

  /** Type-2 slowly-changing-dimension build from the event stream —
    * the warehouse history primitive: each user's state on a day is
    * that day's LAST event type (latest ts, event_id tie-break), and
    * consecutive equal-state days collapse into versioned validity
    * intervals [valid_from, valid_to] with an open current row — the
    * gaps-and-islands pattern every dimensional model materializes.
    *
    * Plan: the day's last event is a keyed `max(struct(ts, event_id,
    * type))` aggregate — no window, map-side combinable; change
    * detection + island numbering + interval close are user-partitioned
    * window passes over the already-collapsed daily frame, all
    * partition-local per user. At 100 TB the only frame-scale shuffle
    * is the (user, day) collapse; the window passes ride its
    * partitioning. */
  def scd2States(events: DataFrame): DataFrame = {
    val daily = events
      .withColumn("day", to_date(col("ts")))
      .groupBy(col("user_id"), col("day"))
      .agg(max(struct(col("ts"), col("event_id"), col("event_type"))).as("last"))
      .select(col("user_id"), col("day"), col("last.event_type").as("state"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val isl = daily
      .withColumn("prev", lag(col("state"), 1).over(w))
      .withColumn("chg",
        when(col("prev").isNull || col("state") =!= col("prev"), 1L).otherwise(0L))
      .withColumn("version", sum(col("chg")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val iv = isl.groupBy(col("user_id"), col("version"), col("state"))
      .agg(min(col("day")).as("valid_from"),
        count(lit(1)).as("n_days"))
    val w2 = Window.partitionBy(col("user_id")).orderBy(col("valid_from"))
    // open rows close at the conventional SCD2 sentinel 9999-12-31
    // rather than NULL — the standard warehouse idiom, and it keeps
    // the date column non-nullable for downstream range predicates
    iv.withColumn("next_from", lead(col("valid_from"), 1).over(w2))
      .withColumn("is_current", col("next_from").isNull)
      .withColumn("valid_to", coalesce(date_sub(col("next_from"), 1),
        to_date(lit("9999-12-31"))))
      .select(col("user_id"), col("version"), col("state"),
        col("valid_from"), col("valid_to"), col("n_days"), col("is_current"))
      .orderBy(col("user_id"), col("version"))
  }

  /** A/B sample-ratio-mismatch guard on the standing user-parity
    * split — the first sanity gate of any experiment readout (a
    * lopsided split invalidates every downstream stat, including
    * [[ttestWelch]]/[[cuped]] on the same split): per event type,
    * distinct exposed users per variant, χ² against the designed
    * 50/50 (1 dof, critical 3.841).
    *
    * Plan: one (type, variant, user) distinct collapse + one keyed
    * pivot rollup — the distinct is the only data-scale shuffle. */
  def abSrm(events: DataFrame): DataFrame = {
    val u = events
      .withColumn("variant", (col("user_id") % 2 === 0).cast("int"))
      .select(col("event_type"), col("variant"), col("user_id")).distinct()
    u.groupBy(col("event_type"))
      .agg(sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"))
      .withColumn("n", col("n_a") + col("n_b"))
      .withColumn("share_a",
        round(col("n_a") / col("n").cast("double") + lit(1e-9), 6))
      .withColumn("chi2", round((col("n_a") - col("n_b")).cast("double")
        * (col("n_a") - col("n_b")) / col("n") + lit(1e-9), 6))
      .withColumn("srm", col("chi2") > 3.841)
      .select(col("event_type"), col("n_a"), col("n_b"), col("share_a"),
        col("chi2"), col("srm"))
      .orderBy(col("event_type"))
  }

  /** Always-valid sequential A/B test (mSPRT with a normal mixing
    * prior, Johari et al. 2017-style) on the standing user_id%2
    * split: per day the CUMULATIVE event-level purchase rates of
    * both arms, the mixture likelihood ratio in log space
    * log Λ = ½·ln(V/(V+τ²)) + δ²τ²/(2V(V+τ²)) with pooled variance
    * V = p̂(1−p̂)(1/n_A + 1/n_B), and the always-valid p-value
    * p_t = min(1, exp(−max_{m≤t} log Λ_m)) — the "peek whenever you
    * want" replacement for the fixed-horizon z-test.
    *
    * Plan: one daily keyed aggregate over events, cumulative sums on
    * the per-variant day frame (2 × #days rows), a day-keyed join to
    * lay the arms side by side, and a running max over the O(#days)
    * result — every window operates on the tiny daily frame, never
    * on raw events. */
  def msprt(events: DataFrame, tau2: Double = 1e-4): DataFrame = {
    val daily = events
      .withColumn("variant", (col("user_id") % 2 === 0).cast("int"))
      .groupBy(to_date(col("ts")).as("day"), col("variant"))
      .agg(count(lit(1)).as("n_ev"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_conv"))
    val w = Window.partitionBy(col("variant")).orderBy(col("day"))
    val cum = daily
      .withColumn("n", sum(col("n_ev")).over(w))
      .withColumn("x", sum(col("n_conv")).over(w))
    val a = cum.filter(col("variant") === 0)
      .select(col("day"), col("n").as("n_a"), col("x").as("x_a"))
    val b = cum.filter(col("variant") === 1)
      .select(col("day"), col("n").as("n_b"), col("x").as("x_b"))
    val wd = Window.orderBy(col("day")) // O(#days) frame — bounded by the calendar
    a.join(b, Seq("day"))
      .withColumn("p_pool", (col("x_a") + col("x_b"))
        / (col("n_a") + col("n_b")).cast("double"))
      .withColumn("delta", col("x_b") / col("n_b").cast("double")
        - col("x_a") / col("n_a").cast("double"))
      .withColumn("v", col("p_pool") * (lit(1.0) - col("p_pool"))
        * (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
      .filter(col("v") > 0.0)
      .withColumn("log_lambda",
        lit(0.5) * log(col("v") / (col("v") + lit(tau2)))
          + col("delta") * col("delta") * lit(tau2)
          / (lit(2.0) * col("v") * (col("v") + lit(tau2))))
      .withColumn("p_always_valid", round(least(lit(1.0),
        exp(-max(col("log_lambda")).over(wd))) + lit(1e-9), 6))
      .withColumn("significant", col("p_always_valid") < 0.05)
      .withColumn("delta", round(col("delta") + lit(1e-9), 6))
      .withColumn("log_lambda", round(col("log_lambda") + lit(1e-9), 6))
      .select(col("day"), col("n_a"), col("n_b"), col("x_a"), col("x_b"),
        col("delta"), col("log_lambda"), col("p_always_valid"),
        col("significant"))
      .orderBy(col("day"))
  }

  /** Two-sample Poisson rate-ratio test per event type on the
    * standing user_id%2 split — the A/B readout for RATE metrics
    * (events per exposed user) where the two-proportion z only covers
    * binary conversion: per arm the event count x and exposed-user
    * count n, rate λ = x/n, the log rate ratio with its delta-method
    * CI log(λB/λA) ± 1.96·√(1/xA + 1/xB), and the z statistic.
    *
    * Plan: one distinct-user collapse and one event-count aggregate
    * per (type, arm) — two keyed shuffles over collapsed frames, the
    * test itself a stateless projection on O(#types) rows. */
  def poissonRatio(events: DataFrame): DataFrame = {
    val arm = (col("user_id") % 2 === 0).cast("int").as("variant")
    val users = events.select(col("event_type"), arm, col("user_id")).distinct()
      .groupBy(col("event_type"), col("variant")).agg(count(lit(1)).as("n_users"))
    val counts = events.select(col("event_type"), arm)
      .groupBy(col("event_type"), col("variant")).agg(count(lit(1)).as("x"))
    val both = counts.join(users, Seq("event_type", "variant"))
    val a = both.filter(col("variant") === 0)
      .select(col("event_type"), col("x").as("x_a"), col("n_users").as("n_a"))
    val b = both.filter(col("variant") === 1)
      .select(col("event_type"), col("x").as("x_b"), col("n_users").as("n_b"))
    a.join(b, Seq("event_type"))
      .filter(col("x_a") > 0 && col("x_b") > 0)
      .withColumn("rate_a", round(col("x_a") / col("n_a").cast("double") + lit(1e-9), 6))
      .withColumn("rate_b", round(col("x_b") / col("n_b").cast("double") + lit(1e-9), 6))
      .withColumn("log_ratio",
        log((col("x_b") / col("n_b").cast("double"))
          / (col("x_a") / col("n_a").cast("double"))))
      .withColumn("se", sqrt(lit(1.0) / col("x_a") + lit(1.0) / col("x_b")))
      .withColumn("z", round(col("log_ratio") / col("se") + lit(1e-9), 4))
      .withColumn("ci_lo", round(col("log_ratio") - lit(1.96) * col("se") + lit(1e-9), 6))
      .withColumn("ci_hi", round(col("log_ratio") + lit(1.96) * col("se") + lit(1e-9), 6))
      .withColumn("log_ratio", round(col("log_ratio") + lit(1e-9), 6))
      .withColumn("significant", abs(col("z")) > 1.96)
      .select(col("event_type"), col("x_a"), col("n_a"), col("x_b"), col("n_b"),
        col("rate_a"), col("rate_b"), col("log_ratio"), col("ci_lo"),
        col("ci_hi"), col("z"), col("significant"))
      .orderBy(col("event_type"))
  }

  /** Heterogeneous-treatment-effect (uplift) table for the standing
    * A/B split — who does the treatment actually move? Users segment
    * by PRE-period engagement (event count on days < 16, banded
    * against the network mean: light < 0.75·mean ≤ medium ≤
    * 1.25·mean < heavy — scale-free, and exact on both engines since
    * the mean is an integer-sum ratio), outcome
    * is a post-period purchase (days ≥ 16); per segment the treated
    * vs control conversion gap with the pooled two-proportion SE and
    * z — the readout behind every targeting decision.
    *
    * Plan: ONE user-keyed collapse builds (segment, variant, converted)
    * then a keyed pivot rollup; integer ratios all the way, so both
    * engines agree bit-for-bit before the final rounding. */
  def upliftSegments(events: DataFrame): DataFrame = {
    val byUser = events.groupBy(col("user_id"))
      .agg(sum(when(dayofmonth(col("ts")) < 16, 1L).otherwise(0L)).as("pre_n"),
        max(when(dayofmonth(col("ts")) >= 16
          && col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
      .withColumn("variant", (col("user_id") % 2 === 0).cast("int"))
    val meanPre = byUser.agg(avg(col("pre_n")).as("mean_pre"))
    val seg = byUser.crossJoin(broadcast(meanPre))
      .withColumn("segment",
        when(col("pre_n") < lit(0.75) * col("mean_pre"), "0_light")
          .when(col("pre_n") <= lit(1.25) * col("mean_pre"), "1_medium")
          .otherwise("2_heavy"))
    seg.groupBy(col("segment"))
      .agg(
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_t"),
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_c"),
        sum(when(col("variant") === 1, col("conv")).otherwise(0L)).as("conv_t"),
        sum(when(col("variant") === 0, col("conv")).otherwise(0L)).as("conv_c"))
      .filter(col("n_t") > 0 && col("n_c") > 0)
      .withColumn("p_t", round(col("conv_t") / col("n_t").cast("double") + lit(1e-9), 6))
      .withColumn("p_c", round(col("conv_c") / col("n_c").cast("double") + lit(1e-9), 6))
      .withColumn("uplift", round(col("p_t") - col("p_c") + lit(1e-9), 6))
      .withColumn("p_pool",
        (col("conv_t") + col("conv_c")) / (col("n_t") + col("n_c")).cast("double"))
      .withColumn("se", sqrt(col("p_pool") * (lit(1.0) - col("p_pool"))
        * (lit(1.0) / col("n_t") + lit(1.0) / col("n_c"))))
      .withColumn("z", when(col("se") > 0.0,
        round((col("p_t") - col("p_c")) / col("se") + lit(1e-9), 4)))
      .select(col("segment"), col("n_t"), col("n_c"), col("conv_t"),
        col("conv_c"), col("p_t"), col("p_c"), col("uplift"), col("z"))
      .orderBy(col("segment"))
  }

  /** CDC upsert compaction — MERGE INTO semantics as a batch
    * operator: events on days < 16 are the base snapshot, days ≥ 16
    * the change stream; the merged state per user is the latest event
    * (ts, event_id tie-break) from the changes when present, else the
    * base, with provenance (insert / update / unchanged) — the
    * nightly-compaction primitive of every lakehouse table.
    *
    * Plan: both snapshots collapse with keyed `max(struct(...))`
    * aggregates (no window on the raw frame, map-side combinable),
    * then ONE full-outer user join — two data-scale shuffles on the
    * same key, which AQE plans as one exchange pair. */
  def cdcMerge(events: DataFrame): DataFrame = {
    def lastState(df: DataFrame): DataFrame = df
      .groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("event_id"), col("event_type"),
        col("value"))).as("s"))
      .select(col("user_id"), col("s.event_type").as("state"),
        round(col("s.value") + lit(1e-9), 3).as("value"),
        to_date(col("s.ts")).as("updated_at"))
    val base = lastState(events.filter(dayofmonth(col("ts")) < 16))
    val changes = lastState(events.filter(dayofmonth(col("ts")) >= 16))
    base.select(col("user_id"), col("state").as("b_state"),
        col("value").as("b_value"), col("updated_at").as("b_at"))
      .join(changes.select(col("user_id"), col("state").as("c_state"),
        col("value").as("c_value"), col("updated_at").as("c_at")),
        Seq("user_id"), "full_outer")
      .select(col("user_id"),
        when(col("b_state").isNull, "insert")
          .when(col("c_state").isNull, "unchanged")
          .otherwise("update").as("op"),
        coalesce(col("c_state"), col("b_state")).as("state"),
        coalesce(col("c_value"), col("b_value")).as("value"),
        coalesce(col("c_at"), col("b_at")).as("updated_at"))
      .orderBy(col("user_id"))
  }

  /** Two-component 1-D Gaussian-mixture fit per event type by
    * fixed-round EM — the classic "is this value column bimodal, and
    * where are the modes?" model, in the engine's deterministic-
    * iteration discipline: responsibilities quantize at 6 dp, every
    * re-estimated parameter at 4 dp per round (the qualityClassifier
    * contract — libm exp ulps never reach the trajectory), variances
    * clamped at 1e-4, component 1 pinned to the lower-mean init so
    * labels can't swap.
    *
    * Plan: `rounds` × (broadcast the O(#types) parameter frame onto
    * the value scan → map-side responsibilities → ONE map-combinable
    * 7-sum keyed aggregate); the value frame persists across rounds.
    * Iterations multiply the constant, not the shape — nothing sized
    * by the data ever sits in the loop state. */
  def emMixture(events: DataFrame, rounds: Int = 3): DataFrame = {
    val vals = events.select(col("event_type"), col("value").cast("double").as("v"))
      .filter(col("v").isNotNull).persist()
    try {
      val init = vals.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("v")) + lit(1e-9), 4).as("m"),
          round(stddev_pop(col("v")) + lit(1e-9), 4).as("s"))
        .select(col("event_type"), col("n"),
          lit(0.5).as("pi1"), (col("m") - col("s")).as("mu1"),
          greatest(round(col("s") * col("s") / lit(2.0) + lit(1e-9), 4),
            lit(0.0001)).as("var1"),
          lit(0.5).as("pi2"), (col("m") + col("s")).as("mu2"),
          greatest(round(col("s") * col("s") / lit(2.0) + lit(1e-9), 4),
            lit(0.0001)).as("var2"))
      val params = graft.core.Fixpoint.rounds(init, rounds) { (params, _) =>
        val resp = vals.join(broadcast(params), Seq("event_type"))
          .withColumn("w1", col("pi1") / sqrt(col("var1"))
            * exp((col("v") - col("mu1")) * (col("v") - col("mu1"))
              / (lit(-2.0) * col("var1"))))
          .withColumn("w2", col("pi2") / sqrt(col("var2"))
            * exp((col("v") - col("mu2")) * (col("v") - col("mu2"))
              / (lit(-2.0) * col("var2"))))
          .withColumn("r2", round(
            when(col("w1") + col("w2") > 0.0,
              col("w2") / (col("w1") + col("w2"))).otherwise(lit(0.5))
              + lit(1e-9), 6))
          .withColumn("r1", lit(1.0) - col("r2"))
        resp.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("r1")).as("n1"), sum(col("r2")).as("n2"),
            sum(col("r1") * col("v")).as("s1"), sum(col("r2") * col("v")).as("s2"),
            sum(col("r1") * col("v") * col("v")).as("q1"),
            sum(col("r2") * col("v") * col("v")).as("q2"))
          .select(col("event_type"), col("n"),
            round(col("n1") / col("n").cast("double") + lit(1e-9), 4).as("pi1"),
            round(col("s1") / col("n1") + lit(1e-9), 4).as("mu1"),
            greatest(round(col("q1") / col("n1")
              - (col("s1") / col("n1")) * (col("s1") / col("n1"))
              + lit(1e-9), 4), lit(0.0001)).as("var1"),
            round(col("n2") / col("n").cast("double") + lit(1e-9), 4).as("pi2"),
            round(col("s2") / col("n2") + lit(1e-9), 4).as("mu2"),
            greatest(round(col("q2") / col("n2")
              - (col("s2") / col("n2")) * (col("s2") / col("n2"))
              + lit(1e-9), 4), lit(0.0001)).as("var2"))
      }
      params.select(col("event_type"), col("n"), col("pi1"), col("mu1"),
        col("var1"), col("pi2"), col("mu2"), col("var2"))
        .orderBy(col("event_type"))
    } finally vals.unpersist()
  }

  /** Sarle's bimodality coefficient per event type — the cheap test
    * read BEFORE fitting [[emMixture]] (BC > 5/9 ≈ 0.5556, the uniform
    * distribution's value, suggests two modes): population skewness
    * and kurtosis from raw power sums, BC = (g1² + 1)·m2²/m4.
    * Computed from explicit power sums instead of the built-in
    * skewness()/kurtosis() because Spark and DuckDB disagree on the
    * sample-bias correction — raw moments are engine-exact.
    *
    * Plan: ONE map-combinable 5-sum keyed aggregate, closed form. */
  def bimodality(events: DataFrame): DataFrame = {
    val v = events.select(col("event_type"), col("value").cast("double").as("x"))
      .filter(col("x").isNotNull)
    v.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s1"),
        sum(col("x") * col("x")).as("s2"),
        sum(col("x") * col("x") * col("x")).as("s3"),
        sum(col("x") * col("x") * col("x") * col("x")).as("s4"))
      .withColumn("nd", col("n").cast("double"))
      .withColumn("m", col("s1") / col("nd"))
      .withColumn("m2", col("s2") / col("nd") - col("m") * col("m"))
      .withColumn("m3", col("s3") / col("nd")
        - lit(3.0) * col("m") * (col("s2") / col("nd"))
        + lit(2.0) * col("m") * col("m") * col("m"))
      .withColumn("m4", col("s4") / col("nd")
        - lit(4.0) * col("m") * (col("s3") / col("nd"))
        + lit(6.0) * col("m") * col("m") * (col("s2") / col("nd"))
        - lit(3.0) * col("m") * col("m") * col("m") * col("m"))
      .filter(col("m2") > 0.0)
      .withColumn("skew", round(col("m3") / sqrt(col("m2") * col("m2") * col("m2"))
        + lit(1e-9), 4))
      .withColumn("kurt", round(col("m4") / (col("m2") * col("m2")) + lit(1e-9), 4))
      .withColumn("bc", round((col("skew") * col("skew") + lit(1.0)) / col("kurt")
        + lit(1e-9), 4))
      .select(col("event_type"), col("n"), col("skew"), col("kurt"), col("bc"),
        (col("bc") > lit(5.0 / 9.0)).as("bimodal"))
      .orderBy(col("event_type"))
  }

  /** Model-based anomaly census under the [[emMixture]] fit — rows
    * whose mixture DENSITY falls below a floor are anomalous (the
    * principled alternative to the z-score/IQR/MAD rules already
    * registered: a point can sit between two modes, near the global
    * mean, and still be wildly unlikely). Per type: anomaly count,
    * share and the minimum observed density.
    *
    * Plan: the fitted O(#types) parameter frame broadcasts onto ONE
    * value scan; density is stateless arithmetic; one keyed rollup. */
  def mixtureAnomalies(events: DataFrame, densityFloor: Double = 1e-4): DataFrame = {
    val params = emMixture(events)
    val vals = events.select(col("event_type"), col("value").cast("double").as("v"))
      .filter(col("v").isNotNull)
    vals.join(broadcast(params), Seq("event_type"))
      .withColumn("dens",
        col("pi1") / sqrt(lit(2.0 * math.Pi) * col("var1"))
          * exp((col("v") - col("mu1")) * (col("v") - col("mu1"))
            / (lit(-2.0) * col("var1")))
        + col("pi2") / sqrt(lit(2.0 * math.Pi) * col("var2"))
          * exp((col("v") - col("mu2")) * (col("v") - col("mu2"))
            / (lit(-2.0) * col("var2"))))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("dens") < densityFloor, 1L).otherwise(0L)).as("n_anomalous"),
        round(min(col("dens")) + lit(1e-9), 8).as("min_density"))
      .withColumn("anomaly_share",
        round(col("n_anomalous") / col("n").cast("double") + lit(1e-9), 6))
      .select(col("event_type"), col("n"), col("n_anomalous"),
        col("anomaly_share"), col("min_density"))
      .orderBy(col("event_type"))
  }

  /** Query-key registry (driver contract). */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_benford" -> ((s, d) => benford(Tables.events(s, d))),
    "q_markov_attribution" -> ((s, d) => markovAttribution(Tables.events(s, d))),
    "q_shapley_attribution" -> ((s, d) => shapleyAttribution(Tables.events(s, d))),
    "q_scd2" -> ((s, d) => scd2States(Tables.events(s, d))),
    "q_ab_srm" -> ((s, d) => abSrm(Tables.events(s, d))),
    "q_msprt" -> ((s, d) => msprt(Tables.events(s, d))),
    "q_poisson_ratio" -> ((s, d) => poissonRatio(Tables.events(s, d))),
    "q_nelson_aalen" -> ((s, d) => nelsonAalen(Tables.events(s, d))),
    "q_uplift_segments" -> ((s, d) => upliftSegments(Tables.events(s, d))),
    "q_cdc_merge" -> ((s, d) => cdcMerge(Tables.events(s, d))),
    "q_em_mixture" -> ((s, d) => emMixture(Tables.events(s, d))),
    "q_bimodality" -> ((s, d) => bimodality(Tables.events(s, d))),
    "q_anomaly_mixture" -> ((s, d) => mixtureAnomalies(Tables.events(s, d))),
    "q_ttest_welch" -> ((s, d) => ttestWelch(Tables.events(s, d))),
    "q_chi_square" -> ((s, d) => chiSquare(Tables.events(s, d))),
    "q_anova" -> ((s, d) => anova(Tables.events(s, d))),
    "q_kruskal_wallis" -> ((s, d) => kruskalWallis(Tables.events(s, d))),
    "q_growth_accounting" -> ((s, d) => growthAccounting(Tables.events(s, d))),
    "q_tukey_hsd" -> ((s, d) => tukeyHsd(Tables.events(s, d))),
    "q_cuped" -> ((s, d) => cuped(Tables.events(s, d))),
    "q_diff_in_diff" -> ((s, d) => diffInDiff(Tables.events(s, d))),
    "q_mde_power" -> ((s, d) => mdePower(Tables.events(s, d))),
    "q_levene_bf" -> ((s, d) => leveneBrownForsythe(Tables.events(s, d))),
    "q_anomaly_iqr" -> ((s, d) => anomalyIqr(Tables.events(s, d))),
    "q_entropy_rate" -> ((s, d) => entropyRate(Tables.events(s, d))),
    "q_hill_tail" -> ((s, d) => hillTail(Tables.events(s, d))),
    "q_inter_event" -> ((s, d) => interEvent(Tables.events(s, d))),
    "q_user_diversity" -> ((s, d) =>
      userDiversity(Tables.events(s, d)).orderBy(col("user_id"))),
    "q_trending" -> ((s, d) => trending(Tables.events(s, d))),
    "q_psi" -> ((s, d) => psi(Tables.events(s, d))),
    "q_basket_lift" -> ((s, d) => basketLift(Tables.events(s, d))),
    "q_emd" -> ((s, d) => emdVariants(Tables.events(s, d))),
    "q_two_prop_z" -> ((s, d) => twoPropZ(Tables.events(s, d))),
    "q_recency_score" -> ((s, d) =>
      recencyScore(Tables.events(s, d)).orderBy(col("user_id"))),
    "q_winsorize" -> ((s, d) => winsorizedMean(Tables.events(s, d))),
    "q_burst_hours" -> ((s, d) => burstHours(Tables.events(s, d))),
    "q_mann_whitney" -> ((s, d) => mannWhitney(Tables.events(s, d))),
    "q_kaplan_meier" -> ((s, d) => kaplanMeier(Tables.events(s, d))),
    "q_cohort_ltv" -> ((s, d) => cohortLtv(Tables.events(s, d))),
    "q_stickiness" -> ((s, d) => stickiness(Tables.events(s, d))),
    "q_attribution" -> ((s, d) => attribution(Tables.events(s, d))),
    "q_cvar" -> ((s, d) => cvar(Tables.events(s, d))),
    "q_gini" -> ((s, d) => gini(Tables.events(s, d))),
    "q_user_streaks" -> ((s, d) =>
      userStreaks(Tables.events(s, d)).orderBy(col("user_id"))),
    "q_anomaly_mad" -> ((s, d) =>
      anomalyMad(Tables.events(s, d)).orderBy(col("event_id"))),
    "q_new_vs_returning" -> ((s, d) =>
      newVsReturning(Tables.events(s, d)).orderBy(col("day"))),
    "q_type_overlap" -> ((s, d) =>
      typeOverlap(Tables.events(s, d)).orderBy(col("type_a"), col("type_b"))),
    "q_time_to_convert" -> ((s, d) =>
      timeToConvert(Tables.events(s, d)).orderBy(col("cohort_day"))),
    "q_calendar_heatmap" -> ((s, d) =>
      calendarHeatmap(Tables.events(s, d)).orderBy(col("dow"), col("hod"))),
    "q_event_rfm" -> ((s, d) => rfm(Tables.events(s, d))),
    "q_window_funnel" -> ((s, d) => windowFunnel(Tables.events(s, d))),
    "q_hll_setops" -> ((s, d) => hllSetOps(Tables.events(s, d))),
    "q_active_users" -> ((s, d) => activeUsers(Tables.events(s, d))),
    "q_pareto_share" -> ((s, d) => paretoShare(Tables.events(s, d))),
    "q_user_paths" -> ((s, d) => userPaths(Tables.events(s, d))),
    "q_event_transitions" -> ((s, d) => transitions(Tables.events(s, d))),
    "q_funnel" -> ((s, d) => funnel(Tables.events(s, d))),
    "q_retention" -> ((s, d) => retention(Tables.events(s, d))),
    "q_histogram" -> ((s, d) => histogram(Tables.events(s, d))),
    "q_json_props" -> ((s, d) => jsonProps(Tables.events(s, d))),
    "q_distinct_hll" -> ((s, d) => hllDistinct(Tables.events(s, d))),
    "q_window_hll" -> ((s, d) => windowHll(Tables.events(s, d))
      .orderBy(col("window_start"), col("event_type"))),
    "q_quantiles" -> ((s, d) => quantiles(Tables.events(s, d))),
    "q_cube" -> ((s, d) => cubeAgg(Tables.events(s, d))),
    "q_anomaly_zscore" -> ((s, d) => anomalyZscore(Tables.events(s, d))))
}

/** DuckDB oracle SQL mirrors — identical aliases, identical rounding. */
object EventOracle {
  val qFunnel: String = """
    WITH s1 AS (
      SELECT user_id, ts, event_type,
        min(CASE WHEN event_type = 'view' THEN ts END)
          OVER (PARTITION BY user_id) AS min_view
      FROM events),
    s2 AS (
      SELECT *, min(CASE WHEN event_type = 'click' AND ts >= min_view THEN ts END)
          OVER (PARTITION BY user_id) AS min_click
      FROM s1),
    s3 AS (
      SELECT *, min(CASE WHEN event_type = 'purchase' AND ts >= min_click THEN ts END)
          OVER (PARTITION BY user_id) AS min_purchase
      FROM s2),
    per_user AS (
      SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day,
        max(min_view) AS min_view, max(min_click) AS min_click,
        max(min_purchase) AS min_purchase
      FROM s3 GROUP BY user_id)
    SELECT cohort_day, count(*) AS n_users,
      count(min_view) AS n_view, count(min_click) AS n_click,
      count(min_purchase) AS n_purchase
    FROM per_user GROUP BY cohort_day ORDER BY cohort_day"""

  val qRetention: String = """
    WITH d0 AS (
      SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day
      FROM events GROUP BY user_id),
    active AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
    SELECT cohort_day, datediff('day', cohort_day, day) AS offset_days,
      count(*) AS n_active
    FROM active JOIN d0 USING (user_id)
    GROUP BY cohort_day, offset_days
    ORDER BY cohort_day, offset_days"""

  val qHistogram: String = """
    SELECT event_type, CAST(floor(value / 5.0) AS BIGINT) AS bucket,
      round(CAST(floor(value / 5.0) AS BIGINT) * 5.0 + 1e-9, 1) AS bucket_lo,
      count(*) AS n, round(sum(value) + 1e-9, 3) AS value_sum
    FROM events
    GROUP BY event_type, bucket
    ORDER BY event_type, bucket"""

  val qJsonProps: String = """
    WITH parsed AS (
      SELECT event_type, CAST(props->>'k' AS BIGINT) AS k FROM events)
    SELECT event_type, count(*) AS n, count(k) AS n_k,
      min(k) AS k_min, max(k) AS k_max, CAST(sum(k) AS BIGINT) AS k_sum,
      round(avg(k) + 1e-9, 6) AS k_avg
    FROM parsed GROUP BY event_type ORDER BY event_type"""

  val qDistinctHll: String = """
    WITH hashed AS (
      SELECT event_type,
        ((user_id * 48271) % 2147483647) % 64 AS bucket,
        ((user_id * 48271) % 2147483647) // 64 AS rest
      FROM events),
    rhos AS (
      SELECT event_type, bucket,
        CASE WHEN rest = 0 THEN 26
             ELSE bit_count((rest & -rest) - 1) + 1 END AS rho
      FROM hashed),
    per_bucket AS (
      SELECT event_type, bucket, max(rho) AS mj
      FROM rhos GROUP BY event_type, bucket),
    raw AS (
      SELECT event_type, 64 - count(*) AS v,
        CAST(0.709 AS DOUBLE) * 64 * 64 /
          (sum(CAST(1 AS DOUBLE) / (CAST(1 AS BIGINT) << mj)) + (64 - count(*))) AS e_raw
      FROM per_bucket GROUP BY event_type),
    est AS (
      SELECT event_type,
        round(CASE WHEN e_raw <= 2.5 * 64 AND v > 0
                   THEN CAST(64 AS DOUBLE) * ln(CAST(64 AS DOUBLE) / v)
                   ELSE e_raw END + 1e-9, 4) AS hll_estimate
      FROM raw),
    exact AS (
      SELECT event_type, count(DISTINCT user_id) AS n_exact
      FROM events GROUP BY event_type)
    SELECT event_type, n_exact, hll_estimate,
      round(abs(hll_estimate - n_exact) / n_exact + 1e-9, 4) AS rel_err
    FROM est JOIN exact USING (event_type)
    ORDER BY event_type"""

  /** Mirrors EventAnalytics.windowHll: qDistinctHll's register
    * arithmetic with the 6-hour tumbling window added to the group
    * key (the qStreamWindow make_timestamp convention). */
  val qWindowHll: String = """
    WITH win AS (
      SELECT make_timestamp((floor(epoch(ts) / 21600)::BIGINT * 21600) * 1000000)
          AS window_start,
        event_type, user_id
      FROM events),
    hashed AS (
      SELECT window_start, event_type,
        ((user_id * 48271) % 2147483647) % 64 AS bucket,
        ((user_id * 48271) % 2147483647) // 64 AS rest
      FROM win),
    rhos AS (
      SELECT window_start, event_type, bucket,
        CASE WHEN rest = 0 THEN 26
             ELSE bit_count((rest & -rest) - 1) + 1 END AS rho
      FROM hashed),
    per_bucket AS (
      SELECT window_start, event_type, bucket, max(rho) AS mj
      FROM rhos GROUP BY window_start, event_type, bucket),
    raw AS (
      SELECT window_start, event_type, 64 - count(*) AS v,
        CAST(0.709 AS DOUBLE) * 64 * 64 /
          (sum(CAST(1 AS DOUBLE) / (CAST(1 AS BIGINT) << mj)) + (64 - count(*))) AS e_raw
      FROM per_bucket GROUP BY window_start, event_type),
    est AS (
      SELECT window_start, event_type,
        round(CASE WHEN e_raw <= 2.5 * 64 AND v > 0
                   THEN CAST(64 AS DOUBLE) * ln(CAST(64 AS DOUBLE) / v)
                   ELSE e_raw END + 1e-9, 4) AS hll_estimate
      FROM raw),
    exact AS (
      SELECT window_start, event_type, count(DISTINCT user_id) AS n_exact
      FROM win GROUP BY window_start, event_type)
    SELECT window_start, event_type, n_exact, hll_estimate,
      round(abs(hll_estimate - n_exact) / n_exact + 1e-9, 4) AS rel_err
    FROM est JOIN exact USING (window_start, event_type)
    ORDER BY window_start, event_type"""

  val qQuantiles: String = """
    SELECT event_type, count(*) AS n,
      round(quantile_cont(value, 0.5) + 1e-9, 6) AS p50,
      round(quantile_cont(value, 0.9) + 1e-9, 6) AS p90,
      round(quantile_cont(value, 0.99) + 1e-9, 6) AS p99
    FROM events GROUP BY event_type ORDER BY event_type"""

  val qCube: String = """
    WITH d AS (
      SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day, value
      FROM events)
    SELECT coalesce(event_type, 'ALL') AS event_type,
      coalesce(day, 'ALL') AS day,
      GROUPING(event_type, day) AS gid,
      count(*) AS n, round(sum(value) + 1e-9, 3) AS value_sum
    FROM d GROUP BY CUBE (event_type, day)
    ORDER BY gid, event_type, day"""

  val qAnomalyZscore: String = """
    WITH w AS (
      SELECT event_id, user_id, value,
        count(value) OVER win AS n_prior,
        avg(value) OVER win AS mu,
        stddev_samp(value) OVER win AS sd
      FROM events
      WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
    scored AS (
      SELECT event_id, user_id, value,
        round((value - mu) / sd + 1e-9, 4) AS z,
        round(mu + 1e-9, 4) AS mu, round(sd + 1e-9, 4) AS sd
      FROM w WHERE n_prior >= 8 AND sd > 0.001)
    SELECT event_id, user_id, value, mu, sd, z
    FROM scored WHERE abs(z) >= 3.0 ORDER BY event_id"""

  val qEventTransitions: String = """
    WITH lagged AS (
      SELECT event_type,
        lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
          AS prev_type
      FROM events),
    m AS (
      SELECT prev_type, event_type, count(*) AS n
      FROM lagged WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type)
    SELECT prev_type, event_type, n,
      round(n / (sum(n) OVER (PARTITION BY prev_type))::DOUBLE + 1e-9, 6)
        AS share
    FROM m ORDER BY prev_type, event_type"""

  val qUserPaths: String = """
    WITH rn AS (
      SELECT user_id, event_type,
        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events),
    p AS (
      SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
      FROM rn WHERE rn <= 5 GROUP BY user_id),
    m AS (SELECT path, count(*) AS n_users FROM p GROUP BY path)
    SELECT path, n_users,
      round(n_users / (sum(n_users) OVER ())::DOUBLE + 1e-9, 6) AS share
    FROM m ORDER BY n_users DESC, path"""

  val qActiveUsers: String = """
    WITH presence AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    bounds AS (
      SELECT CAST(max(ts) AS DATE) AS max_day, CAST(min(ts) AS DATE) AS min_day
      FROM events),
    fan AS (
      SELECT user_id, day + to_days(off::INT) AS target_day, off
      FROM presence, (SELECT unnest(range(0, 30)) AS off))
    SELECT target_day AS day,
      count(DISTINCT CASE WHEN off = 0 THEN user_id END) AS dau,
      count(DISTINCT CASE WHEN off <= 6 THEN user_id END) AS wau,
      count(DISTINCT user_id) AS mau
    FROM fan, bounds
    WHERE target_day <= max_day AND target_day >= min_day
    GROUP BY target_day ORDER BY day"""

  val qParetoShare: String = """
    WITH per_user AS (
      SELECT user_id, count(*) AS n_events,
        round(sum(value) + 1e-9, 3) AS v
      FROM events GROUP BY user_id),
    cuts AS (
      SELECT round(quantile_cont(v, 0.9) + 1e-9, 6) AS p90,
        round(quantile_cont(v, 0.99) + 1e-9, 6) AS p99
      FROM per_user),
    agg AS (
      SELECT count(*) AS n_users,
        CAST(sum(n_events) AS BIGINT) AS n_events,
        round(sum(v) + 1e-9, 3) AS total_value,
        CAST(sum(CASE WHEN v > p90 THEN 1 ELSE 0 END) AS BIGINT) AS n_top10,
        round(sum(CASE WHEN v > p90 THEN v ELSE 0.0 END) + 1e-9, 3) AS value_top10,
        CAST(sum(CASE WHEN v > p99 THEN 1 ELSE 0 END) AS BIGINT) AS n_top1,
        round(sum(CASE WHEN v > p99 THEN v ELSE 0.0 END) + 1e-9, 3) AS value_top1
      FROM per_user CROSS JOIN cuts)
    SELECT n_users, n_events, total_value, n_top10, value_top10, n_top1,
      value_top1,
      round(value_top10 / total_value + 1e-9, 6) AS share_top10,
      round(value_top1 / total_value + 1e-9, 6) AS share_top1
    FROM agg"""

  val qHllSetOps: String = """
    WITH el AS (
      SELECT event_type,
        user_id * 100000 + datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
          AS el
      FROM events WHERE event_type IN ('view', 'purchase')),
    hashed AS (
      SELECT event_type,
        ((el * 48271) % 2147483647) % 64 AS bucket,
        ((el * 48271) % 2147483647) // 64 AS rest
      FROM el),
    rhos AS (
      SELECT event_type, bucket,
        CASE WHEN rest = 0 THEN 26
             ELSE bit_count((rest & -rest) - 1) + 1 END AS rho
      FROM hashed),
    per_bucket AS (
      SELECT event_type, bucket, max(rho) AS mj
      FROM rhos GROUP BY event_type, bucket),
    union_bucket AS (SELECT bucket, max(mj) AS mj FROM per_bucket GROUP BY bucket),
    est_a AS (
      SELECT round(CASE WHEN e_raw <= 2.5 * 64 AND v > 0
                   THEN CAST(64 AS DOUBLE) * ln(CAST(64 AS DOUBLE) / v)
                   ELSE e_raw END + 1e-9, 4) AS est_a
      FROM (SELECT 64 - count(*) AS v,
              CAST(0.709 AS DOUBLE) * 64 * 64 /
                (sum(CAST(1 AS DOUBLE) / (CAST(1 AS BIGINT) << mj)) + (64 - count(*)))
                AS e_raw
            FROM per_bucket WHERE event_type = 'view')),
    est_b AS (
      SELECT round(CASE WHEN e_raw <= 2.5 * 64 AND v > 0
                   THEN CAST(64 AS DOUBLE) * ln(CAST(64 AS DOUBLE) / v)
                   ELSE e_raw END + 1e-9, 4) AS est_b
      FROM (SELECT 64 - count(*) AS v,
              CAST(0.709 AS DOUBLE) * 64 * 64 /
                (sum(CAST(1 AS DOUBLE) / (CAST(1 AS BIGINT) << mj)) + (64 - count(*)))
                AS e_raw
            FROM per_bucket WHERE event_type = 'purchase')),
    est_u AS (
      SELECT round(CASE WHEN e_raw <= 2.5 * 64 AND v > 0
                   THEN CAST(64 AS DOUBLE) * ln(CAST(64 AS DOUBLE) / v)
                   ELSE e_raw END + 1e-9, 4) AS est_union
      FROM (SELECT 64 - count(*) AS v,
              CAST(0.709 AS DOUBLE) * 64 * 64 /
                (sum(CAST(1 AS DOUBLE) / (CAST(1 AS BIGINT) << mj)) + (64 - count(*)))
                AS e_raw
            FROM union_bucket)),
    els AS (SELECT DISTINCT event_type, el FROM el),
    per_el AS (SELECT el, count(*) AS n_types FROM els GROUP BY el),
    exact AS (
      SELECT count(*) AS n_union_exact,
        CAST(sum(CASE WHEN n_types = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_both_exact
      FROM per_el)
    SELECT n_union_exact, n_both_exact, est_a, est_b, est_union,
      round(greatest(0.0, est_a + est_b - est_union) + 1e-9, 4) AS est_intersection
    FROM exact CROSS JOIN est_a CROSS JOIN est_b CROSS JOIN est_u"""

  val qWindowFunnel: String = """
    WITH s1 AS (
      SELECT user_id, ts, event_type,
        min(CASE WHEN event_type = 'view' THEN ts END)
          OVER (PARTITION BY user_id) AS min_view
      FROM events),
    s1d AS (SELECT *, min_view + INTERVAL 7 DAY AS deadline FROM s1),
    s2 AS (
      SELECT *, min(CASE WHEN event_type = 'click' AND ts >= min_view
            AND ts <= deadline THEN ts END)
          OVER (PARTITION BY user_id) AS min_click
      FROM s1d),
    s3 AS (
      SELECT *, min(CASE WHEN event_type = 'purchase' AND ts >= min_click
            AND ts <= deadline THEN ts END)
          OVER (PARTITION BY user_id) AS min_purchase
      FROM s2),
    per_user AS (
      SELECT user_id, CAST(max(min_view) AS DATE) AS cohort_day,
        max(min_click) AS min_click, max(min_purchase) AS min_purchase
      FROM s3 WHERE min_view IS NOT NULL GROUP BY user_id),
    agg AS (
      SELECT cohort_day, count(*) AS n_view,
        count(min_click) AS n_click_w, count(min_purchase) AS n_purchase_w
      FROM per_user GROUP BY cohort_day)
    SELECT cohort_day, n_view, n_click_w, n_purchase_w,
      round(n_click_w / n_view::DOUBLE + 1e-9, 6) AS click_rate,
      round(n_purchase_w / n_view::DOUBLE + 1e-9, 6) AS purchase_rate
    FROM agg ORDER BY cohort_day"""

  val qEventRfm: String = """
    WITH per_user AS (
      SELECT user_id, CAST(max(ts) AS DATE) AS last_day,
        count(*) AS frequency, round(sum(value) + 1e-9, 3) AS monetary
      FROM events GROUP BY user_id),
    anchor AS (SELECT CAST(max(ts) AS DATE) AS anchor_day FROM events),
    scored AS (
      SELECT user_id, datediff('day', last_day, anchor_day)::BIGINT AS recency_days,
        frequency, monetary
      FROM per_user CROSS JOIN anchor),
    cuts AS (
      SELECT
        round(quantile_cont(recency_days::DOUBLE, 0.25) + 1e-9, 6) AS r25,
        round(quantile_cont(recency_days::DOUBLE, 0.5) + 1e-9, 6) AS r50,
        round(quantile_cont(recency_days::DOUBLE, 0.75) + 1e-9, 6) AS r75,
        round(quantile_cont(frequency::DOUBLE, 0.25) + 1e-9, 6) AS f25,
        round(quantile_cont(frequency::DOUBLE, 0.5) + 1e-9, 6) AS f50,
        round(quantile_cont(frequency::DOUBLE, 0.75) + 1e-9, 6) AS f75,
        round(quantile_cont(monetary::DOUBLE, 0.25) + 1e-9, 6) AS m25,
        round(quantile_cont(monetary::DOUBLE, 0.5) + 1e-9, 6) AS m50,
        round(quantile_cont(monetary::DOUBLE, 0.75) + 1e-9, 6) AS m75
      FROM scored),
    q AS (
      SELECT user_id, recency_days, frequency, monetary,
        1 + (recency_days::DOUBLE > r25)::INT + (recency_days::DOUBLE > r50)::INT
          + (recency_days::DOUBLE > r75)::INT AS r_q,
        1 + (frequency::DOUBLE > f25)::INT + (frequency::DOUBLE > f50)::INT
          + (frequency::DOUBLE > f75)::INT AS f_q,
        1 + (monetary::DOUBLE > m25)::INT + (monetary::DOUBLE > m50)::INT
          + (monetary::DOUBLE > m75)::INT AS m_q
      FROM scored CROSS JOIN cuts)
    SELECT user_id, recency_days, frequency, monetary, r_q, f_q, m_q,
      r_q::VARCHAR || f_q::VARCHAR || m_q::VARCHAR AS segment
    FROM q ORDER BY user_id"""

  /** Mirrors EventAnalytics.gini: the spec is the global window; the
    * Spark route's range-partition + prefix-sum rank must reproduce
    * it exactly. */
  val qGini: String = """
    WITH per_user AS (
      SELECT user_id, round(sum(value) + 1e-9, 3) AS x
      FROM events GROUP BY 1),
    ranked AS (
      SELECT x, row_number() OVER (ORDER BY x, user_id) AS ord
      FROM per_user)
    SELECT count(*) AS n_users,
      round(sum(x) + 1e-9, 3) AS total_value,
      round(2.0 * sum(ord * x)
          / (count(*) * (CASE WHEN round(sum(x) + 1e-9, 3) > 0.0
                              THEN round(sum(x) + 1e-9, 3) END))
        - (count(*) + 1.0) / count(*) + 1e-9, 6) AS gini
    FROM ranked"""

  /** Mirrors EventAnalytics.timeToConvert: latencies rounded before
    * the interpolated percentile. */
  val qTimeToConvert: String = """
    WITH fv AS (
      SELECT user_id, min(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY 1),
    fp AS (
      SELECT e.user_id, fv.t_view, min(e.ts) AS t_purchase
      FROM events e JOIN fv USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts >= fv.t_view
      GROUP BY 1, 2),
    lat AS (
      SELECT t_view::date AS cohort_day,
        round((epoch_us(t_purchase) - epoch_us(t_view)) / 6e7 + 1e-9, 3)
          AS latency_min
      FROM fp)
    SELECT cohort_day, count(*) AS n_converters,
      round(quantile_cont(latency_min, 0.5) + 1e-9, 6) AS p50_min,
      round(quantile_cont(latency_min, 0.9) + 1e-9, 6) AS p90_min
    FROM lat GROUP BY 1 ORDER BY cohort_day"""

  /** Mirrors EventAnalytics.calendarHeatmap (dow 0 = Sunday on both
    * engines). */
  val qCalendarHeatmap: String = """
    WITH cells AS (
      SELECT date_part('dow', ts) AS dow, date_part('hour', ts) AS hod,
        count(*) AS n_events, round(sum(value) + 1e-9, 3) AS value_mass
      FROM events GROUP BY 1, 2)
    SELECT dow, hod, n_events, value_mass,
      round(n_events / (sum(n_events) OVER ())::DOUBLE + 1e-9, 6) AS share
    FROM cells ORDER BY dow, hod"""

  /** Mirrors EventAnalytics.typeOverlap: exact Jaccard from the
    * distinct presence self-join + inclusion–exclusion. */
  val qTypeOverlap: String = """
    WITH presence AS (
      SELECT DISTINCT event_type, user_id FROM events),
    sizes AS (
      SELECT event_type, count(*) AS n_users FROM presence GROUP BY 1),
    inter AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
        count(*) AS n_both
      FROM presence a JOIN presence b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2)
    SELECT i.type_a, i.type_b, sa.n_users AS n_a, sb.n_users AS n_b,
      i.n_both,
      round(i.n_both / (sa.n_users + sb.n_users - i.n_both)::DOUBLE
        + 1e-9, 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.event_type = i.type_a
    JOIN sizes sb ON sb.event_type = i.type_b
    ORDER BY i.type_a, i.type_b"""

  /** Mirrors EventAnalytics.newVsReturning. */
  val qNewVsReturning: String = """
    WITH presence AS (
      SELECT DISTINCT user_id, ts::date AS day FROM events),
    first_d AS (
      SELECT user_id, min(day) AS first_day FROM presence GROUP BY 1)
    SELECT p.day, count(*) AS active_users,
      count(CASE WHEN p.day = f.first_day THEN 1 END) AS new_users,
      count(*) - count(CASE WHEN p.day = f.first_day THEN 1 END)
        AS returning_users,
      round(count(CASE WHEN p.day = f.first_day THEN 1 END)
        / count(*)::DOUBLE + 1e-9, 6) AS new_share
    FROM presence p JOIN first_d f USING (user_id)
    GROUP BY 1 ORDER BY p.day"""

  /** Mirrors EventAnalytics.anomalyMad: two-pass median / MAD with
    * the Iglewicz–Hoaglin modified z. */
  val qAnomalyMad: String = """
    WITH med_t AS (
      SELECT user_id, round(quantile_cont(value, 0.5) + 1e-9, 6) AS med
      FROM events GROUP BY 1),
    j AS (
      SELECT e.event_id, e.user_id, e.value, m.med
      FROM events e JOIN med_t m USING (user_id)),
    mad_t AS (
      SELECT user_id,
        round(quantile_cont(abs(value - med), 0.5) + 1e-9, 6) AS mad
      FROM j GROUP BY 1),
    z AS (
      SELECT j.event_id, j.user_id, j.value, j.med, d.mad,
        CASE WHEN d.mad > 0.0
             THEN round((j.value - j.med) / (1.4826 * d.mad) + 1e-9, 4)
        END AS robust_z
      FROM j JOIN mad_t d USING (user_id))
    SELECT event_id, user_id, value, med, mad, robust_z,
      (robust_z IS NOT NULL AND abs(robust_z) >= 3.5) AS is_anomaly
    FROM z ORDER BY event_id"""

  /** Mirrors EventAnalytics.userStreaks. */
  val qUserStreaks: String = """
    WITH presence AS (
      SELECT DISTINCT user_id, ts::date AS day FROM events),
    runs AS (
      SELECT user_id, grp, count(*) AS run_len, max(day) AS run_end FROM (
        SELECT user_id, day,
          datediff('day', DATE '1970-01-01', day)
            - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
        FROM presence)
      GROUP BY 1, 2),
    last_t AS (SELECT max(ts)::date AS last_day FROM events)
    SELECT user_id,
      CAST(sum(run_len) AS BIGINT) AS active_days,
      count(*) AS n_streaks,
      max(run_len) AS longest_streak,
      max(CASE WHEN run_end = l.last_day THEN run_len ELSE 0 END)
        AS current_streak
    FROM runs, last_t l
    GROUP BY 1 ORDER BY user_id"""

  /** Mirrors EventAnalytics.attribution: first/last touch inside the
    * 7-day lookback via min/max over the (ts, id, type) ordering. */
  val qAttribution: String = """
    WITH touches AS (
      SELECT user_id, ts AS t_ts, event_id AS t_id, event_type AS touch_type
      FROM events WHERE event_type IN ('click', 'view')),
    convs AS (
      SELECT user_id, ts AS c_ts, event_id AS c_id, value
      FROM events WHERE event_type = 'purchase'),
    per_conv AS (
      SELECT c_id, value,
        min(ROW(t_ts, t_id, touch_type))[3] AS first_type,
        max(ROW(t_ts, t_id, touch_type))[3] AS last_type
      FROM convs JOIN touches USING (user_id)
      WHERE t_ts <= c_ts AND t_ts > c_ts - INTERVAL 7 DAY
      GROUP BY 1, 2),
    credited AS (
      SELECT 'first_touch' AS model, first_type AS touch_type, value FROM per_conv
      UNION ALL
      SELECT 'last_touch' AS model, last_type AS touch_type, value FROM per_conv)
    SELECT model, touch_type, count(*) AS n_conversions,
      round(sum(value) + 1e-9, 2) AS credited_value
    FROM credited GROUP BY 1, 2 ORDER BY model, touch_type"""

  /** Mirrors EventAnalytics.cvar: VaR95 per type, conditional tail
    * re-aggregation against the rounded threshold. */
  val qCvar: String = """
    WITH var_t AS (
      SELECT event_type,
        round(quantile_cont(value, 0.95) + 1e-9, 6) AS var95,
        count(*) AS n_events
      FROM events GROUP BY 1)
    SELECT e.event_type, v.var95, v.n_events,
      count(CASE WHEN e.value > v.var95 THEN 1 END) AS n_tail,
      round(avg(CASE WHEN e.value > v.var95 THEN e.value END) + 1e-9, 4)
        AS cvar95,
      round(sum(CASE WHEN e.value > v.var95 THEN e.value ELSE 0.0 END)
        + 1e-9, 2) AS tail_mass
    FROM events e JOIN var_t v USING (event_type)
    GROUP BY 1, 2, 3 ORDER BY event_type"""

  /** Mirrors EventAnalytics.cohortLtv: per-(user, day) revenue,
    * windowed cohort assignment, (cohort, age) aggregate, ordered
    * cumulation of the ROUNDED per-age revenues. */
  val qCohortLtv: String = """
    WITH per_user_day AS (
      SELECT user_id, CAST(ts AS DATE) AS day, sum(value) AS rev
      FROM events GROUP BY 1, 2),
    with_cohort AS (
      SELECT *, min(day) OVER (PARTITION BY user_id) AS cohort_day
      FROM per_user_day),
    per_age AS (
      SELECT cohort_day, datediff('day', cohort_day, day) AS age,
        round(sum(rev) + 1e-9, 2) AS rev,
        CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
      FROM with_cohort GROUP BY 1, 2),
    cohort_size AS (
      SELECT cohort_day, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM with_cohort WHERE day = cohort_day GROUP BY 1),
    cum AS (
      SELECT p.cohort_day, p.age, s.n_users, p.n_active, p.rev,
        round(sum(p.rev) OVER (PARTITION BY p.cohort_day ORDER BY p.age
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1e-9, 2)
          AS cum_rev
      FROM per_age p JOIN cohort_size s USING (cohort_day))
    SELECT cohort_day, age, n_users, n_active, rev, cum_rev,
      round(cum_rev / n_users + 1e-9, 4) AS ltv
    FROM cum ORDER BY cohort_day, age"""

  /** Mirrors EventAnalytics.stickiness: distinct (user, day), 7-way
    * end-day fan-out, distinct count per end-day, DAU/WAU ratio. */
  val qStickiness: String = """
    WITH user_days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    dau AS (
      SELECT day, CAST(count(*) AS BIGINT) AS dau FROM user_days GROUP BY 1),
    ends AS (
      SELECT user_id, day + CAST(k AS INTEGER) AS day
      FROM user_days, (SELECT unnest(range(0, 7)) AS k) ks),
    wau AS (
      SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
      FROM ends GROUP BY 1)
    SELECT d.day, d.dau, w.wau,
      round(CAST(d.dau AS DOUBLE) / w.wau + 1e-9, 4) AS stickiness
    FROM dau d JOIN wau w USING (day) ORDER BY day"""

  /** Mirrors EventAnalytics.benford: exact fixed-point first digit
    * via long→string, (type, digit) aggregate, per-type χ² roll-up. */
  val qBenford: String = """
    WITH cents AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    digits AS (
      SELECT event_type,
        CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit,
        CAST(count(*) AS BIGINT) AS n
      FROM cents WHERE cents > 0 GROUP BY 1, 2),
    totals AS (
      SELECT event_type, CAST(sum(n) AS BIGINT) AS n_type
      FROM digits GROUP BY 1),
    scored AS (
      SELECT d.event_type, d.digit, d.n,
        round(CAST(d.n AS DOUBLE) / t.n_type + 1e-9, 6) AS share,
        round(log10(1.0 + 1.0 / d.digit) + 1e-9, 6) AS benford_share
      FROM digits d JOIN totals t USING (event_type)),
    chi AS (
      SELECT event_type,
        round(sum(pow(share - benford_share, 2) / benford_share) + 1e-9, 6)
          AS chi2
      FROM scored GROUP BY 1)
    SELECT s.event_type, s.digit, s.n, s.share, s.benford_share, c.chi2
    FROM scored s JOIN chi c USING (event_type)
    ORDER BY s.event_type, s.digit"""

  /** Mirrors EventAnalytics.ttestWelch: rounded per-variant moments,
    * Welch t and df from the rounded values. */
  val qTtestWelch: String = """
    WITH m AS (
      SELECT event_type, CAST(user_id % 2 = 0 AS INT) AS variant,
        CAST(count(*) AS BIGINT) AS n,
        round(avg(value) + 1e-9, 6) AS mean,
        round(var_samp(value) + 1e-9, 6) AS v
      FROM events GROUP BY 1, 2),
    ab AS (
      SELECT a.event_type,
        a.n AS n_a, b.n AS n_b, a.mean AS mean_a, b.mean AS mean_b,
        a.v / a.n + b.v / b.n AS se2,
        a.v AS v_a, b.v AS v_b
      FROM m a JOIN m b USING (event_type)
      WHERE a.variant = 1 AND b.variant = 0)
    SELECT event_type, n_a, n_b, mean_a, mean_b,
      round((mean_a - mean_b) / sqrt(se2) + 1e-9, 4) AS t,
      round(se2 * se2 / (pow(v_a / n_a, 2) / (n_a - 1)
        + pow(v_b / n_b, 2) / (n_b - 1)) + 1e-9, 2) AS df,
      abs(round((mean_a - mean_b) / sqrt(se2) + 1e-9, 4)) > 1.96
        AS significant
    FROM ab ORDER BY event_type"""

  /** Mirrors EventAnalytics.recencyScore: identical λ literal,
    * exp-decay weighted sums. */
  val qRecencyScore: String = s"""
    WITH h AS (SELECT max(ts)::date AS dmax FROM events),
    w AS (
      SELECT e.user_id, e.value,
        exp(${-math.log(2.0) / 7.0}
          * datediff('day', e.ts::date, h.dmax)) AS wgt
      FROM events e, h)
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      round(sum(value * wgt) + 1e-9, 4) AS score,
      round(sum(wgt) + 1e-9, 6) AS wgt_mass,
      round(round(sum(value * wgt) + 1e-9, 4) / count(*) + 1e-9, 6)
        AS score_per_event
    FROM w GROUP BY 1 ORDER BY user_id"""

  /** Mirrors EventAnalytics.twoPropZ: pooled two-proportion z on
    * conversion. */
  val qTwoPropZ: String = """
    WITH users AS (
      SELECT user_id,
        coalesce(CAST(min(CASE WHEN event_type = 'purchase' THEN ts END)
          <= min(ts) + INTERVAL 24 HOUR AS INT), 0) AS converted,
        CAST(max(user_id) % 2 = 0 AS INT) AS variant
      FROM events GROUP BY 1),
    g AS (
      SELECT variant, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(converted) AS BIGINT) AS conv
      FROM users GROUP BY 1),
    ab AS (
      SELECT a.n AS n_a, b.n AS n_b, a.conv AS conv_a, b.conv AS conv_b
      FROM (SELECT * FROM g WHERE variant = 1) a,
           (SELECT * FROM g WHERE variant = 0) b),
    c AS (
      SELECT *,
        round(conv_a / CAST(n_a AS DOUBLE) + 1e-9, 6) AS p_a,
        round(conv_b / CAST(n_b AS DOUBLE) + 1e-9, 6) AS p_b,
        (conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE) AS p_pool
      FROM ab)
    SELECT n_a, n_b, conv_a, conv_b, p_a, p_b,
      CASE WHEN p_pool > 0.0 AND p_pool < 1.0
        THEN round((p_a - p_b) / sqrt(p_pool * (1.0 - p_pool)
          * (1.0 / n_a + 1.0 / n_b)) + 1e-9, 4) END AS z,
      abs(CASE WHEN p_pool > 0.0 AND p_pool < 1.0
        THEN round((p_a - p_b) / sqrt(p_pool * (1.0 - p_pool)
          * (1.0 / n_a + 1.0 / n_b)) + 1e-9, 4) END) > 1.96 AS significant
    FROM c"""

  /** Mirrors EventAnalytics.emdVariants: distinct-value CDFs,
    * Σ|ΔCDF|·gap. */
  val qEmd: String = """
    WITH tagged AS (
      SELECT event_type, value,
        CAST(sum(CAST(user_id % 2 = 0 AS INT)) AS BIGINT) AS cnt_a,
        CAST(sum(CAST(user_id % 2 <> 0 AS INT)) AS BIGINT) AS cnt_b
      FROM events GROUP BY 1, 2),
    w AS (
      SELECT *,
        sum(cnt_a) OVER (PARTITION BY event_type) AS n_a,
        sum(cnt_b) OVER (PARTITION BY event_type) AS n_b,
        sum(cnt_a) OVER wc AS ca, sum(cnt_b) OVER wc AS cb,
        lead(value, 1) OVER (PARTITION BY event_type ORDER BY value)
          - value AS gap
      FROM tagged
      WINDOW wc AS (PARTITION BY event_type ORDER BY value
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT event_type, CAST(max(n_a) AS BIGINT) AS n_a,
      CAST(max(n_b) AS BIGINT) AS n_b,
      round(sum(abs(ca / CAST(n_a AS DOUBLE) - cb / CAST(n_b AS DOUBLE))
        * gap) + 1e-9, 6) AS emd
    FROM w WHERE gap IS NOT NULL
    GROUP BY 1 ORDER BY event_type"""

  /** Mirrors EventAnalytics.basketLift: distinct user baskets,
    * pair/single counts, lift. */
  val qBasketLift: String = """
    WITH items AS (
      SELECT DISTINCT user_id, event_type FROM events),
    total AS (
      SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM items),
    singles AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_item
      FROM items GROUP BY 1),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
        CAST(count(*) AS BIGINT) AS n_both
      FROM items a JOIN items b ON a.user_id = b.user_id
        AND a.event_type <> b.event_type
      GROUP BY 1, 2)
    SELECT p.type_a, p.type_b, p.n_both,
      sa.n_item AS n_a, sb.n_item AS n_b,
      round(p.n_both / CAST(t.n_users AS DOUBLE) + 1e-9, 6) AS support,
      round(p.n_both / CAST(sa.n_item AS DOUBLE) + 1e-9, 6) AS confidence,
      round(p.n_both * CAST(t.n_users AS DOUBLE)
        / CAST(sa.n_item * sb.n_item AS DOUBLE) + 1e-9, 6) AS lift
    FROM pairs p
    JOIN singles sa ON p.type_a = sa.event_type
    JOIN singles sb ON p.type_b = sb.event_type
    CROSS JOIN total t
    ORDER BY p.type_a, p.type_b"""

  /** Mirrors EventAnalytics.psi: first-half decile edges, floored
    * shares, Σ(p−q)ln(p/q). */
  val qPsi: String = """
    WITH half AS (
      SELECT (min(ts)::date
        + (datediff('day', min(ts)::date, max(ts)::date) // 2)::INT)
        AS mid
      FROM events),
    tagged AS (
      SELECT e.event_type, e.value, e.ts::date <= h.mid AS is_ref
      FROM events e, half h),
    edges AS (
      SELECT event_type,
        list_transform(quantile_cont(value,
          [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
          x -> round(x + 1e-9, 6)) AS edges
      FROM tagged WHERE is_ref GROUP BY 1),
    binned AS (
      SELECT t.event_type, t.is_ref,
        list_reduce(list_prepend(0,
          list_transform(e.edges, ed -> CASE WHEN t.value > ed THEN 1 ELSE 0 END)),
          (a, b) -> a + b) AS bin,
        CAST(count(*) AS BIGINT) AS n
      FROM tagged t JOIN edges e USING (event_type)
      GROUP BY 1, 2, 3),
    shares AS (
      SELECT *, greatest(1e-4,
        n / CAST(sum(n) OVER (PARTITION BY event_type, is_ref) AS DOUBLE))
        AS share
      FROM binned),
    pq AS (
      SELECT coalesce(r.event_type, c.event_type) AS event_type,
        coalesce(r.share, 1e-4) AS p, coalesce(c.share, 1e-4) AS q
      FROM (SELECT * FROM shares WHERE is_ref) r
      FULL OUTER JOIN (SELECT * FROM shares WHERE NOT is_ref) c
        ON r.event_type = c.event_type AND r.bin = c.bin)
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_bins,
      round(sum((p - q) * ln(p / q)) + 1e-9, 6) AS psi,
      round(sum((p - q) * ln(p / q)) + 1e-9, 6) > 0.2 AS drifted
    FROM pq GROUP BY 1 ORDER BY event_type"""

  /** Mirrors EventAnalytics.trending: per-day volume ranks, per-type
    * day-over-day deltas. */
  val qTrending: String = """
    WITH counts AS (
      SELECT ts::date AS day, event_type, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    r AS (
      SELECT *,
        row_number() OVER (PARTITION BY day ORDER BY n DESC, event_type)
          AS rnk
      FROM counts),
    l AS (
      SELECT *,
        lag(rnk, 1) OVER wt AS prev_rnk,
        lag(n, 1) OVER wt AS prev_n
      FROM r
      WINDOW wt AS (PARTITION BY event_type ORDER BY day))
    SELECT day, event_type, n, rnk, prev_rnk,
      prev_rnk - rnk AS rank_delta,
      CASE WHEN prev_n > 0
        THEN round((n - prev_n) / CAST(prev_n AS DOUBLE) + 1e-9, 6)
      END AS pct_change
    FROM l WHERE prev_rnk IS NOT NULL
    ORDER BY day, rnk"""

  /** Mirrors EventAnalytics.winsorizedMean: exact p05/p95 clamp,
    * raw vs winsorized means. */
  val qWinsorize: String = """
    WITH f AS (
      SELECT event_type,
        round(quantile_cont(value, 0.05) + 1e-9, 6) AS p05,
        round(quantile_cont(value, 0.95) + 1e-9, 6) AS p95
      FROM events GROUP BY 1),
    c AS (
      SELECT e.event_type, f.p05, f.p95, e.value,
        greatest(f.p05, least(f.p95, e.value)) AS clamped
      FROM events e JOIN f USING (event_type)),
    agg AS (
      SELECT event_type, p05, p95, CAST(count(*) AS BIGINT) AS n,
        round(avg(value) + 1e-9, 4) AS raw_mean,
        round(avg(clamped) + 1e-9, 4) AS winsor_mean,
        CAST(sum(CASE WHEN value < p05 OR value > p95 THEN 1 ELSE 0 END)
          AS BIGINT) AS n_clamped
      FROM c GROUP BY 1, 2, 3)
    SELECT event_type, n, n_clamped, p05, p95, raw_mean, winsor_mean,
      round(raw_mean - winsor_mean + 1e-9, 4) AS tail_pull
    FROM agg ORDER BY event_type"""

  /** Mirrors EventAnalytics.userDiversity: Shannon/Simpson over the
    * per-user type mix. */
  val qUserDiversity: String = """
    WITH tf AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    t AS (
      SELECT *, sum(n) OVER (PARTITION BY user_id) AS tot FROM tf),
    p AS (
      SELECT user_id, n, CAST(tot AS BIGINT) AS tot,
        n / CAST(tot AS DOUBLE) AS p
      FROM t)
    SELECT user_id, max(tot) AS n_events,
      CAST(count(*) AS BIGINT) AS n_types,
      round(-sum(p * log2(p)) + 1e-9, 6) AS shannon_bits,
      round(sum(n * n) / CAST(max(tot) * max(tot) AS DOUBLE) + 1e-9, 6)
        AS simpson
    FROM p GROUP BY 1 ORDER BY user_id"""

  /** Mirrors EventAnalytics.interEvent: per-(user, type) lag gaps,
    * exact-percentile profile per type. */
  val qInterEvent: String = """
    WITH g AS (
      SELECT event_type,
        (epoch_us(ts) - lag(epoch_us(ts), 1) OVER (
          PARTITION BY user_id, event_type ORDER BY ts, event_id)) / 1e6
          AS gap_s
      FROM events)
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
      round(avg(gap_s) + 1e-9, 4) AS mean_gap_s,
      round(quantile_cont(gap_s, 0.5) + 1e-9, 4) AS p50_gap_s,
      round(quantile_cont(gap_s, 0.9) + 1e-9, 4) AS p90_gap_s
    FROM g WHERE gap_s IS NOT NULL
    GROUP BY 1 ORDER BY event_type"""

  /** Mirrors EventAnalytics.burstHours: dense (type, hour) counts,
    * μ+3σ threshold per type. */
  val qBurstHours: String = """
    WITH counts AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
        CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2),
    hb AS (SELECT date_trunc('hour', min(ts)) AS h0,
                  date_trunc('hour', max(ts)) AS h1 FROM events),
    types AS (SELECT DISTINCT event_type FROM events),
    grid AS (
      SELECT t.event_type,
        unnest(generate_series(b.h0, b.h1, INTERVAL 1 HOUR)) AS hour
      FROM types t, hb b),
    dense AS (
      SELECT g.event_type, g.hour, coalesce(c.cnt, 0) AS cnt
      FROM grid g LEFT JOIN counts c USING (event_type, hour)),
    m AS (
      SELECT event_type, round(avg(cnt) + 1e-9, 6) AS mu,
        round(stddev_pop(cnt) + 1e-9, 6) AS sd
      FROM dense GROUP BY 1)
    SELECT d.event_type, d.hour, CAST(d.cnt AS BIGINT) AS cnt, m.mu, m.sd,
      round((d.cnt - m.mu) / m.sd + 1e-9, 4) AS z
    FROM dense d JOIN m USING (event_type)
    WHERE m.sd > 0.0 AND d.cnt > m.mu + 3.0 * m.sd
    ORDER BY d.event_type, d.hour"""

  /** Mirrors EventAnalytics.hillTail: top-51 order statistics per
    * type, mean-log excess over the threshold. */
  val qHillTail: String = """
    WITH ranked AS (
      SELECT event_type, event_id, value,
        row_number() OVER (PARTITION BY event_type
          ORDER BY value DESC, event_id ASC) AS rn
      FROM events WHERE value > 0.0),
    top AS (SELECT * FROM ranked WHERE rn <= 51),
    thresh AS (
      SELECT event_type, value AS x_thresh FROM top WHERE rn = 51),
    agg AS (
      SELECT t.event_type, th.x_thresh,
        CAST(count(*) AS BIGINT) AS m_used,
        sum(ln(t.value)) AS slog
      FROM top t JOIN thresh th USING (event_type)
      WHERE t.rn <= 50 GROUP BY 1, 2),
    h AS (
      SELECT event_type, m_used, x_thresh,
        round(slog / m_used - ln(x_thresh) + 1e-9, 6) AS hill
      FROM agg)
    SELECT event_type, m_used, x_thresh, hill,
      CASE WHEN hill > 0.0 THEN round(1.0 / hill + 1e-9, 4) END AS alpha_tail
    FROM h ORDER BY event_type"""

  /** Mirrors EventAnalytics.anomalyIqr: exact-quantile Tukey fences,
    * broadcast-back outlier scan. */
  val qAnomalyIqr: String = """
    WITH f AS (
      SELECT event_type,
        round(quantile_cont(value, 0.25) + 1e-9, 6) AS q1,
        round(quantile_cont(value, 0.75) + 1e-9, 6) AS q3
      FROM events GROUP BY 1),
    fences AS (
      SELECT event_type, round(q1 - 1.5 * (q3 - q1) + 1e-9, 6) AS lo,
        round(q3 + 1.5 * (q3 - q1) + 1e-9, 6) AS hi
      FROM f)
    SELECT e.event_id, e.event_type, e.value, fe.lo, fe.hi,
      CASE WHEN e.value < fe.lo THEN 'low' ELSE 'high' END AS side
    FROM events e JOIN fences fe USING (event_type)
    WHERE e.value < fe.lo OR e.value > fe.hi
    ORDER BY e.event_id"""

  /** Mirrors EventAnalytics.entropyRate: conditional entropy per
    * source state over the first-order transition matrix. */
  val qEntropyRate: String = """
    WITH seq AS (
      SELECT user_id, event_type,
        lag(event_type, 1) OVER (PARTITION BY user_id
          ORDER BY ts, event_id) AS prev_type
      FROM events),
    t AS (
      SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
    m AS (
      SELECT *,
        sum(n) OVER (PARTITION BY prev_type) AS n_from,
        sum(n) OVER () AS total
      FROM t),
    p AS (
      SELECT prev_type, CAST(n_from AS BIGINT) AS n_from,
        CAST(total AS BIGINT) AS total,
        n / CAST(n_from AS DOUBLE) AS p
      FROM m),
    h AS (
      SELECT prev_type, n_from, total,
        round(-sum(p * log2(p)) + 1e-9, 6) AS h_bits
      FROM p GROUP BY 1, 2, 3),
    wgt AS (
      SELECT *, round(n_from / CAST(total AS DOUBLE) + 1e-9, 6) AS weight
      FROM h)
    SELECT prev_type, n_from, h_bits, weight,
      round(weight * h_bits + 1e-9, 6) AS rate_contrib
    FROM wgt ORDER BY prev_type"""

  /** Mirrors EventAnalytics.chiSquare: margin-based expected counts,
    * Wilson–Hilferty normal approximation. */
  val qChiSquare: String = """
    WITH cells AS (
      SELECT event_type, CAST(user_id % 2 = 0 AS INT) AS variant,
        CAST(count(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2),
    m AS (
      SELECT *,
        sum(o) OVER (PARTITION BY event_type) AS row_t,
        sum(o) OVER (PARTITION BY variant) AS col_t,
        sum(o) OVER () AS n
      FROM cells),
    c AS (
      SELECT *, CAST(row_t AS DOUBLE) * col_t / n AS e FROM m),
    agg AS (
      SELECT CAST(n AS BIGINT) AS n,
        CAST(count(DISTINCT event_type) - 1 AS BIGINT) AS df,
        round(sum((o - e) * (o - e) / e) + 1e-9, 4) AS chi2
      FROM c GROUP BY 1),
    z AS (
      SELECT *,
        round((pow(chi2 / df, 1.0/3) - (1.0 - 2.0 / (9.0 * df)))
          / sqrt(2.0 / (9.0 * df)) + 1e-9, 4) AS z_wh
      FROM agg)
    SELECT n, df, chi2, z_wh, z_wh > 1.645 AS significant FROM z"""

  /** Mirrors EventAnalytics.anova: per-type moments rounded at 6 dp,
    * between/within decomposition, Wilson–Hilferty on (k−1)·F. */
  val qAnova: String = """
    WITH g AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_i,
        round(avg(value) + 1e-9, 6) AS mean_i,
        round(var_samp(value) + 1e-9, 6) AS v_i
      FROM events GROUP BY 1),
    grand AS (
      SELECT CAST(sum(n_i) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
        round(sum(n_i * mean_i) / sum(n_i) + 1e-9, 6) AS gm
      FROM g),
    s AS (
      SELECT n, k, gm,
        sum(n_i * (mean_i - gm) * (mean_i - gm)) AS ssb,
        sum((n_i - 1) * v_i) AS ssw
      FROM g CROSS JOIN grand GROUP BY 1, 2, 3),
    f AS (
      SELECT *,
        round((ssb / (k - 1)) / (ssw / (n - k)) + 1e-9, 4) AS f_stat,
        round(ssb / (ssb + ssw) + 1e-9, 6) AS eta_sq
      FROM s),
    z AS (
      SELECT *, round((k - 1) * f_stat + 1e-9, 4) AS chi2 FROM f),
    w AS (
      SELECT *,
        round((pow(chi2 / (k - 1), 1.0/3) - (1.0 - 2.0 / (9.0 * (k - 1))))
          / sqrt(2.0 / (9.0 * (k - 1))) + 1e-9, 4) AS z_wh
      FROM z)
    SELECT n, k, f_stat, eta_sq, z_wh, z_wh > 1.645 AS significant FROM w"""

  /** Mirrors EventAnalytics.kruskalWallis: tie-block average ranks,
    * tie-corrected H, Wilson–Hilferty z. */
  val qKruskalWallis: String = """
    WITH blocks AS (
      SELECT value, CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1),
    ranked AS (
      SELECT value,
        sum(cnt) OVER (ORDER BY value
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::DOUBLE
          - (cnt - 1) / 2.0 AS avg_rank
      FROM blocks),
    gv AS (
      SELECT event_type, value, CAST(count(*) AS BIGINT) AS cnt_g
      FROM events GROUP BY 1, 2),
    rj AS (
      SELECT gv.event_type, CAST(sum(gv.cnt_g) AS BIGINT) AS n_j,
        sum(gv.cnt_g * r.avg_rank) AS r_j
      FROM gv JOIN ranked r USING (value) GROUP BY 1),
    ties AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS n,
        CAST(sum(cnt*cnt*cnt - cnt) AS BIGINT) AS tie_sum
      FROM blocks),
    s AS (
      SELECT n, tie_sum, CAST(count(*) AS BIGINT) AS k,
        sum(r_j * r_j / n_j) AS s
      FROM rj CROSS JOIN ties GROUP BY 1, 2),
    h0 AS (
      SELECT *,
        12.0 / (n * (n + 1)) * s - 3.0 * (n + 1) AS h_raw,
        1.0 - tie_sum::DOUBLE / (n*n*n - n) AS c
      FROM s),
    h1 AS (
      SELECT n, k,
        CASE WHEN c > 0.0 THEN round(h_raw / c + 1e-9, 4) END AS h
      FROM h0),
    z AS (
      SELECT *,
        round((pow(h / (k - 1), 1.0/3) - (1.0 - 2.0 / (9.0 * (k - 1))))
          / sqrt(2.0 / (9.0 * (k - 1))) + 1e-9, 4) AS z_wh
      FROM h1)
    SELECT n, k, h, z_wh, z_wh > 1.645 AS significant FROM z"""

  /** Mirrors EventAnalytics.leveneBrownForsythe: |x − group median|
    * through the qAnova pipeline. */
  val qLeveneBf: String = """
    WITH med AS (
      SELECT event_type, round(quantile_cont(value, 0.5) + 1e-9, 6) AS med
      FROM events GROUP BY 1),
    zv AS (
      SELECT e.event_type, abs(e.value - m.med) AS value
      FROM events e JOIN med m USING (event_type)),
    g AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_i,
        round(avg(value) + 1e-9, 6) AS mean_i,
        round(var_samp(value) + 1e-9, 6) AS v_i
      FROM zv GROUP BY 1),
    grand AS (
      SELECT CAST(sum(n_i) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
        round(sum(n_i * mean_i) / sum(n_i) + 1e-9, 6) AS gm
      FROM g),
    s AS (
      SELECT n, k, gm,
        sum(n_i * (mean_i - gm) * (mean_i - gm)) AS ssb,
        sum((n_i - 1) * v_i) AS ssw
      FROM g CROSS JOIN grand GROUP BY 1, 2, 3),
    f AS (
      SELECT *,
        round((ssb / (k - 1)) / (ssw / (n - k)) + 1e-9, 4) AS w_stat
      FROM s),
    z AS (
      SELECT *, round((k - 1) * w_stat + 1e-9, 4) AS chi2 FROM f),
    w AS (
      SELECT *,
        round((pow(chi2 / (k - 1), 1.0/3) - (1.0 - 2.0 / (9.0 * (k - 1))))
          / sqrt(2.0 / (9.0 * (k - 1))) + 1e-9, 4) AS z_wh
      FROM z)
    SELECT n, k, w_stat, z_wh, z_wh > 1.645 AS significant FROM w"""

  /** Mirrors EventAnalytics.tukeyHsd: pooled MSE, Tukey–Kramer pair
    * statistics. */
  val qTukeyHsd: String = """
    WITH g AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        round(avg(value) + 1e-9, 6) AS mean,
        round(var_samp(value) + 1e-9, 6) AS v
      FROM events GROUP BY 1),
    mse AS (SELECT sum((n - 1) * v) / sum(n - 1) AS mse FROM g),
    p AS (
      SELECT a.event_type AS type_a, a.n AS n_a, a.mean AS mean_a,
        b.event_type AS type_b, b.n AS n_b, b.mean AS mean_b
      FROM g a JOIN g b ON a.event_type < b.event_type),
    c AS (
      SELECT type_a, type_b, n_a, n_b,
        round(mean_a - mean_b + 1e-9, 6) AS diff,
        sqrt(m.mse / 2 * (1.0 / n_a + 1.0 / n_b)) AS se_raw
      FROM p, mse m),
    q AS (
      SELECT *, round(abs(diff) / se_raw + 1e-9, 4) AS q_stat FROM c)
    SELECT type_a, type_b, n_a, n_b, diff,
      round(se_raw + 1e-9, 6) AS se, q_stat, q_stat > 3.86 AS significant
    FROM q ORDER BY type_a, type_b"""

  /** Mirrors EventAnalytics.cuped: half-month user collapse, pooled
    * θ, adjusted-variant rollup. */
  val qCuped: String = """
    WITH by_user AS (
      SELECT user_id,
        round(sum(CASE WHEN day(ts) < 16 THEN value ELSE 0.0 END)
          + 1e-9, 3) AS pre,
        round(sum(CASE WHEN day(ts) >= 16 THEN value ELSE 0.0 END)
          + 1e-9, 3) AS post,
        CAST(user_id % 2 = 0 AS INT) AS variant
      FROM events GROUP BY 1),
    th AS (
      SELECT avg(pre) AS mx0, avg(post) AS my, avg(pre*post) AS mxy,
        avg(pre*pre) AS mxx
      FROM by_user),
    th2 AS (
      SELECT CASE WHEN mxx - mx0*mx0 > 0.0
          THEN round((mxy - mx0*my) / (mxx - mx0*mx0) + 1e-9, 6)
          ELSE 0.0 END AS theta,
        round(mx0 + 1e-9, 6) AS mx
      FROM th),
    adj AS (
      SELECT b.variant, b.post, b.post - t.theta * (b.pre - t.mx) AS adj
      FROM by_user b, th2 t),
    agg AS (
      SELECT variant, CAST(count(*) AS BIGINT) AS n,
        round(avg(post) + 1e-9, 6) AS mean_post,
        round(avg(adj) + 1e-9, 6) AS mean_adj,
        round(var_samp(post) + 1e-9, 4) AS var_post,
        round(var_samp(adj) + 1e-9, 4) AS var_adj
      FROM adj GROUP BY 1)
    SELECT variant, n, mean_post, mean_adj, var_post, var_adj,
      CASE WHEN var_post > 0.0
        THEN round(1.0 - var_adj / var_post + 1e-9, 6) END AS var_reduction
    FROM agg ORDER BY variant"""

  /** Mirrors EventAnalytics.diffInDiff: 2×2 cell means, pooled SE,
    * z off the rounded did/se. */
  val qDiffInDiff: String = """
    WITH cells AS (
      SELECT CAST(user_id % 2 = 1 AS INT) AS treated,
        CAST(day(ts) >= 16 AS INT) AS post,
        CAST(count(*) AS BIGINT) AS n,
        round(avg(value) + 1e-9, 6) AS mean,
        round(var_samp(value) + 1e-9, 6) AS v
      FROM events GROUP BY 1, 2),
    s AS (
      SELECT
        max(CASE WHEN treated = 1 AND post = 1 THEN mean END) AS t_post,
        max(CASE WHEN treated = 1 AND post = 0 THEN mean END) AS t_pre,
        max(CASE WHEN treated = 0 AND post = 1 THEN mean END) AS c_post,
        max(CASE WHEN treated = 0 AND post = 0 THEN mean END) AS c_pre,
        max(CASE WHEN treated = 1 AND post = 1 THEN v END)
          / max(CASE WHEN treated = 1 AND post = 1 THEN n END)
        + max(CASE WHEN treated = 1 AND post = 0 THEN v END)
          / max(CASE WHEN treated = 1 AND post = 0 THEN n END)
        + max(CASE WHEN treated = 0 AND post = 1 THEN v END)
          / max(CASE WHEN treated = 0 AND post = 1 THEN n END)
        + max(CASE WHEN treated = 0 AND post = 0 THEN v END)
          / max(CASE WHEN treated = 0 AND post = 0 THEN n END) AS se2
      FROM cells),
    d AS (
      SELECT t_pre, t_post, c_pre, c_post,
        round((t_post - t_pre) - (c_post - c_pre) + 1e-9, 6) AS did,
        round(sqrt(se2) + 1e-9, 6) AS se
      FROM s),
    z AS (SELECT *, round(did / se + 1e-9, 4) AS z FROM d)
    SELECT t_pre, t_post, c_pre, c_post, did, se, z,
      abs(z) > 1.96 AS significant
    FROM z"""

  /** Mirrors EventAnalytics.mdePower: per-type variant moments, MDE
    * closed form. */
  val qMdePower: String = """
    WITH m AS (
      SELECT event_type, CAST(user_id % 2 = 0 AS INT) AS variant,
        CAST(count(*) AS BIGINT) AS n,
        round(avg(value) + 1e-9, 6) AS mean,
        round(var_samp(value) + 1e-9, 6) AS v
      FROM events GROUP BY 1, 2),
    a AS (SELECT event_type, n AS n_a, v AS v_a FROM m WHERE variant = 1),
    b AS (SELECT event_type, n AS n_b, mean AS mean_b, v AS v_b
      FROM m WHERE variant = 0),
    j AS (
      SELECT a.event_type, n_a, n_b, mean_b,
        round((1.96 + 0.8416) * sqrt(v_a / n_a + v_b / n_b) + 1e-9, 6)
          AS mde_abs
      FROM a JOIN b USING (event_type))
    SELECT event_type, n_a, n_b, mean_b, mde_abs,
      CASE WHEN mean_b != 0.0
        THEN round(mde_abs / mean_b + 1e-9, 6) END AS mde_rel
    FROM j ORDER BY event_type"""

  /** Mirrors EventAnalytics.growthAccounting: user-WEEK lag states,
    * weekly rollup, churn from the active lag. */
  val qGrowthAccounting: String = """
    WITH um AS (
      SELECT DISTINCT user_id, date_trunc('week', ts)::date AS wk
      FROM events),
    flags AS (
      SELECT user_id, wk,
        lag(wk, 1) OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk
      FROM um),
    st AS (
      SELECT wk,
        CASE WHEN prev_wk IS NULL THEN 'new'
             WHEN date_diff('day', prev_wk, wk) = 7 THEN 'retained'
             ELSE 'resurrected' END AS status
      FROM flags),
    counts AS (
      SELECT wk, CAST(count(*) AS BIGINT) AS n_active,
        CAST(sum(CASE WHEN status = 'new' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_new,
        CAST(sum(CASE WHEN status = 'retained' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_retained,
        CAST(sum(CASE WHEN status = 'resurrected' THEN 1 ELSE 0 END)
          AS BIGINT) AS n_resurrected
      FROM st GROUP BY 1),
    l AS (
      SELECT *, lag(n_active, 1) OVER (ORDER BY wk) AS prev_active
      FROM counts)
    SELECT wk AS week, n_active, n_new, n_retained, n_resurrected,
      CASE WHEN prev_active IS NOT NULL
        THEN CAST(prev_active - n_retained AS BIGINT) END AS n_churned,
      CASE WHEN prev_active - n_retained > 0
        THEN round((n_new + n_resurrected)
          / (prev_active - n_retained)::DOUBLE + 1e-9, 4) END AS quick_ratio
    FROM l ORDER BY week"""

  /** Mirrors EventAnalytics.mannWhitney: distinct-value tie blocks,
    * cumulative average ranks, tie-corrected z. */
  val qMannWhitney: String = """
    WITH tagged AS (
      SELECT event_type, value,
        CAST(count(*) AS BIGINT) AS cnt,
        CAST(sum(CAST(user_id % 2 = 0 AS INT)) AS BIGINT) AS cnt_a
      FROM events GROUP BY 1, 2),
    ranked AS (
      SELECT event_type, cnt, cnt_a,
        sum(cnt) OVER (PARTITION BY event_type ORDER BY value
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          - (cnt - 1) / 2.0 AS avg_rank,
        cnt * cnt * cnt - cnt AS tie3
      FROM tagged),
    agg AS (
      SELECT event_type,
        sum(cnt_a * avg_rank) AS r_a,
        CAST(sum(cnt_a) AS BIGINT) AS n_a,
        CAST(sum(cnt - cnt_a) AS BIGINT) AS n_b,
        CAST(sum(tie3) AS BIGINT) AS tie_sum
      FROM ranked GROUP BY 1),
    stat AS (
      SELECT event_type, n_a, n_b, n_a + n_b AS n,
        round(r_a - n_a * (n_a + 1) / 2.0 + 1e-9, 1) AS u,
        n_a * n_b / 12.0 * ((n_a + n_b + 1)
          - CAST(tie_sum AS DOUBLE)
            / ((n_a + n_b) * (n_a + n_b - 1))) AS var_u
      FROM agg)
    SELECT event_type, n_a, n_b, u,
      round((u - n_a * n_b / 2.0) / sqrt(var_u) + 1e-9, 4) AS z,
      abs(round((u - n_a * n_b / 2.0) / sqrt(var_u) + 1e-9, 4)) > 1.96
        AS significant
    FROM stat ORDER BY event_type"""

  /** Mirrors EventAnalytics.kaplanMeier: per-user spans, lifetime
    * churn/censor census, at-risk from reverse-cumulative, the
    * survival product folded as exp(Σ ln). */
  val qKaplanMeier: String = """
    WITH users AS (
      SELECT user_id, CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1
      FROM events GROUP BY 1),
    hz AS (SELECT CAST(max(ts) AS DATE) AS dmax FROM events),
    lifetimes AS (
      SELECT datediff('day', u.d0, u.d1) AS lifetime,
        CAST(u.d1 = h.dmax AS INT) AS censored
      FROM users u, hz h),
    per_day AS (
      SELECT lifetime, CAST(count(*) AS BIGINT) AS n_end,
        CAST(sum(censored) AS BIGINT) AS n_censored
      FROM lifetimes GROUP BY 1),
    s1 AS (
      SELECT lifetime, n_end, n_censored, n_end - n_censored AS n_churn,
        CAST(sum(n_end) OVER () AS BIGINT)
          - CAST(coalesce(sum(n_end) OVER (ORDER BY lifetime
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
          AS n_risk
      FROM per_day),
    s2 AS (
      SELECT *, CASE WHEN n_churn > 0
        THEN ln(1.0 - CAST(n_churn AS DOUBLE) / n_risk) ELSE 0.0 END AS lnterm
      FROM s1)
    SELECT lifetime, n_risk, n_churn, n_censored,
      round(exp(sum(lnterm) OVER (ORDER BY lifetime
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) + 1e-9, 6)
        AS survival
    FROM s2 ORDER BY lifetime"""

  /** Mirrors EventAnalytics.nelsonAalen: KM's lifetime frame, hazard
    * increments d/n and d/n² cumulated in lifetime order. */
  val qNelsonAalen: String = """
    WITH users AS (
      SELECT user_id, CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1
      FROM events GROUP BY 1),
    hz AS (SELECT CAST(max(ts) AS DATE) AS dmax FROM events),
    lifetimes AS (
      SELECT datediff('day', u.d0, u.d1) AS lifetime,
        CAST(u.d1 = h.dmax AS INT) AS censored
      FROM users u, hz h),
    per_day AS (
      SELECT lifetime, CAST(count(*) AS BIGINT) AS n_end,
        CAST(sum(censored) AS BIGINT) AS n_censored
      FROM lifetimes GROUP BY 1),
    s1 AS (
      SELECT lifetime, n_end, n_end - n_censored AS n_churn,
        CAST(sum(n_end) OVER () AS BIGINT)
          - CAST(coalesce(sum(n_end) OVER (ORDER BY lifetime
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
          AS n_risk
      FROM per_day),
    s2 AS (
      SELECT *, CAST(n_churn AS DOUBLE) / n_risk AS h_inc,
        CAST(n_churn AS DOUBLE) / (n_risk * n_risk) AS v_inc
      FROM s1)
    SELECT lifetime, n_risk, n_churn,
      round(sum(h_inc) OVER win + 1e-9, 6) AS cum_hazard,
      round(sqrt(sum(v_inc) OVER win) + 1e-9, 6) AS hazard_se
    FROM s2
    WINDOW win AS (ORDER BY lifetime
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY lifetime"""

  /** Mirrors EventAnalytics.upliftSegments: fixed pre-period cutoffs,
    * post purchase outcome, pooled two-proportion z per segment. */
  val qUpliftSegments: String = """
    WITH by_user AS (
      SELECT user_id,
        CAST(sum(CASE WHEN day(ts) < 16 THEN 1 ELSE 0 END) AS BIGINT) AS pre_n,
        CAST(max(CASE WHEN day(ts) >= 16 AND event_type = 'purchase'
          THEN 1 ELSE 0 END) AS BIGINT) AS conv,
        CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS variant
      FROM events GROUP BY user_id),
    mp AS (SELECT avg(pre_n) AS mean_pre FROM by_user),
    seg AS (
      SELECT b.*, CASE WHEN b.pre_n < 0.75 * m.mean_pre THEN '0_light'
                       WHEN b.pre_n <= 1.25 * m.mean_pre THEN '1_medium'
                       ELSE '2_heavy' END AS segment
      FROM by_user b CROSS JOIN mp m),
    s AS (
      SELECT segment,
        CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
        CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
        CAST(sum(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_t,
        CAST(sum(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_c
      FROM seg GROUP BY 1
      HAVING sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) > 0
         AND sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) > 0),
    p AS (
      SELECT *,
        round(conv_t / CAST(n_t AS DOUBLE) + 1e-9, 6) AS p_t,
        round(conv_c / CAST(n_c AS DOUBLE) + 1e-9, 6) AS p_c,
        (conv_t + conv_c) / CAST(n_t + n_c AS DOUBLE) AS p_pool
      FROM s),
    z AS (
      SELECT *, sqrt(p_pool * (1.0 - p_pool) * (1.0 / n_t + 1.0 / n_c)) AS se
      FROM p)
    SELECT segment, n_t, n_c, conv_t, conv_c, p_t, p_c,
      round(p_t - p_c + 1e-9, 6) AS uplift,
      CASE WHEN se > 0.0 THEN round((p_t - p_c) / se + 1e-9, 4) END AS z
    FROM z ORDER BY segment"""

  /** Mirrors EventAnalytics.cdcMerge: keyed last-event collapse per
    * half-month snapshot, full-outer merge with provenance. */
  val qCdcMerge: String = """
    WITH ranked AS (
      SELECT user_id, event_type, value, ts, day(ts) >= 16 AS is_change,
        row_number() OVER (PARTITION BY user_id, day(ts) >= 16
          ORDER BY ts DESC, event_id DESC) AS rn
      FROM events),
    last_s AS (
      SELECT user_id, is_change, event_type AS state,
        round(value + 1e-9, 3) AS value, ts::date AS updated_at
      FROM ranked WHERE rn = 1),
    base AS (SELECT * FROM last_s WHERE NOT is_change),
    chg AS (SELECT * FROM last_s WHERE is_change)
    SELECT coalesce(b.user_id, c.user_id) AS user_id,
      CASE WHEN b.user_id IS NULL THEN 'insert'
           WHEN c.user_id IS NULL THEN 'unchanged'
           ELSE 'update' END AS op,
      coalesce(c.state, b.state) AS state,
      coalesce(c.value, b.value) AS value,
      coalesce(c.updated_at, b.updated_at) AS updated_at
    FROM base b FULL OUTER JOIN chg c ON c.user_id = b.user_id
    ORDER BY user_id"""

  /** Mirrors EventAnalytics.mixtureAnomalies: density under the same
    * unrolled EM fit, floor census. Lazy: qEmMixture initializes
    * later in this object. */
  lazy val qAnomalyMixture: String = s"""
    WITH params AS (SELECT * FROM ($qEmMixture)),
    vals AS (
      SELECT event_type, CAST(value AS DOUBLE) AS v
      FROM events WHERE value IS NOT NULL),
    d AS (
      SELECT v.event_type,
        p.pi1 / sqrt(2.0 * pi() * p.var1)
          * exp((v.v - p.mu1) * (v.v - p.mu1) / (-2.0 * p.var1))
        + p.pi2 / sqrt(2.0 * pi() * p.var2)
          * exp((v.v - p.mu2) * (v.v - p.mu2) / (-2.0 * p.var2)) AS dens
      FROM vals v JOIN params p USING (event_type))
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      CAST(sum(CASE WHEN dens < 0.0001 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_anomalous,
      round(sum(CASE WHEN dens < 0.0001 THEN 1 ELSE 0 END)
        / CAST(count(*) AS DOUBLE) + 1e-9, 6) AS anomaly_share,
      round(min(dens) + 1e-9, 8) AS min_density
    FROM d GROUP BY 1 ORDER BY event_type"""

  /** Mirrors EventAnalytics.bimodality: raw power sums, population
    * central moments, Sarle's BC. */
  val qBimodality: String = """
    WITH v AS (
      SELECT event_type, CAST(value AS DOUBLE) AS x
      FROM events WHERE value IS NOT NULL),
    s AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        sum(x) AS s1, sum(x*x) AS s2, sum(x*x*x) AS s3, sum(x*x*x*x) AS s4
      FROM v GROUP BY 1),
    c1 AS (SELECT *, CAST(n AS DOUBLE) AS nd, s1 / CAST(n AS DOUBLE) AS m FROM s),
    c2 AS (SELECT *,
        s2/nd - m*m AS m2,
        s3/nd - 3.0*m*(s2/nd) + 2.0*m*m*m AS m3,
        s4/nd - 4.0*m*(s3/nd) + 6.0*m*m*(s2/nd) - 3.0*m*m*m*m AS m4
      FROM c1),
    c3 AS (
      SELECT event_type, n,
        round(m3 / sqrt(m2*m2*m2) + 1e-9, 4) AS skew,
        round(m4 / (m2*m2) + 1e-9, 4) AS kurt
      FROM c2 WHERE m2 > 0.0)
    SELECT event_type, n, skew, kurt,
      round((skew*skew + 1.0) / kurt + 1e-9, 4) AS bc,
      round((skew*skew + 1.0) / kurt + 1e-9, 4) > (5.0/9.0) AS bimodal
    FROM c3 ORDER BY event_type"""

  /** Mirrors EventAnalytics.emMixture: 3 unrolled EM rounds, 6-dp
    * responsibilities, 4-dp parameters, 1e-4 variance clamp. */
  val qEmMixture: String = {
    val rounds = (1 to 3).map { i =>
      s"""e$i AS (
      SELECT event_type, v,
        round(CASE WHEN w1 + w2 > 0.0 THEN w2 / (w1 + w2) ELSE 0.5 END
          + 1e-9, 6) AS r2
      FROM (
        SELECT v.event_type, v.v,
          p.pi1 / sqrt(p.var1)
            * exp((v.v - p.mu1) * (v.v - p.mu1) / (-2.0 * p.var1)) AS w1,
          p.pi2 / sqrt(p.var2)
            * exp((v.v - p.mu2) * (v.v - p.mu2) / (-2.0 * p.var2)) AS w2
        FROM vals v JOIN p${i - 1} p USING (event_type))),
    p$i AS MATERIALIZED (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        round(sum(1.0 - r2) / CAST(count(*) AS DOUBLE) + 1e-9, 4) AS pi1,
        round(sum((1.0 - r2) * v) / sum(1.0 - r2) + 1e-9, 4) AS mu1,
        greatest(round(sum((1.0 - r2) * v * v) / sum(1.0 - r2)
          - (sum((1.0 - r2) * v) / sum(1.0 - r2))
            * (sum((1.0 - r2) * v) / sum(1.0 - r2)) + 1e-9, 4), 0.0001) AS var1,
        round(sum(r2) / CAST(count(*) AS DOUBLE) + 1e-9, 4) AS pi2,
        round(sum(r2 * v) / sum(r2) + 1e-9, 4) AS mu2,
        greatest(round(sum(r2 * v * v) / sum(r2)
          - (sum(r2 * v) / sum(r2)) * (sum(r2 * v) / sum(r2))
          + 1e-9, 4), 0.0001) AS var2
      FROM e$i GROUP BY 1)"""
    }.mkString(",\n    ")
    s"""
    WITH vals AS (
      SELECT event_type, CAST(value AS DOUBLE) AS v
      FROM events WHERE value IS NOT NULL),
    init AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        round(avg(v) + 1e-9, 4) AS m,
        round(stddev_pop(v) + 1e-9, 4) AS s
      FROM vals GROUP BY 1),
    p0 AS MATERIALIZED (
      SELECT event_type, n, 0.5 AS pi1, m - s AS mu1,
        greatest(round(s * s / 2.0 + 1e-9, 4), 0.0001) AS var1,
        0.5 AS pi2, m + s AS mu2,
        greatest(round(s * s / 2.0 + 1e-9, 4), 0.0001) AS var2
      FROM init),
    $rounds
    SELECT event_type, n, pi1, mu1, var1, pi2, mu2, var2
    FROM p3 ORDER BY event_type"""
  }

  /** Mirrors EventAnalytics.markovAttribution: the same chain build,
    * with the K-round fixed point UNROLLED as K generated CTEs (each
    * round rounded to 10 dp exactly like the Spark loop). */
  val qMarkovAttribution: String = {
    val k = 16
    val rounds = (1 to k).map { i =>
      val prev = if (i == 1) "p0" else s"p${i - 1}"
      s"""p$i AS (
      SELECT c.removed, c.src, round(c.c0 + coalesce(f.flow, 0.0), 10) AS p_conv
      FROM const c LEFT JOIN (
        SELECT t.removed, t.src, sum(t.p * pr.p_conv) AS flow
        FROM chan_trans t JOIN $prev pr
          ON pr.removed = t.removed AND pr.src = t.dst
        WHERE t.dst != t.removed
        GROUP BY 1, 2) f
      ON f.removed = c.removed AND f.src = c.src)"""
    }.mkString(",\n    ")
    s"""
    WITH seq AS (
      SELECT user_id, event_type,
        lead(event_type) OVER win AS nxt,
        row_number() OVER win AS rn
      FROM events
      WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)),
    trans_rows AS (
      SELECT 'START' AS src,
        CASE WHEN event_type = 'purchase' THEN 'CONV' ELSE event_type END AS dst
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT CASE WHEN event_type = 'purchase' THEN 'START' ELSE event_type END,
        CASE WHEN nxt = 'purchase' THEN 'CONV' ELSE nxt END
      FROM seq WHERE nxt IS NOT NULL
      UNION ALL
      SELECT event_type, 'END'
      FROM seq WHERE nxt IS NULL AND event_type != 'purchase'),
    probs AS (
      SELECT src, dst,
        count(*) / CAST(sum(count(*)) OVER (PARTITION BY src) AS DOUBLE) AS p
      FROM trans_rows GROUP BY 1, 2),
    variants AS (
      SELECT DISTINCT src AS removed FROM probs WHERE src != 'START'
      UNION ALL SELECT ''),
    states AS (
      SELECT v.removed, s.src
      FROM (SELECT DISTINCT src FROM probs) s CROSS JOIN variants v),
    conv_mass AS (
      SELECT src, sum(CASE WHEN dst = 'CONV' THEN p ELSE 0.0 END) AS c0
      FROM probs GROUP BY 1),
    const AS (
      SELECT s.removed, s.src, coalesce(m.c0, 0.0) AS c0
      FROM states s LEFT JOIN conv_mass m USING (src)),
    chan_trans AS (
      SELECT v.removed, p.src, p.dst, p.p
      FROM probs p CROSS JOIN variants v
      WHERE p.dst NOT IN ('CONV', 'END')),
    p0 AS (SELECT removed, src, 0.0 AS p_conv FROM states),
    $rounds,
    conv AS (
      SELECT removed, p_conv FROM p$k WHERE src = 'START'),
    eff AS (
      SELECT c.removed AS channel,
        b.p_conv AS base_conv, c.p_conv AS removal_conv,
        (b.p_conv - c.p_conv) / b.p_conv AS eff_raw
      FROM conv c, (SELECT p_conv FROM conv WHERE removed = '') b
      WHERE c.removed != ''),
    tot AS (SELECT sum(eff_raw) AS tot_eff FROM eff)
    SELECT e.channel,
      round(e.base_conv + 1e-9, 6) AS base_conv,
      round(e.removal_conv + 1e-9, 6) AS removal_conv,
      round(e.eff_raw + 1e-9, 6) AS removal_effect,
      CASE WHEN t.tot_eff > 0
           THEN round(e.eff_raw / t.tot_eff + 1e-9, 6) END AS attribution
    FROM eff e, tot t
    ORDER BY e.channel"""
  }

  /** Mirrors EventAnalytics.shapleyAttribution: distinct-channel-set
    * bitmasks per user, v(S) over all 2^C coalitions by bitwise-subset
    * join, exact factorial Shapley weights. */
  val qShapleyAttribution: String = """
    WITH chan AS (
      SELECT channel,
        CAST(row_number() OVER (ORDER BY channel) - 1 AS INT) AS bit
      FROM (SELECT DISTINCT event_type AS channel FROM events
            WHERE event_type != 'purchase')),
    user_chan AS (
      SELECT DISTINCT e.user_id, c.bit
      FROM events e JOIN chan c ON c.channel = e.event_type),
    user_mask AS (
      SELECT u.user_id, coalesce(m.m, 0) AS mask
      FROM (SELECT DISTINCT user_id FROM events) u
      LEFT JOIN (SELECT user_id, CAST(sum(1::BIGINT << bit) AS BIGINT) AS m
                 FROM user_chan GROUP BY 1) m USING (user_id)),
    conv AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
    mask_counts AS (
      SELECT um.mask, CAST(count(c.user_id) AS BIGINT) AS n_conv
      FROM user_mask um LEFT JOIN conv c USING (user_id)
      GROUP BY 1),
    cc AS (SELECT CAST(count(*) AS INT) AS n_chan FROM chan),
    subsets AS (
      SELECT cc.n_chan, unnest(generate_series(0::BIGINT,
        (1::BIGINT << cc.n_chan) - 1)) AS s FROM cc),
    v AS (
      SELECT sub.n_chan, sub.s,
        CAST(coalesce(sum(mc.n_conv), 0) AS BIGINT) AS v
      FROM subsets sub LEFT JOIN mask_counts mc ON (mc.mask & sub.s) = mc.mask
      GROUP BY 1, 2),
    sh AS (
      SELECT ch.channel,
        round(sum(
          CAST(factorial(bit_count(v0.s)) AS DOUBLE)
            * CAST(factorial(v0.n_chan - 1 - bit_count(v0.s)) AS DOUBLE)
            / CAST(factorial(v0.n_chan) AS DOUBLE)
            * (v1.v - v0.v)) + 1e-9, 6) AS shapley
      FROM chan ch
      JOIN v v0 ON (v0.s & (1::BIGINT << ch.bit)) = 0
      JOIN v v1 ON v1.s = (v0.s | (1::BIGINT << ch.bit))
      GROUP BY 1),
    tot AS (SELECT sum(shapley) AS tot FROM sh)
    SELECT s.channel, s.shapley,
      CASE WHEN t.tot > 0 THEN round(s.shapley / t.tot + 1e-9, 6) END AS share
    FROM sh s, tot t
    ORDER BY s.channel"""

  /** Mirrors EventAnalytics.scd2States: daily last-event state
    * (ts/event_id tie-break), gaps-and-islands interval build. */
  val qScd2: String = """
    WITH daily AS (
      SELECT user_id, day, state FROM (
        SELECT user_id, ts::date AS day, event_type AS state,
          row_number() OVER (PARTITION BY user_id, ts::date
            ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) WHERE rn = 1),
    isl AS (
      SELECT user_id, day, state,
        CASE WHEN lag(state) OVER w IS NULL
               OR state != lag(state) OVER w THEN 1 ELSE 0 END AS chg
      FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY day)),
    num AS (
      SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY day
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS version
      FROM isl),
    iv AS (
      SELECT user_id, version, state, min(day) AS valid_from,
        CAST(count(*) AS BIGINT) AS n_days
      FROM num GROUP BY 1, 2, 3)
    SELECT user_id, version, state, valid_from,
      coalesce(lead(valid_from) OVER w2 - 1, DATE '9999-12-31') AS valid_to,
      n_days,
      lead(valid_from) OVER w2 IS NULL AS is_current
    FROM iv
    WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from)
    ORDER BY user_id, version"""

  /** Mirrors EventAnalytics.abSrm: distinct exposed users per variant
    * per type, 1-dof χ² vs the designed 50/50. */
  val qAbSrm: String = """
    WITH u AS (
      SELECT DISTINCT event_type,
        CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS variant, user_id
      FROM events),
    s AS (
      SELECT event_type,
        CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      FROM u GROUP BY 1)
    SELECT event_type, n_a, n_b,
      round(n_a / CAST(n_a + n_b AS DOUBLE) + 1e-9, 6) AS share_a,
      round(CAST(n_a - n_b AS DOUBLE) * (n_a - n_b) / (n_a + n_b) + 1e-9, 6) AS chi2,
      round(CAST(n_a - n_b AS DOUBLE) * (n_a - n_b) / (n_a + n_b) + 1e-9, 6) > 3.841 AS srm
    FROM s ORDER BY event_type"""

  /** Mirrors EventAnalytics.msprt: cumulative per-arm purchase rates
    * by day, log mixture likelihood ratio, running-max always-valid
    * p-value. All statistics derive from integer cumulative sums, so
    * both engines agree bit-for-bit before the final rounding. */
  val qMsprt: String = """
    WITH daily AS (
      SELECT ts::date AS day,
        CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS variant,
        CAST(count(*) AS BIGINT) AS n_ev,
        CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_conv
      FROM events GROUP BY 1, 2),
    cum AS (
      SELECT day, variant,
        CAST(sum(n_ev) OVER w AS BIGINT) AS n,
        CAST(sum(n_conv) OVER w AS BIGINT) AS x
      FROM daily
      WINDOW w AS (PARTITION BY variant ORDER BY day ROWS UNBOUNDED PRECEDING)),
    ab AS (
      SELECT a.day, a.n AS n_a, a.x AS x_a, b.n AS n_b, b.x AS x_b
      FROM (SELECT day, n, x FROM cum WHERE variant = 0) a
      JOIN (SELECT day, n, x FROM cum WHERE variant = 1) b USING (day)),
    st AS (
      SELECT day, n_a, n_b, x_a, x_b,
        (x_a + x_b) / CAST(n_a + n_b AS DOUBLE) AS p_pool,
        x_b / CAST(n_b AS DOUBLE) - x_a / CAST(n_a AS DOUBLE) AS delta
      FROM ab),
    v AS (
      SELECT *, p_pool * (1.0 - p_pool) * (1.0 / n_a + 1.0 / n_b) AS vv
      FROM st),
    ll AS (
      SELECT *, 0.5 * ln(vv / (vv + 0.0001))
        + delta * delta * 0.0001 / (2.0 * vv * (vv + 0.0001)) AS log_lambda
      FROM v WHERE vv > 0.0),
    run AS (
      SELECT *, max(log_lambda) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS mx
      FROM ll)
    SELECT day, n_a, n_b, x_a, x_b,
      round(delta + 1e-9, 6) AS delta,
      round(log_lambda + 1e-9, 6) AS log_lambda,
      round(least(1.0, exp(-mx)) + 1e-9, 6) AS p_always_valid,
      round(least(1.0, exp(-mx)) + 1e-9, 6) < 0.05 AS significant
    FROM run ORDER BY day"""

  /** Mirrors EventAnalytics.poissonRatio: two-sample Poisson
    * rate-ratio z with the delta-method CI, from the same collapsed
    * integer counts. */
  val qPoissonRatio: String = """
    WITH u AS (
      SELECT DISTINCT event_type,
        CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS variant, user_id
      FROM events),
    nu AS (
      SELECT event_type, variant, CAST(count(*) AS BIGINT) AS n_users
      FROM u GROUP BY 1, 2),
    cx AS (
      SELECT event_type,
        CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS variant,
        CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    both_arms AS (
      SELECT c.event_type, c.variant, c.x, n.n_users
      FROM cx c JOIN nu n USING (event_type, variant)),
    ab AS (
      SELECT a.event_type, a.x AS x_a, a.n_users AS n_a,
        b.x AS x_b, b.n_users AS n_b
      FROM (SELECT * FROM both_arms WHERE variant = 0) a
      JOIN (SELECT * FROM both_arms WHERE variant = 1) b USING (event_type)
      WHERE a.x > 0 AND b.x > 0),
    st AS (
      SELECT *,
        ln((x_b / CAST(n_b AS DOUBLE)) / (x_a / CAST(n_a AS DOUBLE))) AS lr,
        sqrt(1.0 / x_a + 1.0 / x_b) AS se
      FROM ab)
    SELECT event_type, x_a, n_a, x_b, n_b,
      round(x_a / CAST(n_a AS DOUBLE) + 1e-9, 6) AS rate_a,
      round(x_b / CAST(n_b AS DOUBLE) + 1e-9, 6) AS rate_b,
      round(lr + 1e-9, 6) AS log_ratio,
      round(lr - 1.96 * se + 1e-9, 6) AS ci_lo,
      round(lr + 1.96 * se + 1e-9, 6) AS ci_hi,
      round(lr / se + 1e-9, 4) AS z,
      abs(round(lr / se + 1e-9, 4)) > 1.96 AS significant
    FROM st ORDER BY event_type"""

  val all: Map[String, String] = Map(
    "q_attribution" -> qAttribution,
    "q_msprt" -> qMsprt,
    "q_poisson_ratio" -> qPoissonRatio,
    "q_markov_attribution" -> qMarkovAttribution,
    "q_shapley_attribution" -> qShapleyAttribution,
    "q_scd2" -> qScd2,
    "q_ab_srm" -> qAbSrm,
    "q_nelson_aalen" -> qNelsonAalen,
    "q_uplift_segments" -> qUpliftSegments,
    "q_cdc_merge" -> qCdcMerge,
    "q_em_mixture" -> qEmMixture,
    "q_bimodality" -> qBimodality,
    "q_anomaly_mixture" -> qAnomalyMixture,
    "q_benford" -> qBenford,
    "q_ttest_welch" -> qTtestWelch,
    "q_chi_square" -> qChiSquare,
    "q_anova" -> qAnova,
    "q_kruskal_wallis" -> qKruskalWallis,
    "q_growth_accounting" -> qGrowthAccounting,
    "q_tukey_hsd" -> qTukeyHsd,
    "q_cuped" -> qCuped,
    "q_diff_in_diff" -> qDiffInDiff,
    "q_mde_power" -> qMdePower,
    "q_levene_bf" -> qLeveneBf,
    "q_anomaly_iqr" -> qAnomalyIqr,
    "q_entropy_rate" -> qEntropyRate,
    "q_hill_tail" -> qHillTail,
    "q_inter_event" -> qInterEvent,
    "q_user_diversity" -> qUserDiversity,
    "q_trending" -> qTrending,
    "q_psi" -> qPsi,
    "q_basket_lift" -> qBasketLift,
    "q_emd" -> qEmd,
    "q_two_prop_z" -> qTwoPropZ,
    "q_recency_score" -> qRecencyScore,
    "q_winsorize" -> qWinsorize,
    "q_burst_hours" -> qBurstHours,
    "q_mann_whitney" -> qMannWhitney,
    "q_kaplan_meier" -> qKaplanMeier,
    "q_cvar" -> qCvar,
    "q_cohort_ltv" -> qCohortLtv,
    "q_stickiness" -> qStickiness,
    "q_gini" -> qGini,
    "q_anomaly_mad" -> qAnomalyMad,
    "q_user_streaks" -> qUserStreaks,
    "q_new_vs_returning" -> qNewVsReturning,
    "q_type_overlap" -> qTypeOverlap,
    "q_time_to_convert" -> qTimeToConvert,
    "q_calendar_heatmap" -> qCalendarHeatmap,
    "q_event_rfm" -> qEventRfm,
    "q_window_funnel" -> qWindowFunnel,
    "q_hll_setops" -> qHllSetOps,
    "q_active_users" -> qActiveUsers,
    "q_pareto_share" -> qParetoShare,
    "q_user_paths" -> qUserPaths,
    "q_event_transitions" -> qEventTransitions,
    "q_funnel" -> qFunnel,
    "q_retention" -> qRetention,
    "q_histogram" -> qHistogram,
    "q_json_props" -> qJsonProps,
    "q_distinct_hll" -> qDistinctHll,
    "q_window_hll" -> qWindowHll,
    "q_quantiles" -> qQuantiles,
    "q_cube" -> qCube,
    "q_anomaly_zscore" -> qAnomalyZscore)
}
