package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.{Json, Session}

/** Benchmark main: runs the headline queries (one per operator family)
  * on SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Two passes per query, both reported:
  *  - cold: first execution in the JVM — dominated at this SF by
  *    one-time whole-stage-codegen compilation and JIT (3-9s for the
  *    complex plans), not by distributed work.
  *  - warm (headline `queries`/`value`): a second execution with
  *    compiled codegen, after `TsQueries.clearMemo` drops the library's
  *    memoized kind frames so every distributed stage genuinely
  *    re-executes (scans, shuffles, windows — nothing is served from
  *    the first pass's cache). This is the steady-state throughput a
  *    long-lived executor fleet sees, the number that scales with data
  *    volume — compile time is a constant, not a ×1000 term.
  */
object Bench {
  /** The bench tiers in report order. Tier 1 reports as `value` /
    * `queries` / `cold_value` / `cold_queries`, tier i as `value<i>` /
    * `queries<i>` / `cold_value<i>` / `cold_queries<i>`. Compositions are
    * frozen for cross-round comparability (tier boundaries are
    * versioned in PERF.md): a new query opens a new tier. */
  val tiers: Seq[Seq[String]] = Seq(
    // 1: representative query per family — relational, timeseries QC/
    // fill/correction/aggregation, dedup, ANN, text, streaming-twin
    // (the composition of BENCH_r01..r06)
    Seq("q1_agg", "q3_join", "q5_region_revenue", "q_asof_join", "q_asof_native", "q_topk_window",
      "q_expand_grid", "q_qc_all", "q_fill_neighbor", "q_richter_correct",
      "q_richter_correct_hourly", "q_agg_month", "q_knn_elev",
      "q_dedup_jaccard", "q_dedup_embedding", "q_dedup_embedding_lsh",
      "q_ann_topk", "q_text_fingerprint", "q_stream_window",
      "q_funnel", "q_distinct_hll", "q_range_join_time", "q_window_sliding"),
    // 2: the round-6 graph / statistics / climate / corpus surface, so
    // the long tail of the board is benched round-over-round too
    Seq("q_pagerank", "q_dedup_components", "q_markov_attribution",
      "q_em_mixture", "q_trend_mk", "q_dtw", "q_corpus_clean",
      "q_semdedup", "q_bm25", "q_scd2", "q_snht", "q_item_cf"),
    // 3: the round-7 additions (geometry chain, stationarity family,
    // the three real decoders, hydrology and supply-chain closers) plus
    // round 8's PNG and JPEG decodes — fixed from round 8 on
    Seq("q_geom_wkt", "q_geom_wgs84", "q_kpss", "q_adf", "q_coint_eg",
      "q_gev_lmoments", "q_lowess", "q_msprt", "q_text_charclass",
      "q_snowpack", "q_scs_runoff", "q_cdc_chunks", "q_croston",
      "q_solar_ra", "q_inventory_policy", "q_quantile_mapping",
      "q_esd_outliers", "q_periodogram_daily", "q_weibull_fit",
      "q_poisson_ratio", "q_flood_seasonality", "q_budyko", "q_rbo",
      "q_image_decode_png", "q_image_decode_jpeg"),
    // 4: the remaining round-8 additions (bucketed ingest, windowed
    // HLL, audio spectrum, video scenes, phash, the two incremental
    // screens) plus round 9's snapshot screens and GIF decode — fixed
    // from round 9 on
    Seq("q_ingest_bucketed", "q_window_hll", "q_audio_spectrum",
      "q_video_scenes", "q_image_phash", "q_dedup_incremental",
      "q_embed_incremental", "q_dedup_snapshot", "q_embed_snapshot",
      "q_image_decode_gif", "q_gif_frames", "q_gif_composite",
      "q_dedup_snapshot_cycle", "q_dedup_url", "q_url_domains"),
    // 5: the round-10 additions (LSH-screened embedding snapshot,
    // multi-index-hashing phash) — fixed from round 10 on
    Seq("q_embed_snapshot_lsh", "q_image_phash_mih", "q_ann_ivfpq_snapshot",
      "q_dedup_components_incr"),
    // 6: the late round-10 additions (BMP/TIFF/ICO image decode, the
    // G.711 pair + big-endian AIFF + stateful IMA ADPCM audio decode,
    // gzip JSONL ingest, NFC normalization, hashing-trick features) —
    // fixed from round 10 on
    Seq("q_image_decode_bmp", "q_image_decode_tiff", "q_image_decode_ico",
      "q_audio_mulaw", "q_audio_alaw", "q_audio_aiff", "q_audio_adpcm",
      "q_ingest_gzip", "q_ingest_warc", "q_ingest_zip",
      "q_ingest_tar", "q_ingest_sitemap", "q_ingest_pdf",
      "q_image_exif", "q_image_cross_format", "q_robots_filter",
      "q_text_normalize", "q_feature_hash", "q_html_metrics"))

  /** One pass of one query: wall seconds, and the error if it threw. */
  type Timing = (Double, Option[String])

  /** Builds `query` (a registered query, or a frame built and planned
    * before the pass) and runs it into the noop sink.
    *
    * Noop sink, not count(): under count() Catalyst prunes every column
    * the count doesn't need — including whole Window nodes (an as-of
    * join's matched column, and with it the entire window, vanishes
    * from the counted plan). The noop write materializes every output
    * column through the full plan with zero sink cost.
    *
    * Failure-honest: a query that throws must NOT be reported as a
    * (fast-looking) time — the error is returned, [[render]] excludes
    * it from the totals and surfaces it in the JSON, so a correctness
    * regression can never masquerade as a speedup. */
  def timed(query: => DataFrame): Timing = {
    val t0 = System.nanoTime()
    val err = try {
      query.write.format("noop").mode("overwrite").save()
      None
    } catch { case t: Throwable =>
      // first non-blank line: a message STARTING with a newline (some
      // ParseExceptions) must not truncate to an empty string
      val msg = Option(t.getMessage).getOrElse(t.getClass.getName)
      Some(msg.linesIterator.find(_.trim.nonEmpty)
        .getOrElse(t.getClass.getName).take(200))
    }
    ((System.nanoTime() - t0) / 1e9, err)
  }

  /** The bench line: per tier the warm total and times, then the cold
    * ones; then every error of the warm and of the cold pass. */
  def render(tiers: Seq[Seq[String]], cold: Map[String, Timing],
      warm: Map[String, Timing], sf: String): String = {
    val all = tiers.flatten
    def js(names: Seq[String], rs: Map[String, Timing]): String =
      names.map(n => "\"" + n + "\":" + rs(n)._1).mkString("{", ",", "}")
    // totals cover ONLY queries that ran to completion in that pass
    def total(names: Seq[String], rs: Map[String, Timing]): Double =
      names.map(rs).collect { case (v, None) => v }.sum
    def errJs(rs: Map[String, Timing]): String =
      all.flatMap(n => rs(n)._2.map(e => "\"" + n + "\":" + Json.str(e)))
        .mkString("{", ",", "}")
    val perTier = tiers.zipWithIndex.map { case (names, i) =>
      val s = if (i == 0) "" else (i + 1).toString
      val mode = if (i == 0) "\"unit\":\"sec\",\"mode\":\"warm-jvm-recomputed\",\"sink\":\"noop\"," else ""
      s"\"value$s\":${total(names, warm)},$mode\"queries$s\":${js(names, warm)}," +
        s"\"cold_value$s\":${total(names, cold)},\"cold_queries$s\":${js(names, cold)}"
    }
    val nErrors = all.count(n => warm(n)._2.isDefined) + all.count(n => cold(n)._2.isDefined)
    s"""{"metric":"total",${perTier.mkString(",")},"errors":${errJs(warm)},""" +
      s""""cold_errors":${errJs(cold)},"n_errors":$nErrors,"sf":"$sf"}"""
  }

  /** Session warm-up: FS + parquet footer reads, not attributed to
    * any timed query. */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    SparkEntry.queries("q1_agg")(spark, sfDir).count()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.contract()
    warmUp(spark, sfDir)
    val all = tiers.flatten
    def pass(): Map[String, Timing] =
      all.map(n => n -> timed(SparkEntry.queries(n)(spark, sfDir))).toMap
    val cold = pass()
    // drop memoized kind frames: each warm pass must redo ALL of the
    // distributed work, with only the JVM (codegen/JIT) staying warm.
    // Two independent recompute passes, per-query minimum: single-shot
    // warm times on this box swing ~2× from GC/scheduling jitter (the
    // cold pass leaves 35 queries of block churn behind); min-of-2
    // reports the achievable steady-state rather than the luck of one
    // draw. An erred query keeps its error (never masked by a clean
    // other pass).
    val warmPasses = (1 to 2).map { _ =>
      graft.tsdb.TsQueries.clearMemo(spark)
      pass()
    }
    val warm = all.map { n =>
      val runs = warmPasses.map(_(n))
      n -> runs.find(_._2.isDefined).getOrElse(runs.minBy(_._1))
    }.toMap
    println(render(tiers, cold, warm, sfDir))
    spark.stop()
  }
}
