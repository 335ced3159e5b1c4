package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tsdb.Climate

/** Scale canary for the pairwise trend/DTW family: the sf0.1 feed is
  * 30 days per station, which can never expose an O(n²)-in-history
  * term — so this harness builds a TALL synthetic daily frame (3
  * stations × 10 years ≈ 120× the per-station test length) and times
  * each operator in the shape round 6 shipped (pair enumeration on
  * the raw daily series) against the round-7 default (pre-aggregated
  * granularity, banded DP), writing the ratios to CANARY_r07.json.
  *
  * Also pins the guard rail: at the default cap, the DAILY shape must
  * refuse to run (loud assert_true) rather than detonate the shuffle.
  */
object ScaleCanary {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("CANARY_r08.json")
    val spark = graft.core.Session.adaptive()

    if (args.contains("--dedup-only")) { // dev loop for the dedup legs
      println(dedupCanary(spark)); spark.stop(); return
    }
    if (args.contains("--drift-only")) { // dev loop for the index-drift leg
      println(indexDriftCanary(spark)); spark.stop(); return
    }
    if (args.contains("--phash-only")) { // dev loop for the phash legs
      println(phashCanary(spark)); spark.stop(); return
    }
    if (args.contains("--pqdrift-only")) { // dev loop for the pq-drift leg
      println(pqDriftCanary(spark)); spark.stop(); return
    }

    val nDays = 3650 // 10 years daily, ~120x the 30-day test feed
    val tall = tallDaily(spark, nStations = 3, nDays = nDays)
    tall.persist().count()
    val seasonalTall = tallDaily(spark, nStations = 10, nDays = 7300)
    seasonalTall.persist().count()

    def timed(df: => DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def entryAt(op: String, scale: String, before: => DataFrame,
        after: => DataFrame): String = {
      val b = timed(before); val a = timed(after)
      val ratio = if (a > 0) b / a else Double.PositiveInfinity
      println(f"[canary] $op%-22s before=$b%8.2fs after=$a%8.2fs speedup=$ratio%8.1fx")
      f"""    "$op": {"scale": "$scale", "before_sec": $b%.3f, "after_sec": $a%.3f, "speedup": $ratio%.1f}"""
    }
    def entry(op: String, before: => DataFrame, after: => DataFrame): String =
      entryAt(op, s"$nDays days", before, after)

    // the r6 shape = pair enumeration on the raw daily series
    // (cap raised so the guard lets the "before" leg run at all);
    // the r7 shape = the operator's monthly default
    val rows = Seq(
      entry("trend_mk",
        Climate.mannKendall(tall, granularity = "day", cap = 100000),
        Climate.mannKendall(tall)),
      entry("theil_sen",
        Climate.theilSen(tall, granularity = "day", cap = 100000),
        Climate.theilSen(tall)),
      entry("sn_scale",
        Climate.snScale(tall, granularity = "day", cap = 100000),
        Climate.snScale(tall)),
      // dow seasons keep one week-period per WEEK of history (~1043
      // periods per cell on this frame -> ~544k pairs per cell); moy
      // keeps one period per YEAR (20) — measured on a wider frame
      // (10 stations x 20 years) where the per-cell quadratic is the
      // dominant term rather than fixed plan overhead
      entry("seasonal_mk",
        Climate.seasonalMannKendall(seasonalTall, season = "dow", cap = 100000),
        Climate.seasonalMannKendall(seasonalTall)),
      // DTW: the unbanded kernel (band >= n) is run on a 512-day
      // PREFIX only — at 3650 days its O(n·m²) fold-copy cost is the
      // very blowup the band exists to avoid; the banded kernel takes
      // the full 10-year series in stride
      entry("dtw",
        Climate.dtwNeighbors(tall.filter(col("day") < lit("2001-05-27").cast("date")),
          canaryKnn(spark), band = 512, cap = 100000),
        Climate.dtwNeighbors(tall, canaryKnn(spark), band = 7, cap = 100000)),
      // the global-cumsum PATTERN (concurrency / heaps_fit /
      // customer_deciles / abc_xyz): one running sum over CumsumRows rows as a
      // single-partition Window.orderBy (the r6 shape — every row
      // through ONE task) vs graft.core.Ordinals.running
      entryAt("global_cumsum", s"$CumsumRows rows",
        cumsumSingle(spark), cumsumPrefix(spark)),
    )

    // guard rail: the default cap must REFUSE the daily shape loudly
    val guardMsg =
      try { Climate.mannKendall(tall, granularity = "day").collect(); "NOT-FIRED" }
      catch { case e: Exception =>
        if (e.getMessage != null && e.getMessage.contains("graft trend family"))
          "fired" else s"wrong-error: ${e.getMessage.take(80)}" }
    println(s"[canary] default-cap guard on daily shape: $guardMsg")

    val dedupJson = dedupCanary(spark)
    val phashJson = phashCanary(spark)
    val driftJson = indexDriftCanary(spark)
    val pqJson = pqDriftCanary(spark)

    val json = rows.mkString(
      "{\n" + s"""  "n_stations": 3, "n_days": $nDays, "seasonal_frame": "10x7300", "guard_on_daily": "$guardMsg",\n  "ops": {\n""",
      ",\n", "\n  },\n" + dedupJson + ",\n" + phashJson + ",\n" + driftJson + ",\n" + pqJson + "\n}\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json)
    println(s"[canary] wrote $out")
    spark.stop()
  }

  /** Image-phash banding canary (round 9): the 4×16-bit band
    * pairing Multimodal.imagePhash runs
    * (Dedup.bandedHammingCandidates), over a DIVERSE 64-bit hash
    * corpus (xxhash64 of the id — the synthetic image closed form
    * repeats hashes exactly, which is planted-dup structure, not
    * collision noise). Candidate mass must grow ~4·n²/2¹⁷ —
    * effectively near-linear at these sizes — where the round-8 4-bit
    * bands (16 buckets per band) gave ~n²/8. */
  private def phashCanary(spark: SparkSession): String = {
    def hashes(n: Long) = spark.range(n).select(col("id").as("doc_id"),
      expr("xxhash64(id)").as("phash"))
    // candidate mass BEFORE the hamming filter — the verify cost
    def timedCount(cand: DataFrame): (Long, Double) = {
      val t0 = System.nanoTime()
      val c = cand.count()
      (c, (System.nanoTime() - t0) / 1e9)
    }
    def leg(n: Long): (Long, Double) = timedCount(graft.dedup.Dedup.bandedHammingCandidates(
      hashes(n).select(col("doc_id"), col("phash").as("sig")), 4, 16))
    // the MIH refinement's candidate plan (Multimodal.phashMihCandidates):
    // 2x32-bit bands, 1-bit probe fan-out — the floor drops to
    // 66*n^2/2^32, sub-birthday well past the 16-bit banding's
    // ~10^7-image wall
    def mihLeg(n: Long): (Long, Double) =
      timedCount(graft.multimodal.Multimodal.phashMihCandidates(hashes(n)))
    val (c25, t25) = leg(25000L)
    val (c50, t50) = leg(50000L)
    val growth = c50.toDouble / math.max(c25, 1L)
    println(f"[canary] phash 25k: cand=$c25 $t25%.1fs; 50k: cand=$c50 $t50%.1fs; growth=$growth%.2fx")
    val (m100, tm100) = mihLeg(100000L)
    val (m200, tm200) = mihLeg(200000L)
    val (c100, tc100) = leg(100000L)
    val (c200, tc200) = leg(200000L)
    println(f"[canary] phash MIH 100k: cand=$m100 $tm100%.1fs (16-bit bands: $c100, $tc100%.1fs); 200k: cand=$m200 $tm200%.1fs (16-bit: $c200, $tc200%.1fs)")
    f"""  "phash": {
       |    "corpus": "diverse 64-bit hashes (xxhash64 of id) through the exact 4x16-bit band self-join plan",
       |    "bands_25k": {"n_images": 25000, "cand_pairs": $c25, "sec": $t25%.2f},
       |    "bands_50k": {"n_images": 50000, "cand_pairs": $c50, "sec": $t50%.2f},
       |    "cand_growth_2x_images": $growth%.3f,
       |    "bands_100k": {"n_images": 100000, "cand_pairs": $c100, "sec": $tc100%.2f},
       |    "bands_200k": {"n_images": 200000, "cand_pairs": $c200, "sec": $tc200%.2f},
       |    "mih_100k": {"n_images": 100000, "cand_pairs": $m100, "sec": $tm100%.2f},
       |    "mih_200k": {"n_images": 200000, "cand_pairs": $m200, "sec": $tm200%.2f},
       |    "note": "16-bit banding floor 4*n^2/2^17 (~1.5n at 50k, quadratic past ~10^7 images); MIH floor 66*n^2/2^32 (~2^11x lower) - the q_image_phash_mih scale path"
       |  }""".stripMargin
  }

  /** Boilerplate-heavy synthetic corpus — the dedup chain's worst case:
    * every doc opens with the SAME `pWords`-word template prefix (so
    * every pair of docs shares pWords−2 shingles), followed by `uWords`
    * hash-derived unique words; every 100th doc pair (i, i+1) is a
    * planted near-dup differing in one trailing word (J ≈ 0.9).
    * Deterministic — no RNG, reruns are bit-identical. `tpl` names the
    * template vocabulary and `idOffset` shifts doc_ids + unique-word
    * seeds, so batches with different (tpl, idOffset) model crawl days
    * whose BOILERPLATE EMERGES LATER (the df-drift mechanism the index
    * canary measures). */
  def boilerplateCorpus(spark: SparkSession, nDocs: Long,
      pWords: Int = 12, uWords: Int = 48, tpl: String = "tpl",
      idOffset: Long = 0L): DataFrame = {
    val boiler = (0 until pWords).map(j => s"$tpl$j").mkString(" ")
    val oid = s"(id + ${idOffset}L)"
    spark.range(nDocs).select((col("id") + lit(idOffset)).as("doc_id"),
      concat(lit(boiler + " "), expr(
        s"""array_join(transform(sequence(0, ${uWords - 1}), j ->
              CASE WHEN $oid % 100 = 1 AND j = ${uWords - 1}
                   THEN concat('x', $oid)
                   ELSE concat('w', pmod(hash(
                     $oid - CASE WHEN $oid % 100 = 1 THEN 1 ELSE 0 END, j), 50000))
              END), ' ')""")).as("text"))
      .repartition(32, col("doc_id"))
  }

  /** Append-only text-index df-drift canary (round 10): measures WHEN
    * the frozen df order's pruning decays enough to warrant a rebuild.
    * Mechanism under test: boilerplate that only EMERGES in appended
    * batches carries frozen df 0 → ranked rarest → lands in both the
    * appended index rows' prefixes and (identically) the probe's, so a
    * probe sharing that boilerplate collides with ~every appended doc;
    * a fresh rebuild ranks the same shingles common and prunes them.
    * Procedure: day-0 index (template A), then 4 appended batches each
    * introducing its own NEW template; after each append, probe a
    * batch-sized increment that shares the LATEST template against the
    * appended snapshot vs a fresh rebuild of the same union and record
    * the candidate-pair counts (verification cost is proportional, so
    * the ratio IS the wasted-work factor). The resulting decay curve
    * backs the documented rebuild trigger on
    * Dedup.appendToTextIndexSnapshot. */
  private def indexDriftCanary(spark: SparkSession): String = {
    import graft.dedup.Dedup
    val n0 = 20000L; val nb = 5000L; val nProbe = 500L
    val day0 = boilerplateCorpus(spark, n0).persist()
    day0.count()
    val base = Dedup.buildTextIndexSnapshot(day0, 0.5)

    // a probe whose template mix MATCHES the union corpus after k
    // appends (day-0 share on template A, equal shares on each
    // emerged template) — the daily crawl the screen actually sees
    def mixedProbe(k: Int): DataFrame = {
      val total = n0 + nb * k
      val fromBase = nProbe * n0 / total
      val perBatch = if (k == 0) 0L else (nProbe - fromBase) / k
      val parts = boilerplateCorpus(spark, fromBase,
        idOffset = 900000000L + k * 10000000L) +:
        (1 to k).map(j => boilerplateCorpus(spark, perBatch, tpl = s"new${j}w",
          idOffset = 900000000L + k * 10000000L + j * 1000000L))
      parts.reduce(_ unionByName _)
    }
    def candPerDoc(probe: DataFrame, snap: Dedup.TextIndexSnapshot): (Double, Double) = {
      val hs = Dedup.withShingles(probe)
        .select(col("doc_id"), col("hashes")).persist()
      val n = hs.count()
      val t0 = System.nanoTime()
      val cand = Dedup.snapshotPrefixCandidates(hs, snap).count()
      val sec = (System.nanoTime() - t0) / 1e9
      hs.unpersist()
      (cand.toDouble / n, sec)
    }

    // day-0 baseline: the healthy post-(re)build candidates-per-probe-doc
    val (base0, secBase) = candPerDoc(mixedProbe(0), base)
    println(f"[canary] index-drift baseline (no appends): cand/doc=$base0%.2f ($secBase%.1fs)")

    var appended = base
    var union = day0
    val legs = (1 to 4).map { k =>
      val batch = boilerplateCorpus(spark, nb, tpl = s"new${k}w",
        idOffset = k * 10000000L).persist()
      batch.count()
      appended = Dedup.appendToTextIndexSnapshot(appended, batch)
      appended = appended.copy(index = appended.index.persist())
      appended.index.count()
      union = union.unionByName(batch).persist()
      union.count()
      val fresh = Dedup.buildTextIndexSnapshot(union, 0.5)
      val probe = mixedProbe(k)
      val (cApp, tApp) = candPerDoc(probe, appended)
      val (cFresh, tFresh) = candPerDoc(probe, fresh)
      fresh.index.unpersist(); fresh.dfreq.unpersist()
      val inflation = cApp / math.max(cFresh, base0 max 1.0)
      val share = nb * k * 100 / (n0 + nb * k)
      println(f"[canary] index-drift after $k appends ($share%d%% appended): cand/doc app=$cApp%.1f ($tApp%.1fs) fresh=$cFresh%.1f ($tFresh%.1fs) inflation=$inflation%.0fx")
      f"""      "appends_$k": {"appended_share_pct": $share, "cand_per_doc_appended": $cApp%.2f, "cand_per_doc_fresh": $cFresh%.2f, "inflation_vs_fresh": $inflation%.1f, "sec_appended": $tApp%.2f, "sec_fresh": $tFresh%.2f}"""
    }
    day0.unpersist()
    legs.mkString(
      s"""  "index_drift": {
         |    "corpus": "day-0 ${n0} docs (template A) + 4 x ${nb}-doc appends each with NEW boilerplate; probe = ${nProbe} docs mixed to match the union's template shares",
         |    "metric": "prefix-candidate pairs per probe doc, appended snapshot vs fresh rebuild on the identical union + probe",
         |    "baseline_cand_per_doc": ${f"$base0%.2f"},
         |""".stripMargin, ",\n", "\n  }")
  }

  /** Frozen-codebook drift canary (round 10) — the PQ artifact's
    * analogue of [[indexDriftCanary]]: appendToIvfPqIndex encodes new
    * vectors against the day-0 codebook, so as the appended
    * distribution drifts from the training sample, quantization error
    * (and with it ADC ranking quality) degrades. Day-0 vectors are
    * hash-uniform in [0,1)^64; batch k is the same generator shifted
    * +k/2 per dimension. Per batch: avg quantization error under the
    * FROZEN day-0 codebook vs under a codebook retrained on that
    * batch's own distribution — the attainable floor. The ratio curve
    * backs the documented retrain trigger (~2× the day-0 baseline) on
    * Ann.appendToIvfPqIndex. */
  private def pqDriftCanary(spark: SparkSession): String = {
    import graft.similarity.Ann
    def vecs(n: Long, shift: Double): DataFrame =
      spark.range(n).select(col("id").as("vec_id"),
        expr(s"transform(sequence(0, 63), j -> " +
          s"cast(pmod(hash(id, j), 1000) / 1000.0 + $shift AS float))").as("embedding"))
        .repartition(32, col("vec_id"))
    def qerr(df: DataFrame, idx: Ann.PqIndex): Double =
      Ann.pqQuantizationError(df, idx).head().getDouble(1)
    val day0 = vecs(4096, 0.0).persist()
    day0.count()
    val idx0 = Ann.buildIvfPqIndex(day0)
    idx0.codebook.persist().count()
    val base = qerr(day0, idx0)
    println(f"[canary] pq-drift baseline qerr (day-0 under own codebook): $base%.4f")
    val legs = (1 to 3).map { k =>
      val batch = vecs(1000, k * 0.5).persist()
      batch.count()
      val frozen = qerr(batch, idx0)
      val fresh = qerr(batch, Ann.buildIvfPqIndex(batch))
      batch.unpersist()
      val ratio = frozen / math.max(fresh, 1e-12)
      println(f"[canary] pq-drift batch $k (shift ${k * 0.5}%.1f): qerr frozen=$frozen%.4f fresh=$fresh%.4f ratio=$ratio%.1fx")
      f"""      "batch_$k": {"shift": ${k * 0.5}%.1f, "qerr_frozen": $frozen%.4f, "qerr_fresh": $fresh%.4f, "ratio": $ratio%.2f}"""
    }
    idx0.codebook.unpersist(); day0.unpersist()
    legs.mkString(
      s"""  "pq_drift": {
         |    "corpus": "day-0 4096 hash-uniform vectors in [0,1)^64; batch k = same generator shifted +k/2 per dim",
         |    "metric": "avg ADC quantization error under the frozen day-0 codebook vs retrained-on-batch (attainable floor)",
         |    "baseline_qerr": ${f"$base%.4f"},
         |""".stripMargin, ",\n", "\n  }")
  }

  /** Dedup-chain canary: the trend family got its canary in round 7;
    * this is the 100 TB centerpiece's. On the shared-template corpus:
    *  - jaccardPairs at 50k AND 100k docs — candidate-pair count,
    *    verify-broadcast payload estimate, wall time; the growth ratio
    *    cand(100k)/cand(50k) ≈ 2 PROVES the rare-first prefix filter
    *    keeps candidates near-linear even when every doc pair shares
    *    the template shingles (a value-ordered prefix would be O(n²)).
    *  - minhashBands on a 10k slice — banded MinHash is structurally
    *    quadratic at the template corpus's moderate background J
    *    (per-band collision J², OR over 32 bands): the recorded
    *    candidate mass documents the contrast, and why jaccardPairs'
    *    prefix route, not the sketch, is the template-corpus path.
    *  - simhashPairs at 50k — 15-bit band buckets ignore the shared
    *    prefix (it shifts all signatures equally), candidates stay
    *    near the planted-dup count. */
  private def dedupCanary(spark: SparkSession): String = {
    import graft.dedup.Dedup
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    def jaccardLeg(n: Long): (Long, Long, Long, Double) = {
      val corpus = boilerplateCorpus(spark, n).persist()
      corpus.count()
      try {
        val hs = Dedup.withShingles(corpus)
          .select(col("doc_id"), col("hashes")).persist()
        hs.count()
        val cand = Dedup.prefixCandidates(hs, 0.5).persist()
        val nCand = cand.count()
        val candIds = cand.select(col("id_a").as("doc_id"))
          .unionByName(cand.select(col("id_b").as("doc_id"))).distinct()
        val st = hs.join(candIds, Seq("doc_id"), "left_semi")
          .agg(count(lit(1)).as("n"),
            coalesce(sum(size(col("hashes"))), lit(0L)).as("nh")).head()
        val bcBytes = st.getAs[Long]("nh") * 8L + st.getAs[Long]("n") * 32L
        cand.unpersist(); hs.unpersist()
        val (pairs, sec) = timed {
          val p = Dedup.jaccardPairs(corpus, 0.5)
          val c = p.count(); p.unpersist(); c
        }
        (nCand, pairs, bcBytes, sec)
      } finally corpus.unpersist()
    }
    val (c50, p50, bc50, t50) = jaccardLeg(50000L)
    println(f"[canary] dedup jaccard 50k: cand=$c50 pairs=$p50 bcast=${bc50}B $t50%.1fs")
    val (c100, p100, bc100, t100) = jaccardLeg(100000L)
    println(f"[canary] dedup jaccard 100k: cand=$c100 pairs=$p100 bcast=${bc100}B $t100%.1fs")
    val growth = c100.toDouble / math.max(c50, 1L)
    println(f"[canary] prefix-candidate growth at 2x docs: $growth%.2fx (near-linear = ~2)")

    val mini = boilerplateCorpus(spark, 10000L).persist()
    mini.count()
    val (mh, tMh) = timed(Dedup.minhashBands(mini).count())
    println(f"[canary] dedup minhash 10k: cand=$mh $tMh%.1fs")
    mini.unpersist()

    val big = boilerplateCorpus(spark, 50000L).persist()
    big.count()
    val (sh, tSh) = timed(Dedup.simhashPairs(big).count())
    println(f"[canary] dedup simhash 50k: cand=$sh $tSh%.1fs")
    big.unpersist()

    f"""  "dedup": {
       |    "corpus": "12-word shared template prefix + 48 hash-unique words; planted near-dup each 100 docs",
       |    "jaccard_50k": {"n_docs": 50000, "cand_pairs": $c50, "dup_pairs": $p50, "verify_broadcast_bytes": $bc50, "sec": $t50%.2f},
       |    "jaccard_100k": {"n_docs": 100000, "cand_pairs": $c100, "dup_pairs": $p100, "verify_broadcast_bytes": $bc100, "sec": $t100%.2f},
       |    "prefix_cand_growth_2x_docs": $growth%.3f,
       |    "minhash_10k": {"n_docs": 10000, "cand_pairs": $mh, "sec": $tMh%.2f, "note": "banded sketch is structurally quadratic at template-corpus background J - the contrast the rare-first prefix filter avoids"},
       |    "simhash_50k": {"n_docs": 50000, "cand_pairs": $sh, "sec": $tSh%.2f}
       |  }""".stripMargin
  }

  /** Deterministic tall daily frame: hash-derived pseudo-random 3-dp
    * values, no Date.now / RNG — reruns are bit-identical. */
  def tallDaily(spark: SparkSession, nStations: Int, nDays: Int): DataFrame =
    spark.range(nStations).selectExpr("id AS station_id")
      .crossJoin(spark.range(nDays).selectExpr(
        "date_add(DATE '2000-01-01', CAST(id AS INT)) AS day"))
      .repartition(32, col("station_id"), col("day"))
      .withColumn("raw",
        round(pmod(hash(col("station_id"), col("day")), lit(10000)) / 100.0, 3))
      .withColumn("n_obs", lit(1L))

  private val CumsumRows = 100000000L

  private def cumsumBase(spark: SparkSession): DataFrame =
    spark.range(CumsumRows).select(col("id"),
      pmod(hash(col("id")), lit(1000)).cast("long").as("v"))

  def cumsumSingle(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    cumsumBase(spark).withColumn("c",
      sum(col("v")).over(Window.orderBy(col("id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  def cumsumPrefix(spark: SparkSession): DataFrame =
    graft.core.Ordinals.running(cumsumBase(spark), Seq(col("id")), "v")
      .select(col("id"), col("v"), col("cum_v").as("c"))

  def canaryKnn(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((0L, 1L, 1), (0L, 2L, 2), (1L, 0L, 1), (1L, 2L, 2),
      (2L, 0L, 1), (2L, 1L, 2)).toDF("station_id", "nb_id", "rank")
  }
}
