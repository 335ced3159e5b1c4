package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Ordinals
import graft.dedup.Dedup
import graft.text.TextAnalysis
import graft.text.TextFns._

/** End-to-end corpus cleaning — the composition a training-data
  * pipeline actually runs over the operator library: language ID +
  * quality scoring + near-dup canonicalization, folded into per-doc
  * keep/drop decisions with provenance.
  *
  * Every stage is one of the library's oracle-verified operators; the
  * composition adds only column logic, so the plan inherits their
  * scale shapes (scans + keyed shuffles, no all-pairs work). The
  * output keeps EVERY input doc with a `keep` flag and a `drop_reason`
  * (lang / quality / duplicate) — filtering is the caller's one-line
  * decision, and rejected docs stay auditable, which is how production
  * corpus pipelines are debugged.
  */
object Corpus {

  /** Per-doc keep/drop frame.
    *
    * Canonicalization runs AFTER the lang/quality gates, over the
    * gate-passing docs only: the canonical representative of each
    * near-dup cluster is chosen among docs that survive the other
    * gates, so a cluster whose min-id member fails langid or quality
    * still keeps exactly one representative (a min-id-first precedence
    * could silently delete an entire cluster). Gate-failed docs carry
    * NULL canonical_id/comp_size — they never reached dedup.
    *
    * @param langs      accepted predicted languages (empty = accept all)
    * @param minQuality minimum quality_score (0..1)
    * @param threshold  Jaccard near-dup threshold for canonicalization
    */
  def clean(documents: DataFrame, langs: Seq[String] = Seq("en"),
      minQuality: Double = 0.2, threshold: Double = 0.5): DataFrame = {
    val langOk = if (langs.isEmpty) lit(true) else col("predicted").isin(langs: _*)
    // the gate frame (narrow per-doc metadata — the "decide with small
    // rows" proxy) feeds three consumers: the passing-side shingle
    // frame, the dedup singleton anti-join, and the final output join.
    // Unpersisted, each consumer re-runs the langid + quality text
    // scans (5 stopword filters + the quality features per doc, ×3);
    // persist it once, release after the result is materialized.
    // langQualityGate computes both gate columns in ONE stateless
    // projection (the previous shape joined the standalone langId and
    // quality outputs back on doc_id: two more corpus scans + joins).
    val gated = TextAnalysis.langQualityGate(documents)
      .withColumn("gate_reason",
        when(!langOk, lit("lang"))
          .when(col("quality_score") < minQuality, lit("quality"))
          .otherwise(lit(null).cast("string")))
      .persist()
    try {
      val passing = documents.join(
        gated.filter(col("gate_reason").isNull).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      val comp = Dedup.components(passing, threshold)
        .select(col("doc_id"), col("comp").as("canonical_id"), col("comp_size"))
      // materialize the result eagerly (the jaccardPairs convention) so
      // the gate cache can be released before returning; callers
      // holding a long-lived session should unpersist() once consumed
      val out = gated.join(comp, Seq("doc_id"), "left")
        .withColumn("is_canonical", col("doc_id") === col("canonical_id"))
        .withColumn("drop_reason",
          coalesce(col("gate_reason"),
            when(!col("is_canonical"), lit("duplicate"))))
        .withColumn("keep", col("drop_reason").isNull)
        .select(col("doc_id"), col("predicted").as("lang"), col("quality_score"),
          col("canonical_id"), col("comp_size"), col("keep"), col("drop_reason"))
        .persist()
      out.count()
      out
    } finally gated.unpersist()
  }

  /** Benchmark-contamination scan — flags training docs sharing any
    * word-shingle with the held-out evaluation set (the n-gram-overlap
    * decontamination step every serious training pipeline runs before
    * a model sees the data). The eval set here is the deterministic
    * `doc_id % evalMod == 0` slice standing in for an external
    * benchmark suite.
    *
    * Scale shape: the eval side is a benchmark suite — thousands of
    * docs against a 100 TB corpus — so its exploded shingle frame is
    * broadcast and the scan over training shingles never shuffles; the
    * per-doc aggregation is one keyed shuffle of the (rare) matches. */
  def contamination(documents: DataFrame, evalMod: Int = 20): DataFrame = {
    graft.functions.GraftFunctions.register(documents.sparkSession)
    val hashed = documents.select(col("doc_id"),
      expr(shingleHashes("text")).as("hashes"))
    val train = hashed.filter(col("doc_id") % evalMod =!= 0)
      .select(col("doc_id"), explode(col("hashes")).as("h"))
    val eval = hashed.filter(col("doc_id") % evalMod === 0)
      .select(col("doc_id").as("eval_id"), explode(col("hashes")).as("h"))
    train.join(broadcast(eval), Seq("h"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("h")).as("n_shared"),
        countDistinct(col("eval_id")).as("n_eval_docs"))
  }

  /** Deterministic per-language downsampling — mixture rebalancing by
    * stable content-free hash: each doc keeps iff its hash bucket (of
    * 1000) falls under its language's rate. Reproducible across runs
    * and engines (no RNG), embarrassingly parallel (pure filter on a
    * scan — the predicate pushes into the reader), and a grown corpus
    * never flips an existing doc's decision.
    *
    * @param rates per-mill keep rate per language; absent → keep all */
  def sample(documents: DataFrame, rates: Map[String, Int] = Map("en" -> 500)): DataFrame = {
    graft.functions.GraftFunctions.register(documents.sparkSession)
    val rate = rates.foldLeft(lit(1000)) { case (acc, (l, r)) =>
      when(col("lang") === l, lit(r)).otherwise(acc)
    }
    documents
      .withColumn("bucket",
        expr(s"${polyHash("concat('sample:', cast(doc_id AS string))")} % 1000"))
      .filter(col("bucket") < rate)
      .select(col("doc_id"), col("lang"))
  }

  /** Quality-stratified downsampling: keep the top `frac` share of
    * each language's documents by quality score (tie → lower doc_id) —
    * the "train on the best half" selection step, complementary to the
    * uniform hash sampling above. One shuffle on lang serves both the
    * rank and the per-language count (shared window partition key). At
    * corpus scale a single giant language makes the per-language sort
    * the bottleneck; the swap-in is an approx_percentile score cutoff
    * per language (tiny broadcast frame) + a stateless filter, which
    * keeps the same selection up to quantile error. */
  def sampleByQuality(documents: DataFrame, frac: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = graft.text.TextAnalysis.quality(documents)
      .select(col("doc_id"), col("quality_score"))
    val wR = Window.partitionBy(col("lang"))
      .orderBy(col("quality_score").desc, col("doc_id"))
    val wN = Window.partitionBy(col("lang"))
    documents.select(col("doc_id"), col("lang")).join(q, Seq("doc_id"))
      .withColumn("rank", row_number().over(wR))
      .withColumn("n_lang", count(lit(1)).over(wN))
      .filter(col("rank") <= ceil(col("n_lang") * frac))
      .select(col("doc_id"), col("lang"), col("quality_score"), col("rank"))
  }

  /** Deterministic train/val/test assignment by stable content-free
    * hash of the doc id (8/1/1 buckets), reported as per-language split
    * counts and shares — the reproducible corpus-split bookkeeping of a
    * training run. A pure scan + one tiny aggregation; re-running on a
    * grown corpus never reassigns an existing doc. */
  def splitCounts(documents: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(documents.sparkSession)
    documents
      .withColumn("bucket",
        expr(s"${polyHash("concat('split:', cast(doc_id AS string))")} % 10"))
      .withColumn("split",
        when(col("bucket") < 8, lit("train"))
          .when(col("bucket") === 8, lit("val"))
          .otherwise(lit("test")))
      .groupBy(col("lang"), col("split")).agg(count(lit(1)).as("n"))
      .withColumn("share", expr(
        "round(n / cast(sum(n) OVER (PARTITION BY lang) AS double) + 1e-9, 6)"))
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every document
    * by how much more likely its hashed n-gram features are under a
    * target domain than under the raw corpus —
    * `mean_f c_d(f) · ln(p_target(f) / p_raw(f))` over hashed
    * unigram+bigram features with add-1 smoothing. The target slice
    * here is the corpus' `targetLang` documents (the "domain sample"
    * a practitioner would plug in).
    *
    * Scale shape: feature hashing folds the unbounded n-gram space
    * into `buckets` cells, so both feature distributions are ONE
    * map-combinable aggregate over the per-doc bucket counts and
    * broadcast back as a `buckets`-row table; per-doc scoring is a
    * keyed aggregation — no vocabulary-sized join, no all-pairs
    * work, and the network carries bucket partials, not tokens. */
  def dsirWeights(documents: DataFrame, targetLang: String = "en",
      buckets: Int = 256): DataFrame = {
    graft.functions.GraftFunctions.register(documents.sparkSession)
    val w = tokens("text")
    val bigrams = s"CASE WHEN size($w) >= 2 THEN transform(sequence(0, size($w) - 2), " +
      s"i -> concat(element_at($w, i + 1), ' ', element_at($w, i + 2))) " +
      "ELSE array() END"
    val feats = documents.select(col("doc_id"), col("lang"),
        explode(concat(expr(w), expr(bigrams))).as("f"))
      .select(col("doc_id"), col("lang"),
        pmod(expr(polyHash("f")), lit(buckets)).as("bucket"))
    val dc = feats.groupBy(col("doc_id"), col("lang"), col("bucket"))
      .agg(count(lit(1)).as("c"))
    val bstats = dc.groupBy(col("bucket")).agg(
      sum(col("c")).as("cr"),
      sum(when(col("lang") === targetLang, col("c")).otherwise(lit(0L))).as("ct"))
    val tot = bstats.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"))
    val logRatio =
      log((col("ct") + lit(1L)).cast("double") / (col("nt") + lit(buckets.toLong)).cast("double")) -
      log((col("cr") + lit(1L)).cast("double") / (col("nr") + lit(buckets.toLong)).cast("double"))
    dc.join(broadcast(bstats), Seq("bucket"))
      .crossJoin(broadcast(tot))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_feats"),
        round(sum(col("c") * logRatio) / sum(col("c")) + lit(1e-9), 6)
          .as("dsir_logweight"))
  }

  /** Deterministic corpus shuffle — the "shuffle once before
    * training" step: a stable content-free pseudo-random key per doc,
    * a GLOBAL contiguous ordinal under (key, doc_id) order, and a
    * round-robin shard assignment from the ordinal.
    *
    * The global ordinal is [[Ordinals.running]]'s — NOT a
    * single-partition `row_number() OVER (ORDER BY …)`. (key, doc_id)
    * is a total order, so it is the global rank the oracle's global
    * window produces. */
  def shuffle(documents: DataFrame, shards: Int = 8): DataFrame = {
    val skey = pmod(pmod(col("doc_id"), lit(P)) * lit(2654435761L), lit(P))
    Ordinals.running(documents.select(col("doc_id"), skey.as("skey")),
        Seq(col("skey"), col("doc_id")))
      .withColumn("shard", pmod(col("ord") - 1, lit(shards.toLong)))
      .select(col("doc_id"), col("skey"), col("ord"), col("shard"))
  }

  /** Source-mixture rebalancing table — the domain-weighting step of a
    * pre-training pipeline (Pile/Dolma-style mixtures): per source its
    * doc count, token mass, share of the corpus, and the up/down-
    * sampling weight that would equalize token mass across sources
    * (`weight = target_share / token_share`, target = uniform), plus
    * the capped one-pass sampling rate `min(1, weight)`.
    *
    * weight is computed as the integer rational
    * `tot_tokens / (n_sources · n_tokens)` — never as a quotient of
    * two already-rounded doubles — so both engines round the same
    * exact value.
    *
    * Scale shape: one keyed aggregation with map-side combine down to
    * #sources rows, then a broadcast of the single-row total; nothing
    * after the first shuffle is larger than the source list. */
  def sourceMix(documents: DataFrame): DataFrame = {
    val perSrc = documents
      .select(col("source"), expr(s"size(${graft.text.TextFns.tokens("text")})").as("n_toks"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
    val tot = perSrc.agg(sum(col("n_tokens")).as("tot_tokens"),
      count(lit(1)).as("n_sources"))
    perSrc.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("tot_tokens") + lit(1e-9), 6)
          .as("token_share"),
        round(col("tot_tokens").cast("double") / (col("n_sources") * col("n_tokens"))
          + lit(1e-9), 6).as("weight"))
      .withColumn("sample_rate", least(lit(1.0), col("weight")))
  }

  /** Cross-source contamination matrix — the train/test-leakage audit
    * of a corpus assembled from many crawls/dumps: every verified
    * near-dup pair ([[graft.dedup.Dedup.jaccardPairs]], exact Jaccard ≥
    * threshold) is attributed to the unordered pair of its documents'
    * sources; per source pair, the number of duplicate links and their
    * mean Jaccard. The diagonal (source_a == source_b) is
    * within-source redundancy; off-diagonal cells are the leakage
    * signal.
    *
    * Scale shape: the pair frame is O(actual near-dups); two broadcast
    * joins attach the (doc_id → source) dimension (O(corpus) rows but
    * only two SMALL columns — at 100 TB this side switches to a shuffle
    * join on doc_id, same semantics), then one keyed aggregation down
    * to at most #sources² rows. The mean averages already-quantized
    * 6-dp jaccards, so the partial-sum order cannot move the rounded
    * result. */
  def crossSourceDup(documents: DataFrame, threshold: Double = 0.5): DataFrame = {
    val pairs = graft.dedup.Dedup.jaccardPairs(documents, threshold)
    val src = documents.select(col("doc_id"), col("source"))
    try {
      val attributed = pairs
        .join(src.select(col("doc_id").as("id_a"), col("source").as("src_a")), Seq("id_a"))
        .join(src.select(col("doc_id").as("id_b"), col("source").as("src_b")), Seq("id_b"))
        .select(least(col("src_a"), col("src_b")).as("source_a"),
          greatest(col("src_a"), col("src_b")).as("source_b"),
          col("jaccard"))
      val out = attributed.groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_pairs"),
          round(avg(col("jaccard")) + lit(1e-9), 6).as("mean_jaccard"))
      out.localCheckpoint(true)
    } finally pairs.unpersist()
  }

  /** Temperature-smoothed language mixing weights (the multilingual
    * batch-composition step, Lample & Conneau 2019 XLM §3.1 /
    * mBERT-style exponentiated smoothing): sampling share
    * `q_l = p_l^α / Σ p^α` over the token-mass shares `p_l`, α < 1
    * upweighting low-resource languages; `boost = q/p` is the
    * up/down-sampling factor a loader applies.
    *
    * Determinism across engines: p is an exact integer ratio, pow runs
    * on the 6-dp-quantized p with its result re-quantized, and the Σ
    * denominator is an index-order fold over the lang-sorted quantized
    * values (the Pca normalization trick) — never a float sum whose
    * partial order the engine picks.
    *
    * Plan: ONE map-combinable groupBy(lang) to ≤ #langs rows, a 1-row
    * broadcast total, and the fold over a collect_list bounded by
    * #langs — nothing row-count-sized past the first aggregate. */
  def langTemperature(documents: DataFrame, alpha: Double = 0.3): DataFrame = {
    val perLang = documents
      .select(col("lang"), expr(s"size(${graft.text.TextFns.tokens("text")})").as("n_toks"))
      .groupBy(col("lang")).agg(sum(col("n_toks")).as("n_tokens"))
    val tot = perLang.agg(sum(col("n_tokens")).as("tot_tokens"))
    val shared = perLang.crossJoin(broadcast(tot))
      .withColumn("p", round(col("n_tokens") / col("tot_tokens").cast("double")
        + lit(1e-9), 6))
      .withColumn("q_raw", expr(s"round(pow(p, ${alpha}D) + 1e-9, 6)"))
    val denom = shared.agg(
      expr("aggregate(transform(array_sort(collect_list(struct(lang, q_raw))), " +
        "s -> s.q_raw), 0D, (a, x) -> a + x)").as("denom"))
    shared.crossJoin(broadcast(denom))
      .withColumn("q", round(col("q_raw") / col("denom") + lit(1e-9), 6))
      .withColumn("boost", round(col("q") / col("p") + lit(1e-9), 6))
      .select(col("lang"), col("n_tokens"), col("p"), col("q"), col("boost"))
  }

  /** Stratified fixed-size sample: exactly `n` documents per source
    * (fewer if the stratum is smaller), picked by a deterministic
    * content-free hash order — equal representation per stratum where
    * [[sample]] keeps proportional rates. A grown stratum never drops
    * a previously sampled doc from the top-n unless new docs hash
    * ahead of it (standard bounded-sample semantics).
    *
    * Plan: ONE shuffle on source for the per-stratum rank; the
    * `rn <= n` filter is recognized by InferWindowGroupLimit and runs
    * as Partial+Final WindowGroupLimit — at most n rows per stratum
    * leave each map partition, so a giant stratum never sorts
    * globally. */
  def stratifiedSample(documents: DataFrame, n: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(documents.sparkSession)
    val w = Window.partitionBy(col("source")).orderBy(col("skey"), col("doc_id"))
    documents
      .withColumn("skey",
        expr(polyHash("concat('strat:', cast(doc_id AS string))")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= n)
      .select(col("source"), col("rn"), col("doc_id"), col("skey"))
  }

  /** Weighted sample of `n` documents WITHOUT replacement by priority
    * sampling (Duffield–Lund–Thorup 2007 / sequential Poisson
    * sampling): each doc draws a deterministic content-free uniform
    * u ∈ (0,1) from its id hash and gets priority w/u (weight = char
    * count here: longer docs proportionally likelier); the n highest
    * priorities are the sample. Deterministic reruns never flip an
    * existing doc's draw (same property as [[sample]]'s hash buckets).
    * Every arithmetic step is a single IEEE operation on exact inputs
    * (u is rational, no transcendental), so both engines compute
    * bit-identical priorities.
    *
    * Plan: a stateless scan computes priorities; the global top-n is
    * TakeOrderedAndProject — each partition forwards at most n rows,
    * no global sort — and the rank window runs over the n-row result
    * only. */
  def sampleWeighted(documents: DataFrame, n: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(documents.sparkSession)
    val u = s"((${polyHash("concat('wsample:', cast(doc_id AS string))")} % 1000000) " +
      "+ 0.5D) / 1000000.0D"
    documents
      .withColumn("priority",
        expr(s"round(cast(n_chars AS double) / ($u) + 1e-9, 6)"))
      .orderBy(col("priority").desc, col("doc_id")).limit(n)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("priority").desc, col("doc_id"))))
      .select(col("rank"), col("doc_id"), col("n_chars").as("weight"), col("priority"))
  }

  /** Canonical URL (anchored rewrites, at most one match each, so
    * Spark's replace-all and DuckDB's replace-first agree): lowercase,
    * scheme and leading www. stripped, tracking query dropped, one
    * trailing slash removed — the variants crawls actually collide on. */
  private[graft] def canonicalUrl(urlCol: String): String =
    s"""regexp_replace(regexp_replace(regexp_replace(regexp_replace(
       |  lower($urlCol), '^https?://', ''), '^www\\\\.', ''),
       |  '\\\\?.*$$', ''), '/$$', '')""".stripMargin

  /** URL-level exact dedup — the FIRST dedup of the classic web
    * corpora (C4 and CCNet both dedup by URL before any content
    * hashing, because a crawl re-fetches the same page under scheme /
    * www. / tracking-query / trailing-slash / case variants):
    * normalize to the canonical URL and keep the minimum doc_id per
    * group. One row per DISTINCT canonical URL with its survivor and
    * group size — `group_size > 1` rows are the crawl's re-fetches.
    *
    * Plan: stateless normalize scan + one hash groupBy keyed on the
    * canonical URL (map-side partial) — the exact-dedup shape, no
    * all-pairs work at any corpus size. */
  def urlDedup(documents: DataFrame, urlCol: String = "url"): DataFrame =
    documents
      .withColumn("curl", expr(canonicalUrl(urlCol)))
      .groupBy(col("curl"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("group_size"))
      .select(col("canonical_id"), col("curl").as("url"), col("group_size"))

  /** Per-domain crawl mix — the curation report run before sampling a
    * web corpus (domain concentration is a top training-data signal:
    * one boilerplate-heavy host can dominate a naive sample): per
    * normalized host the doc count, distinct canonical URLs, the
    * within-domain duplicate share and the corpus share.
    *
    * Plan: normalize scan → one (host, curl) distinct-aggregate →
    * host rollup; the corpus total joins in as a broadcast 1-row
    * frame. */
  def domainStats(documents: DataFrame, urlCol: String = "url"): DataFrame = {
    val hosted = documents
      .withColumn("curl", expr(canonicalUrl(urlCol)))
      .withColumn("host", expr("regexp_extract(curl, '^([^/]+)', 1)"))
    val total = hosted.agg(count(lit(1)).as("n_total"))
    hosted.groupBy(col("host"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("curl")).as("n_urls"))
      .crossJoin(broadcast(total))
      .withColumn("dup_share",
        round(lit(1.0) - col("n_urls") / col("n_docs").cast("double") + lit(1e-9), 6))
      .withColumn("doc_share",
        round(col("n_docs") / col("n_total").cast("double") + lit(1e-9), 6))
      .select(col("host"), col("n_docs"), col("n_urls"),
        col("dup_share"), col("doc_share"))
  }
}
