package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Embedding-space clustering for corpus curation (the SemDeDup /
  * semantic-mixture-balancing step of a training-data pipeline):
  * k-means over the embedding column, made fully deterministic so the
  * DuckDB oracle can iterate to bit-identical centroids:
  *
  *  - centroids seeded from the k lowest vec_ids (content-free,
  *    reproducible — no RNG);
  *  - a FIXED number of Lloyd rounds (no convergence test whose float
  *    comparison could diverge between engines);
  *  - assignment by maximum cosine, ties broken toward the lowest
  *    centroid id;
  *  - re-estimated centroids quantized per dimension to 6 decimals
  *    (`round(avg + 1e-9, 6)`) so the order-dependent partial-sum tail
  *    of the mean never reaches the next round's comparisons — both
  *    engines iterate on identical numbers (the repo-wide determinism
  *    strategy, SURVEY §6).
  *
  * Scale shape: the centroid frame is k rows → broadcast; assignment
  * is a map-side argmax over the scan (no shuffle of the vectors);
  * re-estimation shuffles (cluster, dim, partial-sum) pairs with
  * map-side combine — k·d cells regardless of corpus size. This is the
  * textbook distributed k-means; iterations multiply the constant, not
  * the shape. Dot products run through the native codegen'd
  * `graft_dot` (index-order fold, mirrored by the oracle).
  */
object Cluster {

  private def vecsOf(embeddings: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    embeddings.select(col("vec_id").cast("long").as("vec_id"),
      expr("transform(embedding, x -> cast(x AS double))").as("emb"))
  }

  private val cosExpr =
    "graft_dot(emb, cvec) / (sqrt(graft_dot(emb, emb)) * sqrt(graft_dot(cvec, cvec)))"

  // argmax cosine, ties -> lowest centroid id: max over (cos, -cid).
  // The centroid side carries an explicit limit(k): semantically a
  // no-op (the frame is ≤ k rows by construction), but it makes the
  // broadcast side's bound STRUCTURAL, so the plan guard can prove
  // this nested-loop join is k-bounded, not an O(n²) scale-killer.
  private def assign(vecs: DataFrame, cents: DataFrame, k: Int): DataFrame =
    vecs.crossJoin(broadcast(cents.limit(k)))
      .withColumn("cos", expr(cosExpr))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cos"), (-col("cid")).as("negcid"))).as("best"))
      .select(col("vec_id"), (-col("best.negcid")).as("cluster"),
        col("best.cos").as("cos"))

  // per-dimension means, quantized; a cluster that lost every member
  // drops out (identically on both engines)
  private def reestimate(vecs: DataFrame, assigned: DataFrame): DataFrame =
    assigned.join(vecs, Seq("vec_id"))
      .select(col("cluster").as("cid"), posexplode(col("emb")))
      .groupBy(col("cid"), col("pos"))
      .agg(round(avg(col("col")) + lit(1e-9), 6).as("v"))
      .groupBy(col("cid"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, v))), s -> s.v)")
        .as("cvec"))

  /** Final centroid frame after `iters` deterministic Lloyd rounds. */
  private def fitCentroids(vecs: DataFrame, k: Int, iters: Int): DataFrame = {
    var cents = vecs.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("cid"), col("emb").as("cvec"))
    for (_ <- 1 to iters) cents = reestimate(vecs, assign(vecs, cents, k))
    cents
  }

  /** Per-vector cluster assignment after `iters` deterministic Lloyd
    * rounds: (vec_id, cluster, cosine to its centroid). */
  def kmeans(embeddings: DataFrame, k: Int = 8, iters: Int = 2): DataFrame = {
    val vecs = vecsOf(embeddings)
    assign(vecs, fitCentroids(vecs, k, iters), k)
      .select(col("vec_id"), col("cluster"),
        round(col("cos") + lit(1e-9), 6).as("cosine"))
  }

  /** Simplified silhouette per cluster (the clustering-quality gauge:
    * is each vector closer to its own centroid than to any other?):
    * sil = cos(own centroid) − max cos(other centroid), summarized as
    * per-cluster mean/min with the member count. Centroid-based
    * silhouette is the scale-correct form — the classical all-pairs
    * silhouette is O(n²), this is one k-bounded scoring pass.
    *
    * Plan: ONE crossJoin against the limit(k)-bounded broadcast
    * centroid frame scores all k cosines, the own/other split is two
    * keyed aggregates on vec_id, the rollup is O(k) rows. */
  def silhouette(embeddings: DataFrame, k: Int = 8, iters: Int = 2): DataFrame = {
    val vecs = vecsOf(embeddings)
    val cents = fitCentroids(vecs, k, iters)
    val scored = vecs.crossJoin(broadcast(cents.limit(k)))
      .withColumn("cos", expr(cosExpr))
      .select(col("vec_id"), col("cid"), col("cos"))
    val best = assign(vecs, cents, k)
    val second = scored.join(best.select(col("vec_id"), col("cluster")), Seq("vec_id"))
      .filter(col("cid") =!= col("cluster"))
      .groupBy(col("vec_id")).agg(max(col("cos")).as("cos2"))
    best.join(second, Seq("vec_id"))
      .withColumn("sil", round(col("cos") - col("cos2") + lit(1e-9), 6))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("sil")) + lit(1e-9), 6).as("mean_sil"),
        round(min(col("sil")) + lit(1e-9), 6).as("min_sil"))
      .orderBy(col("cluster"))
  }

  /** SemDeDup-style semantic outlier pruning on top of [[kmeans]]: in
    * each cluster, the 10% of vectors farthest from their centroid
    * (lowest cosine) are flagged. Ranking runs over the QUANTIZED
    * cosine with a vec_id tiebreak, and the 10%-cutoff is integer
    * arithmetic (`rank·10 ≤ cluster size`) — no float boundary can
    * disagree between engines. Per-cluster window over the k-bounded
    * assignment frame; nothing global. */
  def outliers(embeddings: DataFrame, k: Int = 8, iters: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val assigned = kmeans(embeddings, k, iters)
    val w = Window.partitionBy(col("cluster"))
    assigned
      .withColumn("rank_far", row_number().over(
        w.orderBy(col("cosine").asc, col("vec_id"))))
      .withColumn("n_cluster", count(lit(1)).over(w))
      .withColumn("is_outlier", col("rank_far") * 10 <= col("n_cluster"))
      .select(col("vec_id"), col("cluster"), col("cosine"),
        col("rank_far"), col("n_cluster"), col("is_outlier"))
  }

  /** SemDeDup proper (Abbas et al. 2023, arXiv:2303.09540): semantic
    * dedup WITHIN the k-means clusters — a vector is dropped when a
    * same-cluster neighbor has cosine ≥ `tau`; the keeper of each
    * τ-neighborhood is the minimum vec_id (the paper keeps by
    * centroid-distance; min-id keeps the decision content-free and
    * cross-engine exact — same greedy per-cluster sweep, different
    * tiebreak). Output keeps every vector with a keep flag, lower-id
    * dup count and the strongest similarity, so the delete is the
    * caller's one-line filter and stays auditable.
    *
    * Scale shape — the whole point of the method: similarity runs per
    * CLUSTER (graft.core.Pairs.within on the cluster id), never
    * corpus-all-pairs;
    * the paper scales k with the corpus (50k clusters for LAION) so
    * per-cluster candidate sets stay bounded and the join cost is
    * Σ n_c² ≈ n²/k. Cosines are quantized to 6dp BEFORE the τ
    * comparison, so no float boundary can disagree between engines. */
  def semDedup(embeddings: DataFrame, tau: Double = 0.4, k: Int = 8,
      iters: Int = 2): DataFrame = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    // norms are precomputed per VECTOR (one self-dot + sqrt each),
    // not per candidate pair: scoring a pair with three dot products
    // (a·b plus both self-dots) is the same sqrt/division arithmetic,
    // evaluated once per row before the pairing, so the O(Σ n_c²)
    // verify pays one dot per pair
    val vecs = embeddings.select(col("vec_id").cast("long").as("vec_id"),
      expr("transform(embedding, x -> cast(x AS double))").as("emb"))
      .withColumn("nrm", expr("sqrt(graft_dot(emb, emb))"))
    val assigned = kmeans(embeddings, k, iters).select(col("vec_id"), col("cluster"))
    val av = assigned.join(vecs, Seq("vec_id"))
    val dropped = graft.core.Pairs.within(av, Seq("cluster"), "vec_id")
      .withColumn("cos", expr("round(graft_dot(emb_a, emb_b) / (nrm_a * nrm_b) + 1e-9, 6)"))
      .filter(col("cos") >= tau)
      .groupBy(col("id_b").as("vec_id"))
      .agg(count(lit(1)).as("n_dup_lower"), max(col("cos")).as("max_cos"))
    assigned.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("n_dup_lower"), lit(0L)).as("n_dup_lower"),
        coalesce(col("max_cos"), lit(0.0)).as("max_cos"),
        col("n_dup_lower").isNull.as("keep"))
  }

  /** Per-language centroid cohesion: each document's cosine to ITS
    * language's mean embedding (documents and embeddings join on the
    * shared id space — the doc-embedding link of a real corpus). Low
    * cosine = the doc sits far from its labeled language's semantic
    * mass: a mislabel / noise candidate — metadata-grouped outlier
    * detection, where q_embed_outliers groups by LEARNED cluster.
    *
    * Plan: centroids are ONE keyed aggregate to #langs·d cells
    * (map-combinable), re-assembled in index order and broadcast; the
    * scoring pass is a stateless scan with the native index-order
    * [[graft.functions.DotProduct]] — nothing all-pairs. */
  def langCentroid(documents: DataFrame, embeddings: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    val vecs = embeddings.select(col("vec_id").cast("long").as("vec_id"),
      expr("transform(embedding, x -> cast(x AS double))").as("emb"))
    val joined = documents
      .select(col("doc_id").cast("long").as("vec_id"), col("lang"))
      .join(vecs, Seq("vec_id"))
    val cents = joined.select(col("lang"), posexplode(col("emb")))
      .groupBy(col("lang"), col("pos"))
      .agg(round(avg(col("col")) + lit(1e-9), 6).as("v"))
      .groupBy(col("lang"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, v))), s -> s.v)")
        .as("cvec"))
    joined.join(broadcast(cents), Seq("lang"))
      .withColumn("cos", expr(
        "round(graft_dot(emb, cvec) / (sqrt(graft_dot(emb, emb)) * " +
          "sqrt(graft_dot(cvec, cvec))) + 1e-9, 6)"))
      .select(col("vec_id").as("doc_id"), col("lang"), col("cos"))
  }

  /** Embedding-distribution drift monitor: per-dimension mean of the
    * even-id half vs the odd-id half of the corpus (a deterministic
    * content-free split standing in for "yesterday's embeddings vs
    * today's" — feed two real snapshots at deployment). A drifting
    * encoder shifts dimension means; this is the cheapest alarm that
    * catches it before ANN recall quietly degrades.
    *
    * Plan: posexplode to (dim, value) pairs, ONE map-combinable
    * aggregate to exactly d rows — the network carries 2·d partial
    * sums, never vectors. */
  def drift(embeddings: DataFrame): DataFrame =
    embeddings
      .select((col("vec_id") % 2 === 0).as("even"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("dim"))
      .agg(count(when(col("even"), lit(1))).as("n_even"),
        count(when(!col("even"), lit(1))).as("n_odd"),
        round(avg(when(col("even"), col("v"))) + lit(1e-9), 6).as("mean_even"),
        round(avg(when(!col("even"), col("v"))) + lit(1e-9), 6).as("mean_odd"))
      .withColumn("shift",
        round(col("mean_odd") - col("mean_even") + lit(1e-9), 6))

  /** Density-based clustering (DBSCAN) on the embedding space, with
    * cosine ≥ eps as the neighborhood predicate: core points have ≥
    * minPts neighbors, clusters are the connected components of the
    * core-core adjacency, border points attach to their minimum-id
    * core neighbor's cluster (deterministic), the rest is noise
    * (cluster −1). The ε-pair generation and the component closure
    * REUSE the dedup machinery — [[graft.dedup.Dedup.embeddingPairs]]
    * (block-replicated similarity join, O(n·B) shuffle) and
    * [[graft.dedup.Dedup.componentsFromPairs]] (min-label propagation
    * + pointer jumping) — so DBSCAN inherits their 100 TB shapes
    * instead of introducing new ones.
    *
    * Output: (vec_id, role ∈ core|border|noise, cluster). */
  def dbscan(embeddings: DataFrame, eps: Double = 0.4, minPts: Int = 3): DataFrame = {
    import graft.dedup.Dedup
    val ids = embeddings.select(col("vec_id").cast("long").as("vec_id"))
    val pairs = Dedup.embeddingPairs(embeddings, eps) // persisted, tiny
    try {
      val adj = pairs.select(col("id_a").as("vec_id"), col("id_b").as("nb"))
        .unionByName(pairs.select(col("id_b").as("vec_id"), col("id_a").as("nb")))
      val deg = adj.groupBy(col("vec_id")).agg(count(lit(1)).as("n_nb"))
      val core = deg.filter(col("n_nb") >= minPts).select(col("vec_id"))
      val coreEdges = pairs.select(col("id_a"), col("id_b"))
        .join(core.select(col("vec_id").as("id_a")), Seq("id_a"), "left_semi")
        .join(core.select(col("vec_id").as("id_b")), Seq("id_b"), "left_semi")
      val comp = Dedup.componentsFromPairs(
          core.select(col("vec_id").as("doc_id")), coreEdges)
        .select(col("doc_id").as("vec_id"), col("comp").as("cluster"))
      val borderAssign = adj
        .join(core.select(col("vec_id").as("nb")), Seq("nb"), "left_semi")
        .join(comp.select(col("vec_id").as("nb"), col("cluster")), Seq("nb"))
        .groupBy(col("vec_id")).agg(min(col("cluster")).as("nb_cluster"))
      val result = ids
        .join(comp, Seq("vec_id"), "left")
        .join(borderAssign, Seq("vec_id"), "left")
        .select(col("vec_id"),
          when(col("cluster").isNotNull, lit("core"))
            .when(col("nb_cluster").isNotNull, lit("border"))
            .otherwise(lit("noise")).as("role"),
          coalesce(col("cluster"), col("nb_cluster"), lit(-1L)).as("cluster"))
        .persist()
      // materialize before releasing the ε-pair frame (same contract
      // as jaccardPairs: the result is O(#vectors) and tiny, the
      // scratch frames must not stay pinned — nor be recomputed)
      result.count()
      result
    } finally pairs.unpersist()
  }

  /** Pairwise language-centroid geometry (the separation map beside
    * [[langCentroid]]'s per-doc cohesion): cosine and Euclidean
    * distance between every pair of language centroids — two langs
    * whose centroids nearly coincide are indistinguishable to the
    * encoder.
    *
    * Plan: the centroid frame is O(#langs) rows (one posexplode
    * aggregate); the pair join carries an explicit limit(64) so the
    * nested-loop side is structurally bounded (the language registry
    * is finite) — same pattern as kmeans' k-row centroid broadcast. */
  def centroidDistances(documents: DataFrame,
      embeddings: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    val vecs = embeddings.select(col("vec_id").cast("long").as("vec_id"),
      expr("transform(embedding, x -> cast(x AS double))").as("emb"))
    val cents = documents
      .select(col("doc_id").cast("long").as("vec_id"), col("lang"))
      .join(vecs, Seq("vec_id"))
      .select(col("lang"), posexplode(col("emb")))
      .groupBy(col("lang"), col("pos"))
      .agg(round(avg(col("col")) + lit(1e-9), 6).as("v"))
      .groupBy(col("lang"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, v))), s -> s.v)")
        .as("cvec"))
    val a = cents.select(col("lang").as("lang_a"), col("cvec").as("va"))
    val b = cents.select(col("lang").as("lang_b"), col("cvec").as("vb"))
    a.join(broadcast(b.limit(64)), col("lang_a") < col("lang_b"))
      .withColumn("dot", expr("graft_dot(va, vb)"))
      .withColumn("na", expr("sqrt(graft_dot(va, va))"))
      .withColumn("nb", expr("sqrt(graft_dot(vb, vb))"))
      .withColumn("cosine",
        round(col("dot") / (col("na") * col("nb")) + lit(1e-9), 6))
      .withColumn("euclid", round(sqrt(greatest(lit(0.0),
        col("na") * col("na") + col("nb") * col("nb")
          - lit(2.0) * col("dot"))) + lit(1e-9), 6))
      .select(col("lang_a"), col("lang_b"), col("cosine"), col("euclid"))
  }

  /** Embedding-norm QA profile per label: count and norm
    * mean/median/extrema — collapsed or exploding norms are the
    * first symptom of a broken encoder batch, caught here before any
    * similarity math consumes the vectors.
    *
    * Plan: the norm is one generated-loop dot product per row
    * (stateless scan), the stats one keyed exact-percentile
    * aggregate to O(#labels) rows. */
  def normStats(embeddings: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    embeddings
      .select(col("label"),
        expr("transform(embedding, x -> cast(x AS double))").as("emb"))
      .withColumn("nrm", expr("round(sqrt(graft_dot(emb, emb)) + 1e-9, 6)"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("nrm")) + lit(1e-9), 4).as("mean_norm"),
        round(expr("percentile(nrm, 0.5D)") + lit(1e-9), 6).as("p50_norm"),
        min(col("nrm")).as("min_norm"),
        max(col("nrm")).as("max_norm"))
      .orderBy(col("label"))
  }

  /** Class-balanced re-weighting per label (Cui et al.'s effective
    * number of samples): eff_n = (1−β^n)/(1−β), weight ∝ 1/eff_n
    * normalized to mean 1 over classes — the standard correction fed
    * into a sampler or loss when label frequencies skew.
    *
    * Plan: one keyed label count; everything after runs on the
    * O(#classes) frame with two scalar broadcasts. eff_n quantizes at
    * 4 dp so the libm pow() ulp never reaches the reported weights. */
  def classBalance(embeddings: DataFrame, beta: Double = 0.999): DataFrame = {
    val counts = embeddings.groupBy(col("label")).agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("n_total"), count(lit(1)).as("n_classes"))
    val eff = counts.crossJoin(broadcast(tot))
      .withColumn("share", round(col("n") / col("n_total").cast("double")
        + lit(1e-9), 6))
      .withColumn("eff_n", round((lit(1.0) - pow(lit(beta), col("n").cast("double")))
        / (lit(1.0) - lit(beta)) + lit(1e-9), 4))
      .withColumn("w_raw", lit(1.0) / col("eff_n"))
    val wSum = eff.agg(sum(col("w_raw")).as("w_sum"))
    eff.crossJoin(broadcast(wSum))
      .select(col("label"), col("n"), col("share"), col("eff_n"),
        round(col("w_raw") * col("n_classes") / col("w_sum") + lit(1e-9), 6)
          .as("weight"))
      .orderBy(col("label"))
  }
}
