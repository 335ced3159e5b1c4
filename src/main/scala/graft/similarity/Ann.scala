package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Brute-force cosine top-k is the correctness baseline (and is exact);
  * the random-hyperplane LSH variant is the 100 TB path: each vector
  * hashes to a small signature, the join happens per bucket, and only
  * bucket-local candidates are scored. Dot products run through
  * codegen'd higher-order functions (zip_with/aggregate), left-fold in
  * index order so results are bit-deterministic.
  */
object Ann {

  /** Native left-fold dot (graft.functions.DotProduct): bit-identical
    * to the composed `aggregate(zip_with(...))` form the DuckDB oracle
    * mirrors, minus the interpreted per-element lambdas. */
  private val dot = "graft_dot(va, vb)"

  private def withNorm(embeddings: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    embeddings.select(col("vec_id"), col("embedding"),
      expr("sqrt(graft_dot(embedding, embedding))").as("nrm"))
  }

  /** Exact top-k cosine neighbors for each query vector (default: the
    * vectors with vec_id < nQueries), ties broken by neighbor id. */
  def bruteTopK(embeddings: DataFrame, k: Int = 5, nQueries: Int = 10): DataFrame = {
    val n = withNorm(embeddings)
    val q = n.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("va"), col("nrm").as("na"))
    val c = n.select(col("vec_id").as("nb_id"), col("embedding").as("vb"), col("nrm").as("nb"))
    val scored = q.join(broadcast(c), col("query_id") =!= col("nb_id"))
      .withColumn("cosine", expr(dot) / (col("na") * col("nb")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("nb_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("nb_id"), round(col("cosine") + lit(1e-9), 6).as("cosine"))
  }

  /** Hard-negative mining for retrieval training — for each query
    * vector (the dense-id evaluation sample vec_id < nQueries), the
    * top-k most COSINE-similar vectors carrying a DIFFERENT label:
    * the negatives that actually teach a contrastive model something.
    * The LIMIT on the query side is exact (ids 0..nQueries−1 are
    * dense) and makes the broadcast scoring join provably bounded.
    *
    * Plan: bounded query broadcast → one linear corpus pass; the
    * label filter runs before ranking so mismatched pairs never reach
    * the window; per-query top-k is a WindowGroupLimit. */
  def hardNegatives(embeddings: DataFrame, k: Int = 5,
      nQueries: Int = 10): DataFrame = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    val n = embeddings.select(col("vec_id"), col("label"), col("embedding"),
      expr("sqrt(graft_dot(embedding, embedding))").as("nrm"))
    val q = n.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"),
        col("embedding").as("va"), col("nrm").as("na"))
      .limit(nQueries)
    val c = n.select(col("vec_id").as("nb_id"), col("label").as("nb_label"),
      col("embedding").as("vb"), col("nrm").as("nb"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("nb_id"))
      .filter(col("nb_label") =!= col("q_label"))
      .withColumn("cosine", expr(dot) / (col("na") * col("nb")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("nb_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("q_label"), col("rank"), col("nb_id"),
        col("nb_label"), round(col("cosine") + lit(1e-9), 6).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Maximal-marginal-relevance (MMR) diverse re-ranking of the
    * brute-force candidate list for one query (vec_id 0) — the rerank
    * seam of a RAG retrieval stack: greedily select `select` of the
    * top-`topN` cosine candidates maximizing λ·rel − (1−λ)·max-sim-to-
    * selected (λ=0.7), ties by id. Relevance and pairwise sims
    * quantize at 6 dp and each round's MMR at 10 dp, so the greedy
    * path replays exactly on any engine.
    *
    * Plan: candidate generation is the only data-scale pass (a 1-row
    * broadcast query against the corpus, TakeOrdered topN); the
    * topN×topN pairwise-sim frame and the greedy rounds (orderBy +
    * LIMIT 1 winner per round, through [[graft.core.Fixpoint.rounds]])
    * never touch the big frame again; only the final selection stays
    * checkpointed. */
  def mmrRerank(embeddings: DataFrame, topN: Int = 20, select: Int = 10,
      lambda: Double = 0.7): DataFrame = {
    val n = withNorm(embeddings)
    // LIMIT 1 is exact (vec_id is unique) and makes the broadcast
    // query side provably bounded for the plan guard
    val q = n.filter(col("vec_id") === 0)
      .select(col("embedding").as("va"), col("nrm").as("na")).limit(1)
    // cand0 keeps its TakeOrdered lineage so the pairwise non-equi
    // join below is structurally bounded; the checkpointed twin
    // feeds the greedy loop without doubling the plan per round
    val cand0 = n.filter(col("vec_id") =!= 0)
      .select(col("vec_id").as("nb_id"), col("embedding").as("vb"), col("nrm").as("nb"))
      .crossJoin(broadcast(q))
      .withColumn("rel", round(expr(dot) / (col("na") * col("nb")) + lit(1e-9), 6))
      .orderBy(col("rel").desc, col("nb_id")).limit(topN)
      .select(col("nb_id"), col("vb"), col("nb"), col("rel"))
    val pair = cand0.select(col("nb_id").as("a"), col("vb").as("va"), col("nb").as("na"))
      .join(cand0.select(col("nb_id").as("b"), col("vb"), col("nb")),
        col("a") =!= col("b"))
      .withColumn("sim", round(expr(dot) / (col("na") * col("nb")) + lit(1e-9), 6))
      .select(col("a"), col("b"), col("sim"))
      .localCheckpoint(true)
    val cand = cand0.select(col("nb_id"), col("rel")).localCheckpoint(true)
    val first = cand.orderBy(col("rel").desc, col("nb_id")).limit(1)
      .select(col("nb_id"), lit(1).as("step"), col("rel"))
    // round r picks the (r + 1)-th item
    val selected = graft.core.Fixpoint.rounds(first, select - 1) { (selected, r) =>
      val simToSel = pair
        .join(selected.select(col("nb_id").as("b")), Seq("b"), "left_semi")
        .groupBy(col("a").as("nb_id")).agg(max(col("sim")).as("max_sim"))
      val next = cand
        .join(selected.select(col("nb_id")), Seq("nb_id"), "left_anti")
        .join(simToSel, Seq("nb_id"))
        .withColumn("mmr", round(lit(lambda) * col("rel")
          - (lit(1.0) - lit(lambda)) * col("max_sim") + lit(1e-9), 10))
        .orderBy(col("mmr").desc, col("nb_id")).limit(1)
        .select(col("nb_id"), lit(r + 1).as("step"), col("rel"))
      selected.unionByName(next)
    }
    Seq(pair, cand).foreach(graft.core.Checkpoints.release)
    selected.select(col("step"), col("nb_id").as("vec_id"), col("rel"))
      .orderBy(col("step"))
  }

  /** IVF (inverted-file) ANN — the classic coarse-quantizer route:
    * vectors are assigned to their nearest of `nCells` centroid cells
    * (one broadcast argmin join). The coarse codebook is the first
    * nCells vectors — deliberately NOT Lloyd-trained like the PQ
    * codebook: measured on all three SFs, spherical k-means rounds
    * LOWER recall here (0.94→0.86 at sf0.001, 1.00→0.96 at sf0.1 at
    * identical ~24% scan share) because balancing the cells spreads
    * each query's true neighbors across more cells than nProbe
    * covers. Each query
    * probes its `nProbe` nearest cells, and exact cosine re-ranks only
    * the probed cells' vectors. Search cost per query is
    * n·nProbe/nCells instead of n; the cell assignment is an equi-join
    * key, so the probe is a bucketed join, never a cross join.
    * Approximate by construction (rows-only; recall vs brute asserted
    * in LlmSpec). */
  /** The (query_id, nb_id) candidate id-pairs IVF would score: corpus
    * vectors assigned to their argmax-cosine cell, queries probing
    * their `nProbe` nearest cells, matched by the cell equi-join.
    * Factored out so the recall audit (tools/RecallReport) can report
    * the scanned share alongside recall. */
  private[graft] def ivfCandidates(embeddings: DataFrame, nQueries: Int = 10,
      nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val (assigned, probes) = ivfRoute(withNorm(embeddings), nQueries, nCells, nProbe)
    probes.join(assigned, Seq("cell")).filter(col("query_id") =!= col("nb_id"))
      .select(col("query_id"), col("nb_id"))
  }

  /** IVF routing over a [[withNorm]] frame: (nb_id, cell) for every
    * vector's nearest cell and (query_id, cell) for each query's
    * `nProbe` nearest, the cells being the first `nCells` vectors. */
  private def ivfRoute(n: DataFrame, nQueries: Int, nCells: Int,
      nProbe: Int): (DataFrame, DataFrame) = {
    val cents = n.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("cell"), col("embedding").as("vb"), col("nrm").as("nb"))
    def nearestCells(df: DataFrame, take: Int, idCol: String): DataFrame = {
      // O(n·nCells) bounded broadcast argmin — the quantizer pass
      val scored = df.select(col("vec_id").as(idCol), col("embedding").as("va"), col("nrm").as("na"))
        .crossJoin(broadcast(cents))
        .withColumn("csim", expr(dot) / (col("na") * col("nb")))
      val w = Window.partitionBy(col(idCol)).orderBy(col("csim").desc, col("cell"))
      scored.withColumn("crank", row_number().over(w)).filter(col("crank") <= take)
        .select(col(idCol), col("cell"))
    }
    (nearestCells(n, 1, "nb_id"),
      nearestCells(n.filter(col("vec_id") < nQueries), nProbe, "query_id"))
  }

  def ivfTopK(embeddings: DataFrame, k: Int = 5, nQueries: Int = 10,
      nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val n = withNorm(embeddings)
    val cand = ivfCandidates(embeddings, nQueries, nCells, nProbe)
    // candidates re-join vectors by key (broadcast bounded queries,
    // hash-join corpus) so full vectors never ride the routing rows
    val qv = n.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("va"), col("nrm").as("na"))
    val cv = n.select(col("vec_id").as("nb_id"), col("embedding").as("vb"), col("nrm").as("nb"))
    val scored = cand.join(broadcast(qv), Seq("query_id")).join(cv, Seq("nb_id"))
      .withColumn("cosine", expr(dot) / (col("na") * col("nb")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("nb_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("nb_id"), round(col("cosine") + lit(1e-9), 6).as("cosine"))
  }

  /** Product-quantization ANN (FAISS-PQ-style): each vector splits
    * into `m` subvectors; every subvector encodes as the index of its
    * nearest per-subspace centroid. The codebook is Lloyd-trained
    * ([[trainCodebook]]: deterministic k-means on a bounded sample,
    * init = the first `ks` vectors' subvectors — round 7 shipped the
    * init AS the codebook; 5 training rounds lift recall@5 from 0.46
    * to ≥0.9 on the gate dataset). Search runs in
    * the COMPRESSED domain: per query one (m × ks) distance table is
    * precomputed, then every candidate's approximate L2 is just m
    * table lookups summed (asymmetric distance computation) — no
    * full-width float math per candidate.
    *
    * Scale shape: the codebook is one broadcast row, so ENCODING is a
    * pure map-side scan (the 100 TB corpus never shuffles, and stores
    * m bytes per vector instead of 4·D — 32× compression at D=64).
    * The scan-all-codes search here is PQ's honest baseline; the
    * production composition routes through [[ivfTopK]] cells first
    * (IVFPQ) so each query scans nProbe/nCells of the codes, with this
    * exact ADC arithmetic unchanged. The ADC pass emits a k·refine
    * shortlist per query; an exact-L2 re-rank touches full vectors for
    * the shortlist only (the FAISS refine stage). Approximate by
    * construction → rows-only check; recall vs exact L2 asserted in
    * the spec. */
  def pqTopK(embeddings: DataFrame, k: Int = 5, nQueries: Int = 10,
      m: Int = 16, ks: Int = 16, refine: Int = 12): DataFrame =
    pqCore(embeddings, k, nQueries, m, ks, refine, route = None)

  /** IVFPQ — the production composition promised by [[pqTopK]]'s
    * Scaladoc: IVF coarse cells bound WHICH codes each query scans
    * (nProbe/nCells of the corpus instead of all of it), PQ's ADC
    * arithmetic scores the scanned codes in the compressed domain
    * unchanged, and the exact-L2 refine re-ranks the shortlist. The
    * non-residual variant (codes quantize raw vectors, not cell
    * residuals): encoding stays ONE map-side scan against a broadcast
    * codebook, and the candidate generation is an equi-join on the
    * cell id — never a cross join. Approximate by construction →
    * rows-only; recall vs exact L2 asserted in the spec. */
  def ivfpqTopK(embeddings: DataFrame, k: Int = 5, nQueries: Int = 10,
      nCells: Int = 16, nProbe: Int = 4,
      m: Int = 16, ks: Int = 16, refine: Int = 12): DataFrame =
    pqCore(embeddings, k, nQueries, m, ks, refine,
      route = Some(ivfRoute(withNorm(embeddings), nQueries, nCells, nProbe)))

  /** Shared PQ encode + ADC + refine pipeline; `route`, when present,
    * is the (nb_id → cell, query_id → probed cells) pair that bounds
    * the ADC scan to probed cells (IVFPQ), instead of scanning all
    * codes (flat PQ). */
  /** Per-subspace Lloyd (k-means) codebook training — the FAISS `train`
    * stage: `iters` rounds of assign-to-nearest-centroid + recompute
    * means, over a BOUNDED deterministic training sample
    * (vec_id < trainN, the standard train-on-a-subsample discipline —
    * at 100 TB the codebook never sees the full corpus). Init = the
    * first `ks` vectors' subvectors (round-7's whole codebook, now just
    * the seed). Determinism: per (mi, cell) the member subvectors are
    * collected SORTED by vec_id and folded in that order, so the means
    * replay bit-for-bit; empty cells keep their previous centroid.
    * Each round's state is ks·m centroid rows, checkpointed by
    * [[graft.core.Fixpoint.rounds]] so the loop's plan stays flat; the
    * training rows are released once the rounds are done. Returns the
    * one-row broadcastable codebook: cb[mi][cell] = centroid. */
  private def trainCodebook(embeddings: DataFrame, m: Int, ks: Int,
      iters: Int = 5, trainN: Int = 4096): DataFrame = {
    val ds = s"(size(embedding) div $m)"
    // training rows: (vec_id, mi, sub) — bounded by trainN·m
    val train = embeddings.filter(col("vec_id") < trainN)
      .select(col("vec_id"), posexplode(expr(
        s"""transform(sequence(0, $m - 1), mi ->
              transform(slice(embedding, mi * $ds + 1, $ds),
                x -> cast(x as double)))""")).as(Seq("mi", "sub")))
      .localCheckpoint(true)
    def asArray(cbRows: DataFrame): DataFrame = cbRows.groupBy()
      .agg(sort_array(collect_list(struct(col("mi"), col("cell"),
        col("cent")))).as("s"))
      .select(expr(
        s"""transform(sequence(0, $m - 1), mi ->
              transform(filter(s, x -> x.mi = mi), x -> x.cent))""").as("cb"))
    val init = train.filter(col("vec_id") < ks)
      .select(col("mi"), col("vec_id").cast("int").as("cell"), col("sub").as("cent"))
    val cbRows = graft.core.Fixpoint.rounds(init, iters) { (cbRows, _) =>
      // native Lloyd assignment (graft.functions.PqArgmin) — identical
      // first-argmin semantics and per-distance fold order as the
      // composed array_position(array_min(transform(...))) form, one
      // generated-code loop per training row instead of interpreted
      // per-element lambdas
      val assigned = train.crossJoin(broadcast(asArray(cbRows)))
        .withColumn("cell", expr("graft_pq_argmin(sub, cb[mi])"))
      val means = assigned
        .groupBy(col("mi"), col("cell"))
        .agg(sort_array(collect_list(struct(col("vec_id"), col("sub")))).as("subs"))
        .select(col("mi"), col("cell"), expr(
          """transform(
               aggregate(subs, array_repeat(cast(0.0 as double), size(subs[0].sub)),
                 (acc, x) -> zip_with(acc, x.sub, (a, b) -> a + b)),
               s -> s / size(subs))""").as("cent"))
      cbRows.as("old")
        .join(means.as("upd"), Seq("mi", "cell"), "left")
        .select(col("mi"), col("cell"),
          coalesce(col("upd.cent"), col("old.cent")).as("cent"))
    }
    graft.core.Checkpoints.release(train)
    asArray(cbRows)
  }

  private def pqCore(embeddings: DataFrame, k: Int, nQueries: Int,
      m: Int, ks: Int, refine: Int,
      route: Option[(DataFrame, DataFrame)]): DataFrame = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    // codebook: array[m] of array[ks] of centroid (Lloyd-trained on the
    // bounded sample; cell order is the sorted training init order).
    // Encode and ADC-table kernels are the native generated-code forms
    // (graft.functions.PqEncode / PqDists) — per-subspace fold order
    // and first-argmin tie-breaks (ties → lowest cell id) identical to
    // the composed transform/array_position(array_min(...)) chains
    // they replace (spec-pinned), minus the interpreted per-element
    // lambdas the m·ks·ds-op kernel paid per corpus vector.
    val cb = trainCodebook(embeddings, m, ks)
    val encoded = embeddings.crossJoin(broadcast(cb))
      .withColumn("codes", expr("graft_pq_encode(embedding, cb)"))
    val cands = encoded.select(col("vec_id").as("nb_id"), col("codes"))
    // per-query ADC table: dt[mi][cell] = ||q_mi - c_{mi,cell}||^2
    val queries = encoded.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        expr("graft_pq_dists(embedding, cb)").as("dt"))
    val pairs = route match {
      case Some((assigned, probes)) =>
        // IVFPQ candidate generation: codes join their cell, queries
        // join their probed cells — an equi-join on cell bounds the
        // ADC scan to nProbe/nCells of the corpus
        cands.join(assigned, Seq("nb_id"))
          .join(probes, Seq("cell"))
          .join(broadcast(queries), Seq("query_id"))
          .filter(col("query_id") =!= col("nb_id"))
      case None =>
        cands.join(broadcast(queries), col("query_id") =!= col("nb_id"))
    }
    val scored = pairs
      .withColumn("approx_dist", expr("graft_adc(codes, dt)"))
    // compressed-domain shortlist (k·refine per query), then exact L2
    // re-rank of the shortlist only — the FAISS refine stage: full
    // vectors are touched for k·refine candidates per query, never for
    // the corpus
    val wA = Window.partitionBy(col("query_id")).orderBy(col("approx_dist"), col("nb_id"))
    val shortlist = scored.withColumn("arank", row_number().over(wA))
      .filter(col("arank") <= k * refine)
      .select(col("query_id"), col("nb_id"))
    val full = embeddings.select(col("vec_id"),
      expr("transform(embedding, x -> cast(x as double))").as("v"))
    val exact = shortlist
      .join(broadcast(embeddings.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"),
          expr("transform(embedding, x -> cast(x as double))").as("qv"))), Seq("query_id"))
      .join(full.withColumnRenamed("vec_id", "nb_id"), Seq("nb_id"))
      .withColumn("l2_dist", expr(
        """aggregate(zip_with(qv, v, (a, b) -> (a - b) * (a - b)),
             cast(0.0 as double), (acc, x) -> acc + x)"""))
    val w = Window.partitionBy(col("query_id")).orderBy(col("l2_dist"), col("nb_id"))
    exact.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("nb_id"),
        round(col("l2_dist") + lit(1e-9), 6).as("l2_dist"))
  }

  /** Persisted IVFPQ index artifact — the ANN leg of the snapshot
    * family (text PPJoin index, embedding LSH bands, now the FAISS
    * shape): everything the OFFLINE build pays for lives in parquet —
    * the Lloyd-trained codebook (one broadcastable row), the coarse
    * centroids, and the per-vector (cell, codes) rows (m bytes of code
    * per vector instead of 4·D floats — the compressed corpus IS the
    * index). A query run loads the artifact and pays only its own
    * routing + the bounded ADC scan; the 100 TB corpus is never
    * re-encoded. The refine stage reads full vectors from the
    * embeddings TABLE keyed by the shortlist (FAISS's refine index
    * stays beside, not inside, the compressed one). */
  case class PqIndex(codes: DataFrame, centroids: DataFrame,
      codebook: DataFrame, m: Int, ks: Int, nCells: Int) {
    def save(dir: String): Unit = {
      codes.write.mode("overwrite").parquet(s"$dir/codes")
      centroids.write.mode("overwrite").parquet(s"$dir/centroids")
      codebook.write.mode("overwrite").parquet(s"$dir/codebook")
      val spark = codes.sparkSession
      import spark.implicits._
      Seq((m, ks, nCells)).toDF("m", "ks", "n_cells")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    }
  }

  object PqIndex {
    /** The parts `save` writes, in the schemas it writes them in (a
      * load reads under them — no schema-inference job per part). */
    private[graft] val parts = new graft.core.Artifact(
      "codes" -> "nb_id BIGINT, codes ARRAY<INT>, cell BIGINT",
      "centroids" -> "cell BIGINT, vb ARRAY<FLOAT>, nb DOUBLE",
      "codebook" -> "cb ARRAY<ARRAY<ARRAY<DOUBLE>>>",
      "meta" -> "m INT, ks INT, n_cells INT")

    def load(spark: org.apache.spark.sql.SparkSession, dir: String): PqIndex = {
      val meta = parts.read(spark, dir, "meta").head()
      PqIndex(parts.read(spark, dir, "codes"),
        parts.read(spark, dir, "centroids"),
        parts.read(spark, dir, "codebook"),
        meta.getInt(0), meta.getInt(1), meta.getInt(2))
    }
  }

  /** Build the [[PqIndex]] for a corpus: train the per-subspace Lloyd
    * codebook on the bounded sample, encode EVERY vector against the
    * broadcast codebook (one map-side scan), assign each to its
    * argmax-cosine coarse cell (one broadcast argmin join) — the three
    * offline passes [[ivfpqTopK]] runs inline, persisted once. */
  /** (nb_id, codes): every vector encoded against a broadcast codebook
    * — one map-side scan, shared by build and append. */
  private def encodeCodes(embeddings: DataFrame, codebook: DataFrame,
      m: Int): DataFrame =
    embeddings.crossJoin(broadcast(codebook))
      .withColumn("codes", expr("graft_pq_encode(embedding, cb)"))
      .select(col("vec_id").as("nb_id"), col("codes"))

  /** (nb_id, cell): argmax-cosine coarse-cell assignment against
    * broadcast centroids — shared by build and append. */
  private def assignCells(embeddings: DataFrame, centroids: DataFrame): DataFrame = {
    val scored = withNorm(embeddings)
      .select(col("vec_id").as("nb_id"), col("embedding").as("va"), col("nrm").as("na"))
      .crossJoin(broadcast(centroids))
      .withColumn("csim", expr(dot) / (col("na") * col("nb")))
    val w = Window.partitionBy(col("nb_id")).orderBy(col("csim").desc, col("cell"))
    scored.withColumn("crank", row_number().over(w))
      .filter(col("crank") === 1).select(col("nb_id"), col("cell"))
  }

  def buildIvfPqIndex(embeddings: DataFrame, nCells: Int = 16,
      m: Int = 16, ks: Int = 16): PqIndex = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    val n = withNorm(embeddings)
    val cents = n.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("cell"), col("embedding").as("vb"), col("nrm").as("nb"))
    val cb = trainCodebook(embeddings, m, ks)
    PqIndex(encodeCodes(embeddings, cb, m).join(assignCells(embeddings, cents), Seq("nb_id")),
      cents, cb, m, ks, nCells)
  }

  /** Fold new vectors INTO the PQ index artifact — the daily cycle's
    * ANN leg: encode against the FROZEN codebook and assign against
    * the frozen centroids (both pure map-side against broadcast
    * frames — no retrain, the 100 TB corpus is never re-encoded),
    * union the (cell, codes) rows. Unlike the LSH band snapshot
    * (data-independent, decay-free) and like the text index's frozen
    * df order, the frozen CODEBOOK decays as the appended
    * distribution drifts from the training sample: quantization error
    * — hence ADC ranking quality — degrades for drifted vectors.
    * [[pqQuantizationError]] is the gauge; CANARY_r10's pq_drift leg
    * measures the curve and the rebuild trigger: retrain
    * ([[buildIvfPqIndex]]) when an appended batch's avg quantization
    * error exceeds ~2× the day-0 baseline. vec_ids must stay unique
    * across appends (caller's contract). */
  def appendToIvfPqIndex(index: PqIndex, newEmbeddings: DataFrame): PqIndex = {
    graft.functions.GraftFunctions.register(newEmbeddings.sparkSession)
    index.copy(codes = index.codes.unionByName(
      encodeCodes(newEmbeddings, index.codebook, index.m)
        .join(assignCells(newEmbeddings, index.centroids), Seq("nb_id"))))
  }

  /** Index-health gauge: each vector's squared L2 to its NEAREST
    * per-subspace centroids summed over subspaces (the ADC
    * quantization error), averaged — one number an operator tracks
    * per appended batch against the day-0 baseline to decide when the
    * frozen codebook needs a retrain. One map-side scan against the
    * broadcast codebook + a scalar aggregate. */
  def pqQuantizationError(embeddings: DataFrame, index: PqIndex): DataFrame = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    embeddings.crossJoin(broadcast(index.codebook))
      .select(expr(
        """aggregate(transform(graft_pq_dists(embedding, cb),
              row -> array_min(row)), cast(0.0 as double),
              (acc, x) -> acc + x)""").as("qerr"))
      .agg(count(lit(1)).as("n_vectors"),
        round(avg(col("qerr")) + lit(1e-9), 6).as("avg_quant_error"))
  }

  /** [[ivfpqTopK]] served from a persisted [[PqIndex]]: queries route
    * against the LOADED centroids, build their ADC tables against the
    * LOADED codebook, equi-join the LOADED (cell, codes) rows on the
    * probed cells, and refine the shortlist with exact L2 against the
    * embeddings table. Training, encoding and assignment are all
    * deterministic, so the output EQUALS the inline [[ivfpqTopK]] with
    * the same parameters (spec-pinned) — the artifact only moves the
    * offline cost out of the query path. Approximate by construction
    * (rows-only, like its inline twin; recall re-measured per round).
    *
    * Plan: bounded query side broadcast everywhere; the only big-side
    * work is the cell equi-join over the codes parquet (nProbe/nCells
    * of it after partition-sized pruning at realistic cell counts) and
    * the keyed refine join against the vector table. */
  def ivfpqTopKWithIndex(embeddings: DataFrame, index: PqIndex,
      k: Int = 5, nQueries: Int = 10, nProbe: Int = 4,
      refine: Int = 12): DataFrame = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    val n = withNorm(embeddings).filter(col("vec_id") < nQueries)
    // query routing against the loaded coarse centroids; the exact
    // limit(nCells)/limit(1) bounds below are semantic no-ops (the
    // artifact holds exactly that many rows) that stamp the loaded
    // frames' boundedness INTO the plan, so the cross-join is provably
    // O(queries x nCells) to plan guards, not an unbounded BNLJ
    val scoredCells = n
      .select(col("vec_id").as("query_id"), col("embedding").as("va"), col("nrm").as("na"))
      .crossJoin(broadcast(index.centroids.limit(index.nCells)))
      .withColumn("csim", expr(dot) / (col("na") * col("nb")))
    val wc = Window.partitionBy(col("query_id")).orderBy(col("csim").desc, col("cell"))
    val probes = scoredCells.withColumn("crank", row_number().over(wc))
      .filter(col("crank") <= nProbe).select(col("query_id"), col("cell"))
    // per-query ADC table against the loaded codebook (native kernels,
    // same fold order as the composed forms — see pqCore)
    val queries = embeddings.filter(col("vec_id") < nQueries)
      .crossJoin(broadcast(index.codebook.limit(1)))
      .select(col("vec_id").as("query_id"),
        expr("graft_pq_dists(embedding, cb)").as("dt"))
    val scored = index.codes.join(probes, Seq("cell"))
      .join(broadcast(queries), Seq("query_id"))
      .filter(col("query_id") =!= col("nb_id"))
      .withColumn("approx_dist", expr("graft_adc(codes, dt)"))
    val wA = Window.partitionBy(col("query_id")).orderBy(col("approx_dist"), col("nb_id"))
    val shortlist = scored.withColumn("arank", row_number().over(wA))
      .filter(col("arank") <= k * refine)
      .select(col("query_id"), col("nb_id"))
    val full = embeddings.select(col("vec_id"),
      expr("transform(embedding, x -> cast(x as double))").as("v"))
    val exact = shortlist
      .join(broadcast(embeddings.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"),
          expr("transform(embedding, x -> cast(x as double))").as("qv"))), Seq("query_id"))
      .join(full.withColumnRenamed("vec_id", "nb_id"), Seq("nb_id"))
      .withColumn("l2_dist", expr(
        """aggregate(zip_with(qv, v, (a, b) -> (a - b) * (a - b)),
             cast(0.0 as double), (acc, x) -> acc + x)"""))
    val w = Window.partitionBy(col("query_id")).orderBy(col("l2_dist"), col("nb_id"))
    exact.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("nb_id"),
        round(col("l2_dist") + lit(1e-9), 6).as("l2_dist"))
  }

  /** LSH-bucketed ANN, banded OR-composition (the standard
    * recall-tunable form): each vector gets `nBands` independent
    * signatures of `planesPerBand` hyperplane sign bits; a candidate
    * is any vector sharing a bucket in AT LEAST ONE band (collision
    * probability 1 − (1 − sᵖ)ᵇ — the same S-curve as MinHash
    * banding), and exact cosine re-ranks only the deduplicated
    * candidate union. A single AND-bucket of p·b planes has vanishing
    * recall on noise-like data; the OR-union is what production LSH
    * ships. Approximate by construction (driver records a rows-only
    * check; recall vs brute asserted in LlmSpec and reported in
    * RECALL_r*.json).
    *
    * Plan: candidate generation is an equi-join on (band, bucket)
    * with the bounded query side broadcast; the distinct'd id-pair
    * frame re-joins vectors by key (broadcast queries, hash-join
    * corpus) so full vectors never ride the exploded band rows. */
  def lshTopK(embeddings: DataFrame, k: Int = 5, nQueries: Int = 10,
      nBands: Int = 20, planesPerBand: Int = 5): DataFrame = {
    val cand = lshCandidates(embeddings, nQueries, nBands, planesPerBand)
    val n = withNorm(embeddings)
    val qv = n.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("va"),
        col("nrm").as("na"))
    val cv = n.select(col("vec_id").as("nb_id"), col("embedding").as("vb"),
      col("nrm").as("nb"))
    val scored = cand.join(broadcast(qv), Seq("query_id")).join(cv, Seq("nb_id"))
      .withColumn("cosine", expr(dot) / (col("na") * col("nb")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("nb_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("nb_id"), round(col("cosine") + lit(1e-9), 6).as("cosine"))
  }

  /** The deduplicated (query_id, nb_id) bucket-collision candidates
    * lshTopK re-ranks — any pair sharing at least one band. Factored
    * out so the recall audit (tools/RecallReport) can report the
    * candidate share alongside recall. */
  private[graft] def lshCandidates(embeddings: DataFrame, nQueries: Int = 10,
      nBands: Int = 20, planesPerBand: Int = 5): DataFrame = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    val sigs = embeddings.select(col("vec_id"),
      expr(s"graft_hyperplane_bands(embedding, $nBands, $planesPerBand)")
        .as("bands"))
    val qb = sigs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        posexplode(col("bands")).as(Seq("band", "bucket")))
    val cb = sigs.select(col("vec_id").as("nb_id"),
      posexplode(col("bands")).as(Seq("band", "bucket")))
    cb.join(broadcast(qb), Seq("band", "bucket"))
      .filter(col("query_id") =!= col("nb_id"))
      .select(col("query_id"), col("nb_id")).distinct()
  }
}
