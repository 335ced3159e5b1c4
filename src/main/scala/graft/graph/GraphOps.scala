package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Fixpoint

/** Graph analytics over edge frames (the kNN station graph, the
  * near-dup document graph): PageRank and triangle counting — the two
  * classic "does your engine do distributed graphs" primitives beside
  * the connected components already in [[graft.dedup.Dedup]].
  *
  * Both are plain keyed joins/aggregates, so they inherit Spark's
  * shuffle machinery instead of needing a graph runtime: at 100 TB the
  * edge frame is hash-partitioned on the join key and every iteration
  * is one partition-local join + one keyed aggregate.
  */
object GraphOps {

  /** PageRank on a directed edge frame `(src, dst)`, fixed iteration
    * count (the deterministic contract an oracle can replay — rank
    * vectors converge ~0.85^k, so 10 iterations ≈ 4 decimals).
    *
    * Ranks are rounded to 10 dp after EVERY iteration: each new rank
    * is a sum of ≤ in-degree float terms whose addition order differs
    * between engines (and between Spark runs); the per-iteration
    * rounding collapses that ulp-level noise so the fixpoint is
    * bit-identical everywhere, while 10 dp ≫ the 6 dp reported.
    *
    * Plan: out-degrees once (keyed agg); each iteration = one
    * edges⋈ranks join on src (both sides hash-partitioned on the SAME
    * key — the exchange is planned once per side per action) + one dst
    * aggregate + a left join back onto the node grid for dangling
    * nodes. The loop builds a 10-deep declarative plan — no driver
    * collect, no RDD surgery; at real scale each iteration is one
    * shuffle of O(#edges) contributions. */
  def pageRank(edges: DataFrame, iterations: Int = 10,
      damping: Double = 0.85): DataFrame = {
    // the rank frame is referenced TWICE per iteration (contribution
    // join + dangling-node left join): carried as a plain plan the
    // tree would double per round (2^10 subtree copies — exponential
    // analysis cost). Fixpoint checkpoints each round instead: the
    // rank frame is O(#nodes), the cheap side of the graph.
    val e = edges.select(col("src"), col("dst")).persist()
    try {
      val nodes = e.select(col("src").as("id"))
        .unionByName(e.select(col("dst").as("id"))).distinct()
      val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      // loop-invariant work is paid ONCE, not per iteration: the
      // out-degree join rides the persisted edge frame (the previous
      // shape re-aggregated outDeg from the edges and re-joined it
      // EVERY round — 10 redundant keyed aggregates), and the
      // dangling-node grid (id, n_nodes) is a static persisted frame
      // instead of re-deriving id/n_nodes from the superseded rank
      // checkpoint each round. Same arithmetic (pr / outdeg per edge,
      // same per-round 10 dp rounding), so the fixpoint is unchanged.
      val e2 = e.join(outDeg, Seq("src"))
        .select(col("src"), col("dst"), col("outdeg")).persist()
      val nN = nodes.agg(count(lit(1)).as("n_nodes"))
      val grid = nodes.crossJoin(broadcast(nN))
        .select(col("id"), col("n_nodes")).persist()
      try {
        val init = grid
          .select(col("id"), round(lit(1.0) / col("n_nodes"), 10).as("pr"))
        val ranks = Fixpoint.rounds(init, iterations) { (ranks, _) =>
          val contrib = e2.join(ranks.select(col("id").as("src"), col("pr")), Seq("src"))
            .groupBy(col("dst").as("id"))
            .agg(sum(col("pr") / col("outdeg")).as("in_sum"))
          grid
            .join(contrib, Seq("id"), "left")
            .select(col("id"),
              round((lit(1.0) - lit(damping)) / col("n_nodes")
                + lit(damping) * coalesce(col("in_sum"), lit(0.0)), 10).as("pr"))
        }
        ranks.select(col("id"), round(col("pr") + lit(1e-9), 6).as("pagerank"))
      } finally { e2.unpersist(); grid.unpersist() }
    } finally e.unpersist()
  }

  /** Per-node triangle count and local clustering coefficient on the
    * UNDIRECTED closure of an edge frame. Triangles are enumerated
    * once each via the canonical a<b<c ordering — the standard
    * distributed shape (node-iterator with ordered wedges): wedge
    * generation joins the canonical edge list on its middle vertex,
    * closure is one more equi-join against the same list. Degree-bound
    * note: with a kNN edge frame the degree is ≤ 2k, so wedges are
    * O(#nodes·k²) — no hub explosion; for power-law graphs the same
    * code benefits from AQE skew splitting on the wedge join.
    */
  def triangles(edges: DataFrame): DataFrame = {
    val und = undirected(edges)
    val canon = und.filter(col("u") < col("v"))
    val deg = und.groupBy(col("u").as("id")).agg(count(lit(1)).as("degree"))
    // wedges a<b<c with edges (a,b) and (b,c); close with (a,c)
    val wedges = canon.select(col("u").as("a"), col("v").as("b"))
      .join(canon.select(col("u").as("b"), col("v").as("c")), Seq("b"))
    val tris = wedges.join(canon.select(col("u").as("a"), col("v").as("c")),
      Seq("a", "c"), "left_semi")
    val perNode = tris.select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_triangles"))
    deg.join(perNode, Seq("id"), "left")
      .select(col("id"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("degree") >= 2,
          round(lit(2.0) * coalesce(col("n_triangles"), lit(0L))
            / (col("degree") * (col("degree") - 1)) + lit(1e-9), 6))
          .otherwise(lit(0.0)).as("clustering"))
  }

  /** k-core membership by FIXED-ROUND peeling (the degeneracy-layer
    * primitive of community/influence analysis): `rounds` passes each
    * drop every node with current degree < k, together with its
    * edges. The round count is part of the operator contract — both
    * engines run the identical bounded iteration (the fixpoint is
    * reached well inside it on kNN-shaped graphs; a node still
    * peelable after the last round simply reports its current
    * degree), so results replay exactly with no convergence-test
    * float hazard.
    *
    * Plan: each round = one keyed degree aggregate + two semi-joins
    * of the edge frame against the O(#survivors) keep list, driven
    * by [[graft.core.Fixpoint.rounds]]. */
  def kCore(edges: DataFrame, k: Int = 4, rounds: Int = 8): DataFrame = {
    val und = undirected(edges)
    val allDeg = und.groupBy(col("u").as("station_id"))
      .agg(count(lit(1)).as("degree"))
    val alive = Fixpoint.rounds(und, rounds) { (alive, _) =>
      val keep = alive.groupBy(col("u")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select(col("u"))
      alive
        .join(keep, Seq("u"), "left_semi")
        .join(keep.select(col("u").as("v")), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
    }
    val coreDeg = alive.groupBy(col("u").as("station_id"))
      .agg(count(lit(1)).as("core_degree"))
    allDeg.join(coreDeg, Seq("station_id"), "left")
      .select(col("station_id"), col("degree"),
        coalesce(col("core_degree"), lit(0L)).as("core_degree"),
        col("core_degree").isNotNull.as("in_core"))
  }

  /** Newman modularity Q of a given node partition on the undirected
    * closure — the "are these communities real?" score (Q ≈ 0 random,
    * Q ≳ 0.3 meaningful structure): over the directed double-counted
    * edge list of size M, Q = Σ_c [intra_c/M − (deg_c/M)²].
    *
    * Plan: one broadcast label map onto the edge list (both
    * endpoints), one keyed community rollup, one scalar fold — all
    * integer counts, so Q is engine-exact before its final rounding. */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val und = undirected(edges)
    val lab = labels.select(col("station_id"), col("community"))
    val tagged = und
      .join(broadcast(lab.select(col("station_id").as("u"), col("community").as("cu"))), Seq("u"))
      .join(broadcast(lab.select(col("station_id").as("v"), col("community").as("cv"))), Seq("v"))
    val m = tagged.agg(count(lit(1)).as("m_dir"))
    val perC = tagged.groupBy(col("cu").as("community"))
      .agg(sum(when(col("cu") === col("cv"), 1L).otherwise(0L)).as("intra"),
        count(lit(1)).as("deg"))
    perC.crossJoin(broadcast(m))
      .agg(count(lit(1)).as("n_communities"),
        first(col("m_dir")).as("m_dir"),
        sum(col("intra")).as("intra_total"),
        sum(col("intra") / col("m_dir").cast("double")
          - (col("deg") / col("m_dir").cast("double"))
            * (col("deg") / col("m_dir").cast("double"))).as("q"))
      .withColumn("intra_share",
        round(col("intra_total") / col("m_dir").cast("double") + lit(1e-9), 6))
      .select(col("n_communities"), col("m_dir"), col("intra_share"),
        round(col("q") + lit(1e-9), 6).as("modularity"))
  }

  /** Degree assortativity coefficient — does the graph wire hubs to
    * hubs (r > 0, social networks) or hubs to leaves (r < 0,
    * infrastructure/kNN graphs)? Pearson correlation of the endpoint
    * degrees over the directed edge list (both orientations, the
    * standard Newman formulation), closed form from five sufficient
    * sums.
    *
    * Plan: one degree aggregate, two keyed joins back onto the edge
    * list (the degree frame is O(#nodes) — broadcastable), one global
    * moment rollup to a single row. */
  def assortativity(edges: DataFrame): DataFrame = {
    val und = undirected(edges)
    val deg = und.groupBy(col("u").as("id")).agg(count(lit(1)).as("d"))
    und
      .join(broadcast(deg.select(col("id").as("u"), col("d").as("du"))), Seq("u"))
      .join(broadcast(deg.select(col("id").as("v"), col("d").as("dv"))), Seq("v"))
      .agg(count(lit(1)).as("n_dir_edges"),
        sum(col("du")).as("sx"), sum(col("dv")).as("sy"),
        sum(col("du") * col("du")).as("sxx"),
        sum(col("dv") * col("dv")).as("syy"),
        sum(col("du") * col("dv")).as("sxy"))
      .withColumn("detx", col("n_dir_edges") * col("sxx") - col("sx") * col("sx"))
      .withColumn("dety", col("n_dir_edges") * col("syy") - col("sy") * col("sy"))
      .withColumn("assortativity",
        when(col("detx") > 0.0 && col("dety") > 0.0,
          round((col("n_dir_edges") * col("sxy") - col("sx") * col("sy"))
            / sqrt(col("detx") * col("dety")) + lit(1e-9), 6)))
      .select(col("n_dir_edges"), col("assortativity"))
  }

  /** HITS hubs-and-authorities on the DIRECTED edge frame — the
    * second classic link-analysis fixpoint beside [[pageRank]] (a good
    * hub points at good authorities; on a kNN graph authorities are
    * the densely-chosen cores): `rounds` alternating updates a ← Σ_in
    * h, h ← Σ_out a, each L1-normalized and rounded to 10 dp (the
    * pageRank determinism discipline).
    *
    * Plan: per round two edges⋈scores joins on the edge keys + two
    * keyed sums + two 1-row L1 broadcasts, driven by
    * [[graft.core.Fixpoint.rounds]]. O(#edges) shuffle per half-round. */
  def hits(edges: DataFrame, rounds: Int = 8): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct().persist()
    try {
      val nodes = e.select(col("src").as("id"))
        .unionByName(e.select(col("dst").as("id"))).distinct()
      def normalize(df: DataFrame, c: String): DataFrame = {
        val s = df.agg(sum(col(c)).as("l1"))
        df.crossJoin(broadcast(s))
          .select(col("id"), round(col(c) / col("l1"), 10).as(c))
      }
      val init = nodes.select(col("id"), lit(1.0).as("auth"), lit(1.0).as("hub"))
      val scores = Fixpoint.rounds(init, rounds) { (scores, _) =>
        val aRaw = e.join(scores.select(col("id").as("src"), col("hub")), Seq("src"))
          .groupBy(col("dst").as("id")).agg(sum(col("hub")).as("a_raw"))
        val auth = normalize(
          nodes.join(aRaw, Seq("id"), "left")
            .select(col("id"), coalesce(col("a_raw"), lit(0.0)).as("auth")), "auth")
        val hRaw = e.join(auth.select(col("id").as("dst"), col("auth").as("a2")), Seq("dst"))
          .groupBy(col("src").as("id")).agg(sum(col("a2")).as("h_raw"))
        val hub = normalize(
          nodes.join(hRaw, Seq("id"), "left")
            .select(col("id"), coalesce(col("h_raw"), lit(0.0)).as("hub")), "hub")
        auth.join(hub, Seq("id"))
      }
      scores.select(col("id"),
        round(col("auth") + lit(1e-9), 8).as("authority"),
        round(col("hub") + lit(1e-9), 8).as("hub"))
    } finally e.unpersist()
  }

  /** Single-source BFS layers on the undirected closure, FIXED-ROUND
    * (the distributed SSSP primitive; source = the minimum node id so
    * both engines pick it without input): `rounds` synchronous
    * relaxations of dist(v) ← min(dist(v), min over in-neighbors
    * dist(u)+1). The round bound is part of the operator contract —
    * nodes beyond it report unreached, loudly, instead of a silent
    * convergence test.
    *
    * Plan: each round = one edges⋈frontier join (only nodes with a
    * finite distance propagate) + one keyed min + a left join onto the
    * node grid, driven by [[graft.core.Fixpoint.rounds]]; one
    * O(#edges) shuffle per round. */
  def bfsLayers(edges: DataFrame, rounds: Int = 16): DataFrame = {
    val und = undirected(edges).persist()
    try {
      val nodes = und.select(col("u").as("id")).distinct()
      val src = nodes.agg(min(col("id")).as("id"))
      val init = nodes.join(broadcast(src.withColumn("d0", lit(0L))), Seq("id"), "left")
        .select(col("id"), col("d0").as("dist"))
      val dist = Fixpoint.rounds(init, rounds) { (dist, _) =>
        val prop = und
          .join(dist.filter(col("dist").isNotNull)
            .select(col("id").as("u"), col("dist").as("du")), Seq("u"))
          .groupBy(col("v").as("id")).agg(min(col("du") + 1).as("in_min"))
        dist.join(prop, Seq("id"), "left")
          .select(col("id"), least(col("dist"), col("in_min")).as("dist"))
      }
      dist.select(col("id"), col("dist"), col("dist").isNotNull.as("reached"))
    } finally und.unpersist()
  }

  /** Community detection by FIXED-ROUND synchronous label propagation
    * (Raghavan's LPA) on the undirected closure: every node starts as
    * its own label; each round every node adopts the most frequent
    * label among its neighbors' PREVIOUS-round labels (ties → smallest
    * label, so the vote is deterministic and replays exactly — same
    * bounded-iteration contract as [[pageRank]]/[[kCore]]).
    *
    * Plan: each round = one edges⋈labels join on the neighbor key +
    * one (node, label) count + a per-node arg-max as `max(struct(cnt,
    * -label))` — a plain keyed aggregate, NOT a window sort, so the
    * vote never materializes an ordering; driven by
    * [[graft.core.Fixpoint.rounds]]. At scale each round is one
    * shuffle of O(#edges) votes. */
  def labelPropagation(edges: DataFrame, rounds: Int = 5): DataFrame = {
    val und = undirected(edges).persist()
    try {
      val init = und.select(col("u").as("id")).distinct().withColumn("label", col("id"))
      val labels = Fixpoint.rounds(init, rounds) { (labels, _) =>
        und
          .join(labels.select(col("id").as("v"), col("label")), Seq("v"))
          .groupBy(col("u"), col("label")).agg(count(lit(1)).as("cnt"))
          .groupBy(col("u").as("id"))
          .agg(max(struct(col("cnt"), (-col("label")).as("neg"))).as("best"))
          .select(col("id"), (-col("best.neg")).as("label"))
      }
      val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("community_size"))
      labels.join(broadcast(sizes), Seq("label"))
        .select(col("id"), col("label").as("community"), col("community_size"))
    } finally und.unpersist()
  }

  /** kNN hubness census — the classic ANN-quality diagnostic: on a
    * DIRECTED k-nearest-neighbor edge frame every node has out-degree
    * k, but in-degree (how often a point shows up in OTHERS' top-k)
    * skews badly in high dimension; hubs dominate candidate lists and
    * antihubs become unreachable. Per node: in-degree, its z-score
    * against the network mean/sd, and hub / antihub flags (±2 sd, the
    * usual convention).
    *
    * Plan: one keyed in-degree count, a left join back onto the node
    * grid (zero-in-degree nodes must surface — they're the antihubs),
    * one single-row moment aggregate broadcast onto the frame. */
  def hubness(edges: DataFrame): DataFrame = {
    val nodes = edges.select(col("src").as("id"))
      .unionByName(edges.select(col("dst").as("id"))).distinct()
    val inDeg = edges.groupBy(col("dst").as("id")).agg(count(lit(1)).as("in_degree"))
    val grid = nodes.join(inDeg, Seq("id"), "left")
      .select(col("id"), coalesce(col("in_degree"), lit(0L)).as("in_degree"))
    val mom = grid.agg(
      avg(col("in_degree")).as("mu"),
      stddev_pop(col("in_degree")).as("sd"))
    grid.crossJoin(broadcast(mom))
      .select(col("id"), col("in_degree"),
        when(col("sd") > 0.0,
          round((col("in_degree") - col("mu")) / col("sd") + lit(1e-9), 6))
          .as("z"),
        when(col("sd") > 0.0, col("in_degree") > col("mu") + lit(2.0) * col("sd"))
          .otherwise(lit(false)).as("is_hub"),
        when(col("sd") > 0.0, col("in_degree") < col("mu") - lit(2.0) * col("sd"))
          .otherwise(lit(false)).as("is_antihub"))
  }

  /** Link prediction over the undirected closure: for every
    * distance-2 non-edge pair (u, w), the three classic
    * common-neighbor scores — raw count, Adamic–Adar Σ 1/ln(deg(v))
    * (rare shared neighbors count more), and Jaccard
    * |N(u)∩N(w)| / |N(u)∪N(w)| — keeping the top `topK` candidates
    * per node by Adamic–Adar (ties broken by Jaccard then id, so the
    * ranking replays exactly).
    *
    * Plan: wedge enumeration is ONE self-equi-join on the middle
    * vertex (O(n·k²) wedge rows on a kNN graph, all keyed — never
    * all-pairs), existing edges leave by anti-join, degrees arrive by
    * broadcast, and the per-node top-K is a WindowGroupLimit. */
  def linkPrediction(edges: DataFrame, topK: Int = 5): DataFrame = {
    val und = undirected(edges)
    val deg = und.groupBy(col("u").as("id")).agg(count(lit(1)).as("degree"))
    val wedges = und
      .join(und.select(col("u").as("w"), col("v")), Seq("v"))
      .filter(col("u") < col("w"))
    val scored = wedges
      .join(broadcast(deg.select(col("id").as("v"), col("degree").as("dv"))), Seq("v"))
      .groupBy(col("u"), col("w"))
      .agg(count(lit(1)).as("common"),
        round(sum(lit(1.0) / log(col("dv").cast("double"))) + lit(1e-9), 6)
          .as("adamic_adar"))
    val existing = und.filter(col("u") < col("v"))
      .select(col("u"), col("v").as("w"))
    val wTop = Window.partitionBy(col("u"))
      .orderBy(col("adamic_adar").desc, col("jaccard").desc, col("w"))
    scored.join(existing, Seq("u", "w"), "left_anti")
      .join(broadcast(deg.select(col("id").as("u"), col("degree").as("du"))), Seq("u"))
      .join(broadcast(deg.select(col("id").as("w"), col("degree").as("dw"))), Seq("w"))
      .withColumn("jaccard", round(col("common")
        / (col("du") + col("dw") - col("common")).cast("double") + lit(1e-9), 6))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= topK)
      .select(col("u").as("station_id"), col("rank"), col("w").as("cand_id"),
        col("common"), col("adamic_adar"), col("jaccard"))
  }

  /** The undirected closure of `(src, dst)` as distinct `(u, v)` rows,
    * both orientations, self-loops dropped. */
  private def undirected(edges: DataFrame): DataFrame =
    edges.select(col("src").as("u"), col("dst").as("v"))
      .unionByName(edges.select(col("dst").as("u"), col("src").as("v")))
      .filter(col("u") =!= col("v")).distinct()
}
