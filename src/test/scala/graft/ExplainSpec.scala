package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Plan-shape regression guard for the scale claims SURVEY §5 makes:
  * filters and projections must reach the parquet scan, and the as-of
  * join must stay a single-shuffle union+window plan. PlanGuardSpec
  * guards against O(n²) shapes; this spec guards the pushdown/pruning
  * and shuffle-count properties that make the healthy plans healthy. */
class ExplainSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** The physical plan with the AQE wrapper peeled (an
    * AdaptiveSparkPlanExec exposes no children to collect()). */
  private def physical(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  private def scans(name: String): Seq[FileSourceScanExec] =
    physical(name).collect { case s: FileSourceScanExec => s }

  test("q1_agg pushes both predicates and prunes to the 6 needed columns") {
    val s = scans("q1_agg")
    assert(s.nonEmpty)
    val lineitem = s.find(_.metadata.getOrElse("Location", "").contains("lineitem")).get
    assert(lineitem.metadata("PushedFilters").contains("LessThanOrEqual"),
      s"no pushed filter: ${lineitem.metadata("PushedFilters")}")
    // schema pruning: the scan must not read all 16 lineitem columns
    assert(lineitem.requiredSchema.size <= 7,
      s"scan reads ${lineitem.requiredSchema.size} columns: ${lineitem.requiredSchema.fieldNames.mkString(",")}")
  }

  test("url dedup prunes the documents scan to the columns the synthesized URL needs") {
    // the url payload is built from doc_id alone; the 16 KB text
    // column must never reach the scan of a pure-URL dedup
    Seq("q_dedup_url", "q_url_domains").foreach { q =>
      val s = scans(q)
      assert(s.nonEmpty, s"$q: no file scan found")
      s.foreach { sc =>
        assert(!sc.requiredSchema.fieldNames.contains("text"),
          s"$q scan reads text: ${sc.requiredSchema.fieldNames.mkString(",")}")
      }
    }
  }

  test("item-cf prunes the lineitem scan to the two key columns") {
    val s = scans("q_item_cf")
    val li = s.find(_.metadata.getOrElse("Location", "").contains("lineitem")).get
    assert(li.requiredSchema.fieldNames.toSet === Set("l_orderkey", "l_partkey"),
      s"scan reads ${li.requiredSchema.fieldNames.mkString(",")}")
  }

  test("trend-family pair join consumes the AGGREGATED, cap-guarded series, never raw days") {
    // q_theil_sen / q_sn_scale expose the shared trendSeries shape to
    // plan introspection (mannKendall localCheckpoints its result, so
    // its executed plan is opaque — it builds on the same helper).
    // The O(n²)-per-station self-join must sit ABOVE the weekly
    // aggregation and the guard window on BOTH sides.
    Seq("q_theil_sen", "q_sn_scale").foreach { q =>
      val p = physical(q)
      val join = p.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }.lastOption.getOrElse(fail(s"$q: expected the pair self-join"))
      join.children.zipWithIndex.foreach { case (side, i) =>
        val aggs = side.collect {
          case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec => h
        }
        assert(aggs.nonEmpty,
          s"$q: pair-join side $i reads no aggregate — raw days reach the join")
      }
      val wins = p.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(wins.nonEmpty, s"$q: cap-guard count window missing from the plan")
    }
  }

  test("bm25 selects its top-k via TakeOrderedAndProject, not a global sort") {
    val p = physical("q_bm25")
    val tops = p.collect {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }
    assert(tops.nonEmpty, "expected TakeOrderedAndProject in the bm25 plan")
  }

  test("scd2 is a join-free pipeline with bounded shuffles") {
    val p = physical("q_scd2")
    val joins = p.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.isEmpty, s"unexpected joins: ${joins.map(_.nodeName)}")
    val sh = p.collect { case e: ShuffleExchangeExec => e }
    assert(sh.size <= 3, s"${sh.size} shuffles — collapse/window should share the user key")
  }

  test("as-of join plans a single shuffle (union + window, no join node)") {
    val plan = physical("q_asof_join")
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
    // one hash exchange for the window partitioning; the driver-contract
    // orderBy adds one range exchange for the final sort — nothing else
    assert(shuffles.size <= 2, s"as-of join grew to ${shuffles.size} shuffles")
    val joins = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.isEmpty, s"as-of join regressed to a join-based plan: ${joins.map(_.nodeName)}")
  }

  test("free SQL over the registered views still reaches the parquet scan") {
    val db = new graft.api.WeatherDb(spark, sf)
    db.createViews()
    val out = spark.sql(
      "SELECT station_id, day, filled FROM graft_filled WHERE filled > 100")
    assert(out.count() > 0)
    // the predicate must appear as a filter over the cached/scan plan,
    // not as a post-processing step above a sort
    assert(out.queryExecution.optimizedPlan.toString.contains("100.0"))
  }

  test("stratified sample plans Partial+Final WindowGroupLimit, never a full stratum sort") {
    val limits = physical("q_stratified_sample").collect {
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec => w
    }
    assert(limits.size >= 2,
      s"expected partial+final WindowGroupLimit, found ${limits.size}")
  }

  test("q17's correlated subquery decorrelates to one aggregate + equi-join") {
    val plan = physical("q17_small_quantity")
    val joins = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.size === 1, s"expected the single decorrelated join, got ${joins.map(_.nodeName)}")
    // no surviving subquery expression = the rewrite actually fired
    assert(!plan.toString.contains("Subquery"),
      "correlated subquery survived into the physical plan")
  }

  test("weighted and vocab top-k plan TakeOrderedAndProject, not a global sort") {
    Seq("q_sample_weighted", "q_oov_rate", "q_vocab_coverage").foreach { q =>
      val topk = physical(q).collect {
        case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
      }
      assert(topk.nonEmpty, s"$q lost its TakeOrderedAndProject top-k")
    }
  }

  test("round-10 screens: every join is keyed (equi), and the phash decode scan runs once") {
    // the LSH snapshot screen and the MIH phash screen are candidate-
    // generation paths — a keyless join anywhere in them would be the
    // quadratic shape their banding exists to avoid (PlanGuard sweeps
    // for Cartesian/BNLJ globally; this pins the stronger property
    // that every join node carries equi keys)
    Seq("q_embed_snapshot_lsh", "q_image_phash_mih").foreach { q =>
      val joins = physical(q).collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }
      assert(joins.nonEmpty, s"$q lost its candidate join")
      joins.foreach { j =>
        assert(j.leftKeys.nonEmpty,
          s"$q has a keyless ${j.nodeName} — quadratic at corpus scale")
      }
    }
    // the decode+hash subtree is localCheckpoint'd: the physical plan
    // must NOT contain two decode scans (the hash frame feeds both the
    // band join and the final count join)
    Seq("q_image_phash", "q_image_phash_mih").foreach { q =>
      val plan = physical(q)
      val decodes = plan.collect {
        case s if s.nodeName.contains("SerializeFromObject") => s
      }
      assert(decodes.isEmpty,
        s"$q decode subtree survived into the plan ${decodes.size}x — the checkpoint is gone")
      val rdds = plan.collect {
        case s if s.nodeName.contains("ExistingRDD") || s.nodeName.contains("Scan ExistingRDD") => s
      }
      assert(rdds.nonEmpty, s"$q: no checkpointed hash frame in the plan")
    }
  }

  test("nearest-time join: both direction windows share ONE user exchange, no join node") {
    val plan = physical("q_nearest_time")
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
    // one hash exchange feeds both ignore-nulls windows; the
    // driver-contract orderBy adds the final range exchange
    assert(shuffles.size <= 2, s"nearest-time grew to ${shuffles.size} shuffles")
    val joins = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.isEmpty,
      s"nearest-time regressed to a join-based plan: ${joins.map(_.nodeName)}")
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.size == 2, s"expected prior+following windows, got ${windows.size}")
  }

  test("robots filter joins the tiny parsed-rules side by broadcast, never sort-merge") {
    val plan = physical("q_robots_filter")
    val bhj = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(bhj.size == 1, s"expected one broadcast join, got ${bhj.size}")
    val smj = plan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.isEmpty,
      "the ~40-row rules side must broadcast — a sort-merge here shuffles the 100 TB URL side")
    // the documents scan must not read the 16 KB text column for a
    // pure doc_id/source evaluation
    val docScan = scans("q_robots_filter")
      .find(_.metadata.getOrElse("Location", "").contains("documents")).get
    assert(!docScan.requiredSchema.fieldNames.contains("text"),
      s"robots filter reads text: ${docScan.requiredSchema.fieldNames.mkString(",")}")
  }

  test("feature hashing: exploded token stream partial-aggregates before it shuffles") {
    val plan = physical("q_feature_hash")
    // source round-robin + (doc,bucket) agg shuffle + doc rollup
    // shuffle + the driver-contract orderBy's range exchange — the
    // two AGG shuffles move ≤64 partial rows per doc, never the raw
    // exploded token stream
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.size <= 4, s"feature hash grew to ${shuffles.size} shuffles")
    val aggs = plan.collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
    }
    // two logical aggregates as partial+final pairs — the partial
    // HashAggregate sits UNDER its exchange (same codegen stage as
    // the Generate), which is what caps each shuffle's row count
    assert(aggs.size >= 4, s"expected partial+final pairs, got ${aggs.size}")
    val gen = plan.collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }
    assert(gen.size == 1, s"expected one explode, got ${gen.size}")
  }

  test("Explain masks session counters: one query planned twice prints one plan") {
    def plan() = SparkEntry.queries("q1_agg")(spark, sf).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    val (a, b) = (plan(), plan())
    assert(a !== b, "two plannings of one query number their expressions apart")
    assert(Explain.masked(a) === Explain.masked(b))
    assert(Explain.masked("sum(x#12L) AS s#3, [plan_id=45]") === "sum(x#x) AS s#x, [plan_id=x]")
    assert(Explain.masked("MapPartitionsRDD[1343], Dedup$$$Lambda$5907/0x00007f8d3d808a60@3e9f,")
      === "MapPartitionsRDD[x], Dedup$$$Lambda$x,")
  }
}
