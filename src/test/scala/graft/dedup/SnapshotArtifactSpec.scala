package graft.dedup

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, ProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.{Observe, SparkSpec}
import graft.core.Tables
import graft.functions.ShingleHashes
import graft.similarity.Ann

/** The persisted artifacts' pinned schemas, the text snapshot's load
  * memo and the snapshot screen's plans: what `save` writes is what
  * `load` reads, a load infers nothing, a part stored in another type
  * fails loudly, an unchanged snapshot loads once per session, a
  * relational screen is one lazy query that shuffles only its
  * increment, a prepared screen is one probe per document, and the two
  * return the same rows. */
class SnapshotArtifactSpec extends SparkSpec with AdaptiveSparkPlanHelper with Observe {
  private val sf = "/root/testdata/sf0.001"
  private lazy val corpus = Tables.documents(spark, sf)
  private lazy val embs = Tables.embeddings(spark, sf)

  private val dirs = scala.collection.mutable.ListBuffer.empty[java.io.File]

  private def tmp(name: String): String = {
    dirs += java.nio.file.Files.createTempDirectory(name).toFile
    dirs.last.getPath
  }

  override def afterAll(): Unit = {
    dirs.foreach(org.apache.commons.io.FileUtils.deleteQuietly)
    super.afterAll()
  }

  /** (doc_id, is_dup, best_match, best_jaccard) rows of a screen. */
  private def rows(df: DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getAs[Boolean]("is_dup"),
      Option(r.get(2)).map(_.asInstanceOf[Long]),
      Option(r.get(3)).map(_.asInstanceOf[Double]))).toSet

  test("artifact schemas: every part's writer stores its pinned schema; loads read the meta row") {
    val text = tmp("graft-text")
    Dedup.buildTextIndexSnapshot(corpus.filter(col("doc_id") % 10 =!= 0), 0.5).save(text)
    val lsh = tmp("graft-lsh")
    Dedup.buildEmbeddingLshSnapshot(embs.filter(col("vec_id") % 10 =!= 0)).save(lsh)
    val pq = tmp("graft-pq")
    Ann.buildIvfPqIndex(embs).save(pq)
    val artifacts = Seq(("text", Dedup.TextIndexSnapshot.parts, text),
      ("lsh", Dedup.EmbeddingLshSnapshot.parts, lsh), ("pq", Ann.PqIndex.parts, pq))
    // by name and type, nullability aside (catalogString drops it)
    for ((name, artifact, dir) <- artifacts; (part, pinned) <- artifact.schemas)
      assert(spark.read.parquet(s"$dir/$part").schema.catalogString === pinned.catalogString,
        s"$name/$part")
    val t = Dedup.TextIndexSnapshot.load(spark, text)
    val l = Dedup.EmbeddingLshSnapshot.load(spark, lsh)
    val p = Ann.PqIndex.load(spark, pq)
    assert(t.threshold === 0.5)
    assert(l.bands === 20 && l.rowsPerBand === 5)
    assert((p.m, p.ks, p.nCells) === ((16, 16, 16)))
  }

  test("a text snapshot load starts exactly one job: the meta row") {
    val dir = tmp("graft-text-load")
    Dedup.buildTextIndexSnapshot(corpus.filter(col("doc_id") % 10 =!= 0), 0.5).save(dir)
    val (qes, jobs) = observe(Dedup.TextIndexSnapshot.load(spark, dir))
    assert(qes.size === 1, s"the load ran ${qes.size} queries")
    assert(jobs === 1, s"the load ran $jobs jobs")
  }

  test("a snapshot whose index part lacks a column or stores it in another type fails, never returns rows") {
    val snap = Dedup.buildTextIndexSnapshot(corpus.filter(col("doc_id") % 10 =!= 0), 0.5)
    val inc = corpus.filter(col("doc_id") % 10 === 0)
    // a string sz fails the screen's scan; a missing one fails the load
    for (corrupt <- Seq(snap.index.withColumn("sz", col("sz").cast("string")),
        snap.index.drop("sz"))) {
      val dir = tmp("graft-text-corrupt")
      snap.copy(index = corrupt).save(dir)
      val e = intercept[Exception] {
        rows(Dedup.incrementalDedupWithSnapshot(inc, Dedup.TextIndexSnapshot.load(spark, dir)))
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("sz")), e.toString)
    }
    snap.index.unpersist()
  }

  /** Jobs `action` starts; it must run no query of its own. */
  private def jobsOf(action: => Any): Int =
    observe { action; spark.emptyDataFrame.collect() }._2

  test("plan-shape guard: a screen is one lazy query over one increment exchange") {
    val dir = tmp("graft-text-plan")
    Dedup.buildTextIndexSnapshot(corpus.filter(col("doc_id") % 10 =!= 0), 0.5).save(dir)
    val snap = Dedup.TextIndexSnapshot.load(spark, dir)
    var out: DataFrame = null
    val built = jobsOf {
      out = Dedup.relationalScreen(corpus.filter(col("doc_id") % 10 === 0), snap)
    }
    assert(built === 0, s"building the screen ran $built jobs")
    val reference = Dedup.incrementalDedup(corpus, 0.5)
    try {
      assert(rows(out) === rows(reference))
      val plan = out.queryExecution.executedPlan
      // reused exchanges are leaves here: this is every exchange planned
      val shuffles = collect(plan) { case e: ShuffleExchangeLike => e }
      assert(shuffles.size === 1, s"the screen shuffles more than its increment:\n$plan")
      val increment = shuffles.head
      assert(increment.outputPartitioning.asInstanceOf[HashPartitioning].expressions
        .map(_.asInstanceOf[Attribute].name) === Seq("doc_id"), s"$plan")
      assert(collect(increment.child) { case s: FileSourceScanExec => s }.size === 1,
        s"the exchange is not the increment's:\n$plan")
      // the prefix cut, the verify side and the probe ids read it
      val reused = collect(plan) { case r: ReusedExchangeExec => r.child }
      assert(reused.count(_.isInstanceOf[ShuffleExchangeLike]) === 2, s"$plan")
      // df table, index postings and both verify sides at sf0.001
      assert(collect(plan) { case e: BroadcastExchangeLike => e }.size === 4, s"$plan")
    } finally reference.unpersist()
  }

  test("a screen shingles its increment once per consumer, never again in a filter") {
    val dir = tmp("graft-text-shingle")
    Dedup.buildTextIndexSnapshot(corpus.filter(col("doc_id") % 10 =!= 0), 0.5).save(dir)
    val plan = Dedup.relationalScreen(corpus.filter(col("doc_id") % 10 === 0),
      Dedup.TextIndexSnapshot.load(spark, dir)).queryExecution.executedPlan
    val shingling = collect(plan) {
      case p if p.expressions.exists(_.exists(_.isInstanceOf[ShingleHashes])) => p
    }
    // the prefix stage and the verify side, each one projection
    assert(shingling.size === 2 && shingling.forall(_.isInstanceOf[ProjectExec]), s"$plan")
  }

  test("a screen over an unseen doc_id range compiles no more than its increment's stages") {
    val dir = tmp("graft-text-codegen")
    Dedup.buildTextIndexSnapshot(corpus.filter(col("doc_id") % 10 =!= 0), 0.5).save(dir)
    def screen(lo: Long): Unit = rows(Dedup.relationalScreen(
      corpus.filter(col("doc_id").between(lo, lo + 19)), Dedup.TextIndexSnapshot.load(spark, dir)))
    screen(0)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    screen(20)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiles <= 2, s"the second range compiled $compiles classes")
  }

  /** `body` under the bench contract's planning (AQE off), where the
    * increment's round-robin spread is a stage of the screen's job
    * rather than a job of its own. */
  private def nonAdaptive[A](body: => A): A = {
    val key = "spark.sql.adaptive.enabled"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a prepared screen is built without a job, then runs one job, no broadcast and one shingling") {
    val dir = tmp("graft-text-prepared")
    Dedup.buildTextIndexSnapshot(corpus.filter(col("doc_id") % 10 =!= 0), 0.5).save(dir)
    val snap = Dedup.TextIndexSnapshot.load(spark, dir)
    assert(snap.prepares)
    val inc = corpus.filter(col("doc_id") % 10 === 0)
    var out: DataFrame = null
    val built = jobsOf { out = Dedup.incrementalDedupWithSnapshot(inc, snap) }
    assert(built === 0, s"building the screen ran $built jobs")
    val reference = Dedup.incrementalDedup(corpus, 0.5)
    // the first action prepares the probe
    try assert(rows(out) === rows(reference)) finally reference.unpersist()
    nonAdaptive {
      val again = Dedup.incrementalDedupWithSnapshot(inc, snap)
      val jobs = observe(again.collect())._2
      assert(jobs === 1, s"a screen after the first ran $jobs jobs")
      val plan = again.queryExecution.executedPlan
      assert(collect(plan) { case e: BroadcastExchangeLike => e }.isEmpty, s"$plan")
      val shingling = collect(plan) {
        case p if p.expressions.exists(_.exists(_.isInstanceOf[ShingleHashes])) => p
      }
      assert(shingling.size === 1, s"$plan")
    }
  }

  test("a prepared screen over an unseen doc_id range compiles no more than its increment's stages") {
    val dir = tmp("graft-text-prepared-codegen")
    Dedup.buildTextIndexSnapshot(corpus.filter(col("doc_id") % 10 =!= 0), 0.5).save(dir)
    def screen(lo: Long): Unit = rows(Dedup.incrementalDedupWithSnapshot(
      corpus.filter(col("doc_id").between(lo, lo + 19)), Dedup.TextIndexSnapshot.load(spark, dir)))
    screen(0)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    screen(20)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiles <= 2, s"the second range compiled $compiles classes")
  }

  test("the memo releases a superseded or replaced snapshot's probe; a released snapshot prepares again") {
    val dir = tmp("graft-text-release")
    Dedup.buildTextIndexSnapshot(corpus.filter(col("doc_id") % 10 > 1), 0.5).save(dir)
    val inc = corpus.filter(col("doc_id") % 10 === 0)
    val first = Dedup.TextIndexSnapshot.load(spark, dir)
    val screened = rows(Dedup.incrementalDedupWithSnapshot(inc, first))
    val held = first.probe.broadcast.get
    // a new version: the in-place append reloads, superseding the entry
    Dedup.appendToTextIndexSnapshotInPlace(dir, corpus.filter(col("doc_id") % 10 === 1))
    assert(first.probe.broadcast.isEmpty)
    intercept[org.apache.spark.SparkException](held.value)
    assert(rows(Dedup.incrementalDedupWithSnapshot(inc, first)) === screened)
    assert(first.probe.broadcast.nonEmpty)
    first.release()
    // another session's load replaces the entry
    val second = Dedup.TextIndexSnapshot.load(spark, dir)
    rows(Dedup.incrementalDedupWithSnapshot(inc, second))
    val secondHeld = second.probe.broadcast.get
    Dedup.TextIndexSnapshot.load(spark.newSession(), dir)
    assert(second.probe.broadcast.isEmpty)
    intercept[org.apache.spark.SparkException](secondHeld.value)
  }

  test("a second load of an unchanged snapshot starts no job and returns the loaded snapshot") {
    val dir = tmp("graft-text-memo")
    Dedup.buildTextIndexSnapshot(corpus.filter(col("doc_id") % 10 =!= 0), 0.5).save(dir)
    val first = Dedup.TextIndexSnapshot.load(spark, dir)
    var second: Dedup.TextIndexSnapshot = null
    val jobs = jobsOf { second = Dedup.TextIndexSnapshot.load(spark, dir) }
    assert(jobs === 0, s"the second load ran $jobs jobs")
    assert(second eq first)
  }

  test("after an in-place append the next load returns the appended rows") {
    val dir = tmp("graft-text-append")
    Dedup.buildTextIndexSnapshot(corpus.filter(col("doc_id") % 10 > 1), 0.5).save(dir)
    val before = Dedup.TextIndexSnapshot.load(spark, dir).index.count()
    Dedup.appendToTextIndexSnapshotInPlace(dir, corpus.filter(col("doc_id") % 10 === 1))
    val after = Dedup.TextIndexSnapshot.load(spark, dir).index.count()
    assert(after === before + corpus.filter(col("doc_id") % 10 === 1).count())
  }

  test("a part rewritten without a column after a successful load fails the next load") {
    val dir = tmp("graft-text-rewrite")
    val snap = Dedup.buildTextIndexSnapshot(corpus.filter(col("doc_id") % 10 =!= 0), 0.5)
    snap.save(dir)
    Dedup.TextIndexSnapshot.load(spark, dir)
    snap.copy(index = snap.index.drop("sz")).save(dir)
    val e = intercept[IllegalArgumentException](Dedup.TextIndexSnapshot.load(spark, dir))
    assert(e.getMessage.contains("sz"), e.toString)
  }

  test("two sessions never share a loaded snapshot") {
    val dir = tmp("graft-text-sessions")
    Dedup.buildTextIndexSnapshot(corpus.filter(col("doc_id") % 10 =!= 0), 0.5).save(dir)
    val other = spark.newSession()
    val mine = Dedup.TextIndexSnapshot.load(spark, dir)
    val theirs = Dedup.TextIndexSnapshot.load(other, dir)
    assert(!(theirs eq mine))
    assert(theirs.index.sparkSession eq other)
    val again = Dedup.TextIndexSnapshot.load(spark, dir)
    assert(!(again eq theirs))
    assert(again.index.sparkSession eq spark)
  }

  // the screen's two paths return the same rows: the prepared probe
  // (both parts within the broadcast budget) against the relational
  // plan (past it, reached here through a budget of −1)

  /** [[rows]] as a sequence, repeated rows kept. */
  private def ordered(df: DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getAs[Boolean]("is_dup"),
      Option(r.get(2)).map(_.asInstanceOf[Long]),
      Option(r.get(3)).map(_.asInstanceOf[Double]))).toSeq.sortBy(r => (r._1, r._2))

  /** `body` with the broadcast budget at `bytes`, restored after. */
  private def withBudget[A](bytes: Long)(body: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, bytes.toString)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** A screen on the prepared path, then on the relational one. */
  private def bothPaths(inc: DataFrame, snap: Dedup.TextIndexSnapshot) = {
    assert(snap.prepares)
    val prepared = ordered(Dedup.incrementalDedupWithSnapshot(inc, snap))
    val relational = withBudget(-1) {
      assert(!snap.prepares)
      ordered(Dedup.incrementalDedupWithSnapshot(inc, snap))
    }
    (prepared, relational)
  }

  private val schema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType)))
  private def docs(rs: (Long, String)*): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rs.map { case (i, t) => Row(i, t) }: _*), schema)

  /** Seeded 24-word texts over a 120-word vocabulary. */
  private val rnd = new scala.util.Random(11)
  private def words(n: Int): Seq[String] = Seq.fill(n)(s"w${rnd.nextInt(120)}")
  private val base = Seq.tabulate(30)(_ => words(24))
  private def text(ws: Seq[String]) = ws.mkString(" ")

  // index: ids 100.. in reverse order; 3 and 7 hold the text of 105, so
  // every probe that matches it ties three ways
  private lazy val index = docs(base.zipWithIndex.reverse.map { case (ws, i) => (100L + i, text(ws)) }
    :+ (7L -> text(base(5))) :+ (3L -> text(base(5))): _*)

  // increment: near copies (2, 4 and 8 of 24 words replaced), exact
  // copies, the tied text, documents of unseen words (df 0) and
  // half-unseen ones, under-3-word, empty and NULL texts
  private lazy val increment = {
    def mutate(ws: Seq[String], k: Int) =
      ws.zipWithIndex.map { case (w, j) => if (j % (24 / k) == 0) s"new$j" else w }
    docs(Seq(
      1000L -> text(mutate(base(0), 2)), 1001L -> text(mutate(base(1), 4)),
      1002L -> text(mutate(base(2), 8)), 1003L -> text(base(3)),
      1004L -> text(base(5)), 1005L -> text(mutate(base(5), 2)),
      1006L -> text(Seq.tabulate(24)(j => s"unseen$j")),
      1007L -> text(base(6).take(12) ++ Seq.tabulate(12)(j => s"unseen$j")),
      1008L -> "two words", 1009L -> "", 1010L -> null,
      1011L -> text(base(9).take(3))): _*)
  }

  test("prepared and relational screens agree: ties, unseen shingles, short, empty and NULL texts") {
    for (t <- Seq(0.5, 0.8)) {
      val snap = Dedup.buildTextIndexSnapshot(index, t)
      try {
        val (prepared, relational) = bothPaths(increment, snap)
        assert(prepared === relational, s"t=$t")
        val byId = prepared.map(r => r._1 -> r).toMap
        // the tie goes to the lower index id
        assert(byId(1004L) === ((1004L, true, Some(3L), Some(1.0))), s"t=$t")
        assert(byId(1003L) === ((1003L, true, Some(103L), Some(1.0))), s"t=$t")
        for (id <- Seq(1006L, 1008L, 1009L, 1010L))
          assert(byId(id) === ((id, false, None, None)), s"t=$t")
        assert(prepared.size === 12)
      } finally { snap.release(); snap.index.unpersist(); snap.dfreq.unpersist() }
    }
  }

  test("prepared and relational screens agree on the corpus and on an in-place-appended snapshot") {
    for (t <- Seq(0.5, 0.8)) {
      val dir = tmp("graft-probe-append")
      Dedup.buildTextIndexSnapshot(
        corpus.filter(col("doc_id") % 10 =!= 0 && col("doc_id") % 10 =!= 5), t).save(dir)
      val inc = corpus.filter(col("doc_id") % 10 === 0)
      val (before, beforeRel) = bothPaths(inc, Dedup.TextIndexSnapshot.load(spark, dir))
      assert(before === beforeRel, s"t=$t")
      // the appended rows are cut under the frozen df table
      val appended = Dedup.appendToTextIndexSnapshotInPlace(dir, corpus.filter(col("doc_id") % 10 === 5))
      val (after, afterRel) = bothPaths(inc, appended)
      assert(after === afterRel, s"t=$t")
      assert(after.count(_._2) > 0, s"t=$t")
    }
  }

  test("prepared and relational verified-pair sets, and so incremental components, agree") {
    val idxSide = corpus.filter(col("doc_id") % 10 =!= 0)
    val incDocs = corpus.filter(col("doc_id") % 10 === 0)
    for (t <- Seq(0.5, 0.8)) {
      val snap = Dedup.buildTextIndexSnapshot(idxSide, t)
      try {
        val hs = Dedup.withShingles(incDocs).select(col("doc_id"), col("hashes"))
        def pairs(df: DataFrame) = df.select("inc_id", "idx_id", "jaccard").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        val prepared = pairs(Dedup.snapshotVerifiedPairs(hs, snap))
        assert(prepared === pairs(Dedup.relationalVerifiedPairs(hs, snap)), s"t=$t")
        assert(prepared.nonEmpty, s"t=$t")
        val labels = Dedup.components(idxSide, t)
        def comps(df: DataFrame) = df.select("doc_id", "comp", "comp_size").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        val viaProbe = comps(Dedup.incrementalComponents(incDocs, labels, snap))
        assert(viaProbe === withBudget(-1)(comps(Dedup.incrementalComponents(incDocs, labels, snap))),
          s"t=$t")
        assert(viaProbe === comps(Dedup.components(corpus, t)), s"t=$t")
      } finally { snap.release(); snap.index.unpersist(); snap.dfreq.unpersist() }
    }
  }

  test("doc_id contract: a repeated increment id is screened row by row on the prepared path") {
    val snap = Dedup.buildTextIndexSnapshot(index, 0.5)
    try {
      val inc = docs(1L -> text(base(3)), 1L -> text(Seq.tabulate(10)(j => s"unseen$j")))
      assert(ordered(Dedup.incrementalDedupWithSnapshot(inc, snap))
        === Seq((1L, false, None, None), (1L, true, Some(103L), Some(1.0))))
      // the relational path pools the id's rows: both carry its one best match
      assert(withBudget(-1)(ordered(Dedup.incrementalDedupWithSnapshot(inc, snap)))
        === Seq.fill(2)((1L, true, Some(103L), Some(1.0))))
    } finally { snap.release(); snap.index.unpersist(); snap.dfreq.unpersist() }
  }
}
