package graft.dedup

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, ProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.functions.col
import graft.{Observe, SparkSpec}
import graft.core.Tables
import graft.functions.ShingleHashes
import graft.similarity.Ann

/** The persisted artifacts' pinned schemas, the text snapshot's load
  * memo and the snapshot screen's plan: what `save` writes is what
  * `load` reads, a load infers nothing, a part stored in another type
  * fails loudly, an unchanged snapshot loads once per session, and a
  * screen is one lazy query that shuffles only its increment. */
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
      out = Dedup.incrementalDedupWithSnapshot(corpus.filter(col("doc_id") % 10 === 0), snap)
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
    val plan = Dedup.incrementalDedupWithSnapshot(corpus.filter(col("doc_id") % 10 === 0),
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
    def screen(lo: Long): Unit = rows(Dedup.incrementalDedupWithSnapshot(
      corpus.filter(col("doc_id").between(lo, lo + 19)), Dedup.TextIndexSnapshot.load(spark, dir)))
    screen(0)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    screen(20)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiles <= 2, s"the second range compiled $compiles classes")
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
}
