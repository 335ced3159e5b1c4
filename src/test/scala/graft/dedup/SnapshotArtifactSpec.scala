package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.functions.col
import graft.{Observe, SparkSpec}
import graft.core.Tables
import graft.similarity.Ann

/** The persisted artifacts' pinned schemas and the snapshot screen's
  * plan: what `save` writes is what `load` reads, a load infers nothing,
  * a part stored in another type fails loudly, and a screen over a
  * loaded snapshot shuffles nothing. */
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

  test("plan-shape guard: a screen over a loaded snapshot shuffles nothing above the increment") {
    val dir = tmp("graft-text-plan")
    Dedup.buildTextIndexSnapshot(corpus.filter(col("doc_id") % 10 =!= 0), 0.5).save(dir)
    val out = Dedup.incrementalDedupWithSnapshot(corpus.filter(col("doc_id") % 10 === 0),
      Dedup.TextIndexSnapshot.load(spark, dir))
    val reference = Dedup.incrementalDedup(corpus, 0.5)
    try {
      val cached = collect(out.queryExecution.executedPlan) {
        case s: InMemoryTableScanExec => s.relation.cachedPlan
      }.headOption
      assert(cached.isDefined, "the screen's result is not persisted")
      val plan = cached.get
      val increment = collect(plan) { case s: InMemoryTableScanExec => s }
      assert(increment.nonEmpty, s"no persisted increment frame:\n$plan")
      val shuffles = collect(plan) { case e: ShuffleExchangeLike => e }
      assert(shuffles.isEmpty, s"the screen shuffles:\n$plan")
      // df table, index postings and both verify sides at sf0.001
      assert(collect(plan) { case e: BroadcastExchangeLike => e }.size === 4, s"$plan")
      assert(rows(out) === rows(reference))
    } finally { out.unpersist(); reference.unpersist() }
  }
}
