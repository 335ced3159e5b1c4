package graftbench

import java.io.File
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{Checkpoints, Tables}
import graft.dedup.Dedup
import graft.llm.Corpus
import graft.similarity.Ann
import Workloads._

/** The LLM-data surface on one corpus; it never touches tsdb.
  *
  * A pass: clean -> Jaccard pairs -> components -> text-index snapshot
  * build (the 80% side) / append (10%) / screen (the 10% increment,
  * doc_id % 10 == 0, as the registered snapshot-cycle query splits) ->
  * IVF-PQ index build + top-k.
  *
  * A request: screen a batch of new documents against the snapshot the
  * last pass left. */
class CorpusCurate(cfg: Config, annQueries: Int, requestDocs: Int, gateFirstId: Long)
    extends Workload(cfg) {
  private var returned: Seq[DataFrame] = Nil
  private var outputs: Seq[(String, DataFrame)] = Nil
  private val textDir = new File(snapshotRoot, "text").getPath
  private val annDir = new File(snapshotRoot, "ivfpq").getPath
  private val batch = 20
  private val gateData = new File(data, "gate").getPath
  private val RequestFirstId = 10000000L

  def register(): Unit = {
    Tables.documents(spark, data).inputFiles
    Tables.embeddings(spark, data).inputFiles
  }

  def pass(): Unit = tracer.span("pass") {
    // the frames the library returned persisted in the previous pass
    returned.foreach(Checkpoints.release); returned = Nil
    val docs = step("core")(Tables.documents(spark, data))(planOf)(_ => ())
    val embs = step("core")(Tables.embeddings(spark, data))(planOf)(_ => ())
    val clean = step("llm.clean")(Corpus.clean(docs))(cachedPlanOf)(drain)
    val pairs = step("dedup.pairs")(Dedup.jaccardPairs(docs))(cachedPlanOf) { p =>
      addCounter("dedup.pairs.rows_out", p.count().toDouble)
    }
    val comps = step("dedup.components")(Dedup.componentsFromPairs(docs.select(col("doc_id")),
      pairs.select(col("id_a"), col("id_b"))))(planOf)(drain)
    val id10 = col("doc_id") % 10
    step("dedup.snapshot")(Dedup.buildTextIndexSnapshot(docs.filter(id10 =!= 0 && id10 =!= 5), 0.5))(
      s => Seq(s.index, s.dfreq).flatMap(planOf))(_.save(textDir))
    val appended = step("dedup.snapshot")(Dedup.appendToTextIndexSnapshotInPlace(textDir,
      docs.filter(id10 === 5)))(s => planOf(s.index))(_ => ())
    val screened = step("dedup.snapshot")(Dedup.incrementalDedupWithSnapshot(
      docs.filter(id10 === 0), appended))(cachedPlanOf)(drain)
    returned = Seq(clean, pairs, screened)
    step("similarity.ann")(Ann.buildIvfPqIndex(embs))(ix => planOf(ix.codes))(_.save(annDir))
    val topk = step("similarity.ann")(Ann.ivfpqTopKWithIndex(embs, Ann.PqIndex.load(spark, annDir),
      nQueries = annQueries))(planOf)(_.collect())
    outputs = Seq("q_corpus_clean" -> clean, "q_dedup_jaccard" -> pairs,
      "q_dedup_components" -> comps, "q_dedup_snapshot_cycle" -> screened, "ann_topk" -> topk)
  }

  /** The full outputs against the planted duplicates and the ANN
    * recall (the oracle's all-pairs SQL is out of reach at this size);
    * their rows of the gate corpus — ids from `gateFirstId`, a
    * vocabulary no other document shares, so no pair or component
    * crosses into it — against the oracle over `data/gate` alone. */
  def saveOutputs(): Unit = outputs.foreach { case (n, df) =>
    save(s"timed_$n", df, data, if (n == "ann_topk") "ann" else "planted")
    if (n != "ann_topk") {
      val id = if (df.columns.contains("doc_id")) col("doc_id") else col("id_a")
      save(s"gate_$n", df.filter(id >= gateFirstId), gateData)
    }
  }

  /** Every even request document is a planted near-duplicate of an
    * indexed one, which the screen must flag. */
  override def warmups: Int = 2

  def request(i: Int): String = tracer.span("request") {
    val reqs = Tables.documents(spark, new File(data, "requests").getPath)
    val nb = math.max(1, requestDocs / batch)
    val lo = RequestFirstId + (i % nb) * batch
    var rows = Array.empty[org.apache.spark.sql.Row]
    val screened = step("dedup.snapshot")(Dedup.incrementalDedupWithSnapshot(
      reqs.filter(col("doc_id").between(lo, lo + batch - 1)),
      Dedup.TextIndexSnapshot.load(spark, textDir)))(cachedPlanOf) { s =>
      rows = s.select("doc_id", "is_dup").collect()
    }
    Checkpoints.release(screened)
    val missed = rows.count(r => r.getLong(0) % 2 == 0 && !r.getBoolean(1))
    if (missed > 0) throw new IllegalStateException(s"$missed planted request duplicates not flagged")
    "request"
  }

  // every persisted frame of this workload is one the library returned
  def releaseOwn(): Unit = ()
}
