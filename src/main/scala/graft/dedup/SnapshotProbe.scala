package graft.dedup

import scala.collection.mutable
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import graft.functions.{PrefixCut, SortedOverlap}

/** A [[Dedup.TextIndexSnapshot]] held in memory for the per-document
  * probe: the df table (h → dfreq), the prefix postings (h → index
  * rows) and every index row's id, size and sorted hash set, rows in
  * id order.
  *
  * [[probe]] answers what the snapshot screen's relational plan
  * answers for one increment document, with the same kernels and the
  * same arithmetic: the prefix is cut by [[PrefixCut]] under
  * (dfreq, h), unseen shingles taking df 0; candidates pass the
  * PPJoin length filter on the posting's `sz`; each candidate id is
  * verified against every index row of that id by [[SortedOverlap]];
  * Jaccard is rounded to 6 places HALF_UP after the 1e-9 nudge. The
  * verified pairs are therefore the relational plan's, value for
  * value. */
final class ProbeIndex private (threshold: Double, dfreq: mutable.LongMap[Long],
    postings: mutable.LongMap[Array[Int]], ids: Array[Long], szs: Array[Int],
    sh: Array[Array[Long]], firstRow: mutable.LongMap[Int]) extends Serializable {

  /** The verified (idx_id, jaccard) pairs of one document's shingle
    * hashes, Jaccard descending, then idx_id ascending. */
  def probe(hashes: Array[Long]): Array[(Long, Double)] = {
    val sz = hashes.length
    if (sz == 0) return Array.empty
    val prefix = PrefixCut.cut(hashes.map(dfreq.getOrElse(_, 0L)), hashes,
      ProbeIndex.prefixLength(threshold, sz))
    val cands = for (h <- prefix; r <- postings.getOrElse(h, Array.emptyIntArray)
      if ProbeIndex.lengthOk(threshold, sz, szs(r))) yield ids(r)
    val sorted = hashes.clone()
    java.util.Arrays.sort(sorted)
    val out = mutable.ArrayBuffer.empty[(Long, Double)]
    for (id <- cands.distinct) {
      var r = firstRow(id)
      while (r < ids.length && ids(r) == id) {
        // a NULL hash set scores NULL in the relational verify: no pair
        if (sh(r) != null) {
          val j = ProbeIndex.jaccard(SortedOverlap.count(sorted, sh(r)), sz, sh(r).length)
          if (j >= threshold) out += ((id, j))
        }
        r += 1
      }
    }
    out.sortWith((a, b) => a._2 > b._2 || (a._2 == b._2 && a._1 < b._1)).toArray
  }
}

object ProbeIndex {
  /** Collects both parts of `snapshot` to the driver (two jobs). A part
    * that cannot be read fails here, as it fails the relational scan. */
  def apply(snapshot: Dedup.TextIndexSnapshot): ProbeIndex = {
    val spark = snapshot.index.sparkSession
    import spark.implicits._
    val dfreq = mutable.LongMap.empty[Long]
    snapshot.dfreq.select(col("h"), col("dfreq")).as[(Long, Long)].collect()
      .foreach { case (h, n) => dfreq(h) = n }
    val rows = snapshot.index.select(col("doc_id"), col("sz"), col("sh"), col("prefix"))
      .as[(Long, Int, Array[Long], Array[Long])].collect().sortBy(_._1)
    val postings = mutable.LongMap.empty[mutable.ArrayBuilder.ofInt]
    val firstRow = mutable.LongMap.empty[Int]
    for (((id, _, _, prefix), r) <- rows.zipWithIndex) {
      firstRow.getOrElseUpdate(id, r)
      if (prefix != null) prefix.foreach(h => postings.getOrElseUpdate(h, new mutable.ArrayBuilder.ofInt) += r)
    }
    new ProbeIndex(snapshot.threshold, dfreq, postings.mapValuesNow(_.result()),
      rows.map(_._1), rows.map(_._2), rows.map(_._3), firstRow)
  }

  /** `prefixCut`'s length `sz − ceil(t·sz − 1e-9) + 1` as Spark
    * evaluates that SQL text: `t` is spliced in as a literal, which
    * Spark reads as a decimal (an exact product) unless it is written
    * with an exponent (a double one). */
  def prefixLength(t: Double, sz: Int): Int = {
    val literal = t.toString
    val tsz = if (literal.contains('E')) t * sz
      else new java.math.BigDecimal(literal).multiply(java.math.BigDecimal.valueOf(sz.toLong)).doubleValue
    (sz - math.ceil(tsz - 1e-9).toLong + 1).toInt
  }

  /** `Dedup.lengthFilter` in the double arithmetic Spark runs it in. */
  def lengthOk(t: Double, szA: Int, szB: Int): Boolean =
    szB >= math.ceil(szA * t - 1e-9).toLong && szB <= szA / t + 1e-9

  /** `Dedup.withOverlap`'s Jaccard: inter / (|a| + |b| − inter) + 1e-9,
    * rounded as Spark's `round(_, 6)` rounds a double. */
  def jaccard(inter: Int, szA: Int, szB: Int): Double = {
    val i = inter.toDouble
    val x = i / ((szA + szB) - i) + 1e-9
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
  }
}

/** The probe state of one [[Dedup.TextIndexSnapshot]] object: the
  * [[ProbeIndex]] built on the driver by the first execution that
  * reads it ([[graft.plans.Prepare]]) and broadcast once; tasks read
  * it through the broadcast. [[release]] destroys the broadcast (the
  * artifact memo calls it when it lets go of the snapshot); the next
  * execution prepares it again. A snapshot object that is dropped
  * unreleased leaves its broadcast to Spark's ContextCleaner. */
final class PreparedProbe(@transient private val snapshot: Dedup.TextIndexSnapshot)
    extends graft.plans.Prepared {
  @volatile private var held: Broadcast[ProbeIndex] = _

  def prepare(): Unit = synchronized {
    if (held == null)
      held = snapshot.index.sparkSession.sparkContext.broadcast(ProbeIndex(snapshot))
  }

  /** The broadcast, while it is held. */
  private[graft] def broadcast: Option[Broadcast[ProbeIndex]] = Option(held)

  def index: ProbeIndex = {
    // the driver's own object prepares itself (the optimizer evaluates
    // a probe over a local relation while it plans); a task's copy
    // reads the broadcast its plan prepared
    if (held == null && snapshot != null) prepare()
    val b = held
    if (b == null) throw new IllegalStateException("the text snapshot probe is not prepared")
    b.value
  }

  /** Destroys the broadcast, unless its session has stopped (the
    * broadcast went with it, and its id may name another's now). */
  def release(): Unit = synchronized {
    if (held != null) {
      if (!snapshot.index.sparkSession.sparkContext.isStopped) held.destroy()
      held = null
    }
  }

  override def toString: String = "text snapshot probe"
}

/** `graft_snapshot_probe(hashes)`: a document's verified
  * array<struct<idx_id, jaccard>> pairs against a prepared text
  * snapshot ([[ProbeIndex.probe]]); a NULL hash array probes as empty.
  * The state is a reference object of the generated code, so the code
  * is the same for every request and every snapshot version. */
case class SnapshotProbe(child: Expression, state: PreparedProbe) extends UnaryExpression {
  override def dataType: DataType = SnapshotProbe.Type
  override def nullable: Boolean = false
  override def prettyName: String = "graft_snapshot_probe"
  override protected def flatArguments: Iterator[Any] = Iterator(child)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"snapshot_probe needs array<bigint>, got $t")
  }

  override def eval(input: InternalRow): Any =
    SnapshotProbe.probe(state, child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val s = ctx.addReferenceObj("snapshotProbe", state, classOf[PreparedProbe].getName)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        graft.dedup.SnapshotProbe.probe($s, ${c.isNull} ? null : ${c.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): SnapshotProbe =
    copy(child = newChild)
}

object SnapshotProbe {
  val Type: DataType = ArrayType(StructType(Seq(StructField("idx_id", LongType, nullable = false),
    StructField("jaccard", DoubleType, nullable = false))), containsNull = false)

  /** Referenced from generated code. */
  def probe(state: PreparedProbe, hashes: ArrayData): ArrayData =
    if (hashes == null) new GenericArrayData(Array.empty[Any])
    else new GenericArrayData(state.index.probe(hashes.toLongArray())
      .map { case (id, j) => new GenericInternalRow(Array[Any](id, j)): Any })
}
