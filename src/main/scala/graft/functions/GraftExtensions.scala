package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: enable the graft SQL functions
  * cluster-wide with
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`
  * (the per-session alternative is GraftFunctions.register). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // whole-operator extension: the native streaming-merge as-of join
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // the optimizer fence shared frames are planned behind
    ext.injectPlannerStrategy(_ => graft.plans.FenceStrategy)
    // optimizer extensions: predicate pushdown + column pruning
    // through the as-of plan (opaque to the built-in rules)
    ext.injectOptimizerRule(_ => graft.plans.AsOfFilterPushdown)
    ext.injectOptimizerRule(_ => graft.plans.AsOfColumnPruning)
    ext.injectFunction((
      new FunctionIdentifier("graft_polyhash"),
      new ExpressionInfo(classOf[PolyHash].getName, "graft_polyhash"),
      (args: Seq[Expression]) => PolyHash(args.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "graft_minhash_sig"),
      (args: Seq[Expression]) => MinHashSig(args.head,
        args(1).eval().asInstanceOf[Number].intValue())))
    ext.injectFunction((
      new FunctionIdentifier("graft_shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "graft_shingle_hashes"),
      (args: Seq[Expression]) => ShingleHashes(args.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_sorted_overlap"),
      new ExpressionInfo(classOf[SortedOverlap].getName, "graft_sorted_overlap"),
      (args: Seq[Expression]) => SortedOverlap(args.head, args(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (args: Seq[Expression]) => DotProduct(args.head, args(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_char_entropy"),
      new ExpressionInfo(classOf[CharEntropy].getName, "graft_char_entropy"),
      (args: Seq[Expression]) => CharEntropy(args.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_hyperplane_bands"),
      new ExpressionInfo(classOf[HyperplaneBands].getName, "graft_hyperplane_bands"),
      (args: Seq[Expression]) => HyperplaneBands(args.head,
        args(1).eval().asInstanceOf[Number].intValue(),
        args(2).eval().asInstanceOf[Number].intValue())))
    ext.injectFunction((
      new FunctionIdentifier("graft_cdc_chunks"),
      new ExpressionInfo(classOf[CdcChunksText].getName, "graft_cdc_chunks"),
      (args: Seq[Expression]) => CdcChunksText(args.head,
        args(1).eval().asInstanceOf[Number].intValue())))
    ext.injectFunction((
      new FunctionIdentifier("graft_interleave_bits"),
      new ExpressionInfo(classOf[InterleaveBits].getName, "graft_interleave_bits"),
      (args: Seq[Expression]) => InterleaveBits(args.head, args(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "graft_nfc"),
      (args: Seq[Expression]) => NfcNormalize(args.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_pq_dists"),
      new ExpressionInfo(classOf[PqDists].getName, "graft_pq_dists"),
      (args: Seq[Expression]) => PqDists(args.head, args(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_pq_encode"),
      new ExpressionInfo(classOf[PqEncode].getName, "graft_pq_encode"),
      (args: Seq[Expression]) => PqEncode(args.head, args(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_pq_argmin"),
      new ExpressionInfo(classOf[PqArgmin].getName, "graft_pq_argmin"),
      (args: Seq[Expression]) => PqArgmin(args.head, args(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_adc"),
      new ExpressionInfo(classOf[AdcSum].getName, "graft_adc"),
      (args: Seq[Expression]) => AdcSum(args.head, args(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_dtw_band"),
      new ExpressionInfo(classOf[DtwBand].getName, "graft_dtw_band"),
      (args: Seq[Expression]) => DtwBand(args.head, args(1),
        args(2).eval().asInstanceOf[Number].intValue())))
  }
}
