package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** Native Catalyst expressions for the hot hash paths.
  *
  * The same semantics are expressible with higher-order builtins
  * (transform/aggregate lambdas — see graft.text.TextFns), but those
  * evaluate interpreted, one function call per element. These
  * expressions run the loops in generated Java inside whole-stage
  * codegen: ~10-30× faster on the dedup pipeline, while remaining
  * bit-identical to the DuckDB oracle mirrors.
  */

/** Polynomial rolling hash over code points:
  * fold (acc*31 + codepoint) mod 1e9+7. */
case class PolyHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes() =
    if (child.dataType.isInstanceOf[StringType])
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"polyhash needs a string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    PolyHash.hash(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.PolyHash.hash($c.toString());")

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
}

object PolyHash {
  val P = 1000000007L
  /** Referenced from generated code — keep public + static-reachable. */
  def hash(s: String): Long = {
    var acc = 0L
    var i = 0
    val n = s.length
    while (i < n) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      acc = (acc * 31 + cp) % P
    }
    acc
  }
}

/** MinHash signature: for hash family h_i(x) = (x*(1+2i) + i*12289)
  * mod 1e9+7, the element-wise minimum over an array of shingle
  * hashes, for i in [0, nHashes). Returns array<long> (null elements
  * never occur; an empty input yields an all-null signature, matching
  * array_min of an empty array). */
case class MinHashSig(child: Expression, nHashes: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def checkInputDataTypes() = child.dataType match {
    case ArrayType(LongType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"minhash_sig needs array<bigint>, got $t")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData].toLongArray()
    new GenericArrayData(MinHashSig.sig(arr, nHashes).asInstanceOf[Array[Any]])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  (Object[]) graft.functions.MinHashSig.sig($c.toLongArray(), $nHashes));""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  val P = 1000000007L
  def sig(hashes: Array[Long], nHashes: Int): Array[java.lang.Long] = {
    val out = new Array[java.lang.Long](nHashes)
    if (hashes.isEmpty) return out // all null
    var i = 0
    while (i < nHashes) {
      val a = 1L + 2L * i
      val b = i * 12289L
      var best = Long.MaxValue
      var j = 0
      while (j < hashes.length) {
        val v = (hashes(j) * a + b) % P
        if (v < best) best = v
        j += 1
      }
      out(i) = best
      i += 1
    }
    out
  }
}

/** Distinct word-3-shingle hashes of a text, in one generated-code
  * loop: lowercase → split(' ') → 3-gram shingle strings →
  * first-occurrence-distinct → polyhash each. Bit-identical to the
  * composed form `transform(array_distinct(shingles), polyhash)`
  * (TextFns.shingleHashes mirror in the DuckDB oracle), but without
  * the interpreted higher-order lambdas — one call per ROW instead of
  * one interpreted expression tree walk per shingle. */
case class ShingleHashes(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes() =
    if (child.dataType.isInstanceOf[StringType])
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"shingle_hashes needs a string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      ShingleHashes.hashes(input.asInstanceOf[UTF8String]).asInstanceOf[Array[Any]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  (Object[]) graft.functions.ShingleHashes.hashes($c));""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {
  /** Referenced from generated code. Uses UTF8String.toLowerCase (the
    * implementation behind SQL `lower`) so the result matches the
    * composed expression byte-for-byte; split(' ', -1) keeps empty
    * tokens exactly like SQL `split`. */
  def hashes(text: UTF8String): Array[java.lang.Long] = {
    val toks = text.toLowerCase.toString.split(" ", -1)
    if (toks.length < 3) return new Array[java.lang.Long](0)
    // distinct on the shingle STRING (not its hash), first occurrence
    // first — mirrors array_distinct over the shingle array
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i + 2 < toks.length) {
      seen.add(toks(i) + " " + toks(i + 1) + " " + toks(i + 2))
      i += 1
    }
    val out = new Array[java.lang.Long](seen.size())
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = PolyHash.hash(it.next()); j += 1 }
    out
  }
}

/** 60-bit SimHash signature of a text in one generated-code pass:
  * lowercase → split(' ') keeping empties (token MULTIPLICITY counts,
  * unlike shingles) → per-token 60-bit hash (polyhash low 30 bits,
  * Lehmer step `(h*48271) mod (2^31-1)` high 30 bits) → per-bit
  * majority vote. Bit-identical to the composed
  * `aggregate(sequence(0,59), ...)` form (TextFns.simhash — proven in
  * LlmSpec), but the composed form re-walks the interpreted token
  * array 60 times per document; this is one tight loop per row. */
case class SimHashText(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes() =
    if (child.dataType.isInstanceOf[StringType])
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"simhash_text needs a string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    SimHashText.sig(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SimHashText.sig($c);")

  override protected def withNewChildInternal(newChild: Expression): SimHashText =
    copy(child = newChild)
}

object SimHashText {
  /** Signature width; graft.text.TextFns.SimHashBits mirrors this. */
  val Bits = 60
  /** Referenced from generated code. */
  def sig(text: UTF8String): Long = {
    val toks = text.toLowerCase.toString.split(" ", -1)
    val counts = new Array[Int](Bits)
    var i = 0
    while (i < toks.length) {
      val h = PolyHash.hash(toks(i))
      val w = h | ((((h * 48271L) % 2147483647L) & 0x3FFFFFFFL) << 30)
      var j = 0
      while (j < Bits) {
        counts(j) += (((w >>> j) & 1L).toInt << 1) - 1
        j += 1
      }
      i += 1
    }
    var sim = 0L
    var j = 0
    while (j < Bits) {
      if (counts(j) > 0) sim |= 1L << j
      j += 1
    }
    sim
  }
}

/** Count of common elements between two SORTED long arrays (merge
  * intersection, distinct semantics like array_intersect: each common
  * value counted once). The verify stage of the set-similarity joins
  * scores hundreds of thousands of candidate pairs; array_intersect
  * builds a hash set per row, this runs an allocation-free merge loop
  * in generated code. */
case class SortedOverlap(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes() = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"sorted_overlap needs two array<bigint>, got $t")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedOverlap.count(a.asInstanceOf[ArrayData].toLongArray(),
      b.asInstanceOf[ArrayData].toLongArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.SortedOverlap.count($a.toLongArray(), $b.toLongArray());")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedOverlap =
    copy(left = l, right = r)
}

object SortedOverlap {
  /** Referenced from generated code. Inputs must be ascending-sorted;
    * duplicates within one input are counted once (set semantics). */
  def count(a: Array[Long], b: Array[Long]): Int = {
    var i = 0; var j = 0; var c = 0
    while (i < a.length && j < b.length) {
      val x = a(i); val y = b(j)
      if (x == y) {
        c += 1
        // skip duplicate runs so each common VALUE counts once
        while (i < a.length && a(i) == x) i += 1
        while (j < b.length && b(j) == y) j += 1
      } else if (x < y) i += 1
      else j += 1
    }
    c
  }
}

/** Rare-first PPJoin prefix cut in one compiled pass:
  * `graft_prefix_cut(ranked, n)` over an array<struct<dfreq:bigint,
  * h:bigint>> sorts by (dfreq, h) ascending and returns the first
  * min(n, size) `h` values — exactly
  * `transform(slice(array_sort(ranked), 1, n), r -> r.h)`
  * (array_sort's default struct comparator is field-by-field
  * ascending; no null fields occur on this path). The composed form
  * pays one interpreted lambda call PER COMPARISON of the per-doc
  * sort — O(tokens·log tokens) interpreted ops per document on the
  * dedup hot path; this is one JIT-compiled dual-key sort per row. */
case class PrefixCut(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes() = (left.dataType, right.dataType) match {
    case (ArrayType(StructType(Array(a, b)), _), IntegerType)
        if a.dataType == LongType && b.dataType == LongType =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"prefix_cut needs (array<struct<bigint,bigint>>, int), got $t")
  }

  override def nullSafeEval(a: Any, n: Any): Any =
    PrefixCut.cut(a.asInstanceOf[ArrayData], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, n) =>
      s"${ev.value} = graft.functions.PrefixCut.cut($a, $n);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): PrefixCut =
    copy(left = l, right = r)
}

object PrefixCut {
  /** Referenced from generated code. Sorts (dfreq, h) pairs ascending
    * by dfreq then h and returns the first min(n, size) h values —
    * `slice` semantics for n past the end; n < 1 yields empty (the
    * callers' length formula keeps n ≥ 1). */
  def cut(arr: ArrayData, n: Int): GenericArrayData = {
    val m = arr.numElements()
    val dfreq = new Array[Long](m)
    val h = new Array[Long](m)
    var i = 0
    while (i < m) {
      val row = arr.getStruct(i, 2)
      dfreq(i) = row.getLong(0)
      h(i) = row.getLong(1)
      i += 1
    }
    new GenericArrayData(cut(dfreq, h, n))
  }

  /** [[cut]] over the (dfreq, h) pairs as two parallel arrays. */
  def cut(dfreq: Array[Long], h: Array[Long], n: Int): Array[Long] = {
    val m = h.length
    // index sort under the (dfreq, h) key — n is small (per-doc token
    // count), so the boxed index comparator is JIT-compiled and cheap
    val idx = new Array[Integer](m)
    var i = 0; while (i < m) { idx(i) = i; i += 1 }
    java.util.Arrays.sort(idx, new java.util.Comparator[Integer] {
      override def compare(x: Integer, y: Integer): Int = {
        val c = java.lang.Long.compare(dfreq(x), dfreq(y))
        if (c != 0) c else java.lang.Long.compare(h(x), h(y))
      }
    })
    val k = math.min(math.max(n, 0), m)
    val out = new Array[Long](k)
    i = 0; while (i < k) { out(i) = h(idx(i)); i += 1 }
    out
  }
}

/** Left-fold dot product of two numeric arrays (float or double
  * elements), accumulating in double in index order — bit-identical to
  * `aggregate(zip_with(a, b, (x,y) -> double(x)*double(y)), 0D, +)`
  * and to the DuckDB list_reduce mirror, but one generated-code loop
  * instead of interpreted lambdas per element. Null elements are not
  * supported (embedding vectors are dense). */
case class DotProduct(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = DoubleType
  private def ok(t: DataType) = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }
  override def checkInputDataTypes() =
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"dot needs array<float|double>, got ${left.dataType}, ${right.dataType}")

  private def toD(t: DataType, a: ArrayData): Array[Double] = t match {
    case ArrayType(FloatType, _) =>
      val f = a.toFloatArray(); val d = new Array[Double](f.length)
      var i = 0; while (i < f.length) { d(i) = f(i).toDouble; i += 1 }; d
    case _ => a.toDoubleArray()
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    DotProduct.dot(toD(left.dataType, a.asInstanceOf[ArrayData]),
      toD(right.dataType, b.asInstanceOf[ArrayData]))

  private def cvt(t: DataType, v: String): String = t match {
    case ArrayType(FloatType, _) =>
      s"graft.functions.DotProduct.widen($v.toFloatArray())"
    case _ => s"$v.toDoubleArray()"
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.DotProduct.dot(${cvt(left.dataType, a)}, ${cvt(right.dataType, b)});")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

object DotProduct {
  def widen(f: Array[Float]): Array[Double] = {
    val d = new Array[Double](f.length)
    var i = 0; while (i < f.length) { d(i) = f(i).toDouble; i += 1 }
    d
  }
  /** Index-order left fold — the cross-engine determinism contract.
    * Ragged inputs fail loudly: the composed zip_with form yielded NULL
    * (pair silently dropped); truncating to min(len) would instead emit
    * a bogus similarity, so a length mismatch is a data error here. */
  def dot(a: Array[Double], b: Array[Double]): Double = {
    if (a.length != b.length) throw new IllegalArgumentException(
      s"dot product over ragged vectors (${a.length} vs ${b.length} dims)")
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }
}

/** Banded random-hyperplane signatures: `nBands` longs, band `bd` =
  * fold acc*2 + signBit(projection on plane bd*rowsPerBand + j) over
  * its `rowsPerBand` planes. The deterministic plane family is
  * component(pj, i) = splitmix64(pj*1000003 + i) / 2^64 − 0.5: each
  * component an independent 64-bit avalanche hash, so the planes
  * behave like i.i.d. uniform vectors (the round-7 Weyl-progression
  * family left planes correlated — measured recall sat ~0.15 under
  * the 1−(1−sʳ)ᵇ S-curve; the hash family recovers it). Evaluated in
  * one generated-code loop. */
case class HyperplaneBands(child: Expression, nBands: Int, rowsPerBand: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes() = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"hyperplane_bands needs array<float|double>, got $t")
  }

  private def toD(a: ArrayData): Array[Double] = child.dataType match {
    case ArrayType(FloatType, _) => DotProduct.widen(a.toFloatArray())
    case _ => a.toDoubleArray()
  }

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(HyperplaneBands.sig(toD(input.asInstanceOf[ArrayData]),
      nBands, rowsPerBand).asInstanceOf[Array[Any]])

  private def cvt(v: String): String = child.dataType match {
    case ArrayType(FloatType, _) => s"graft.functions.DotProduct.widen($v.toFloatArray())"
    case _ => s"$v.toDoubleArray()"
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  (Object[]) graft.functions.HyperplaneBands.sig(${cvt(c)}, $nBands, $rowsPerBand));""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBands =
    copy(child = newChild)
}

object HyperplaneBands {
  /** splitmix64 finalizer mapped to uniform [−0.5, 0.5): Long wrap-around
    * arithmetic is 2^64-modular, identical to the unsigned reference. */
  private def planeComponent(seed: Long): Double = {
    var z = seed + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    (z >>> 11).toDouble / (1L << 53).toDouble - 0.5
  }

  def sig(emb: Array[Double], nBands: Int, rowsPerBand: Int): Array[java.lang.Long] = {
    val out = new Array[java.lang.Long](nBands)
    var bd = 0
    while (bd < nBands) {
      var acc = 0L
      var j = 0
      while (j < rowsPerBand) {
        val pj = bd * rowsPerBand + j
        var s = 0.0
        var i = 0
        while (i < emb.length) {
          s += emb(i) * planeComponent(pj * 1000003L + i)
          i += 1
        }
        acc = acc * 2 + (if (s > 0.0) 1L else 0L)
        j += 1
      }
      out(bd) = acc
      bd += 1
    }
    out
  }
}

/** Shannon entropy (bits) of a text's code-point distribution:
  * H = −Σ (c/n)·log2(c/n) over per-code-point counts — the classic
  * character-entropy quality signal (gibberish and boilerplate sit at
  * the distribution's tails). Summed in ascending code-point order so
  * the result is deterministic across runs; one generated-code loop
  * per row, no shuffle (the corpus-wide alternative — explode every
  * character and groupBy — would shuffle the whole corpus text). */
case class CharEntropy(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes() =
    if (child.dataType.isInstanceOf[StringType])
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"char_entropy needs a string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    CharEntropy.entropy(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.CharEntropy.entropy($c.toString());")

  override protected def withNewChildInternal(newChild: Expression): CharEntropy =
    copy(child = newChild)
}

object CharEntropy {
  /** Referenced from generated code. Empty text → 0.0. */
  def entropy(s: String): Double = {
    if (s.isEmpty) return 0.0
    val counts = new java.util.TreeMap[Integer, Long]()
    var i = 0
    var n = 0L
    while (i < s.length) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      counts.merge(cp, 1L, (a, b) => a + b)
      n += 1
    }
    var h = 0.0
    val it = counts.values().iterator()
    while (it.hasNext) {
      val p = it.next().toDouble / n
      h -= p * (math.log(p) / math.log(2.0))
    }
    h
  }
}

/** Morton (Z-curve) interleave of the low 31 bits of two longs into a
  * 62-bit always-positive code — the clustering key behind
  * [[graft.sources.Sources.writeZOrdered]]. Branch-free magic-mask bit
  * spreading, codegen'd into the scan projection. */
case class InterleaveBits(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes() = (left.dataType, right.dataType) match {
    case (LongType, LongType) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"interleave_bits needs two bigint, got $t")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    InterleaveBits.morton(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.InterleaveBits.morton($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): InterleaveBits =
    copy(left = l, right = r)
}

object InterleaveBits {
  /** Spread the low 31 bits of x to the even bit positions. */
  def spread(x0: Long): Long = {
    var x = x0 & 0x7fffffffL
    x = (x | (x << 16)) & 0x0000ffff0000ffffL
    x = (x | (x << 8)) & 0x00ff00ff00ff00ffL
    x = (x | (x << 4)) & 0x0f0f0f0f0f0f0f0fL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  /** Referenced from generated code. a on even bits, b on odd. */
  def morton(a: Long, b: Long): Long = spread(a) | (spread(b) << 1)
}

/** Unicode NFC normalization (UAX #15 canonical composition) — the
  * canonicalization step every corpus pipeline runs before hashing:
  * two byte-level spellings of "é" (precomposed U+00E9 vs
  * e + U+0301) must not defeat exact dedup or change token counts.
  * Wraps the JDK's `java.text.Normalizer` in generated code; the
  * DuckDB oracle mirrors with utf8proc's `nfc_normalize` — both
  * implement the same Unicode standard, and the md5-of-normalized
  * column in q_text_normalize pins byte-level agreement. */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes() =
    if (child.dataType.isInstanceOf[StringType])
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"nfc needs a string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    NfcNormalize.nfc(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.NfcNormalize.nfc($c);")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object NfcNormalize {
  /** Referenced from generated code. Fast path: NFC-quick-check via
    * Normalizer.isNormalized skips the allocation for the (dominant)
    * already-normalized case. */
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

/** Per-subspace squared-L2 distance table of a vector against a PQ
  * codebook: out[mi][cell] = ||emb[mi·ds .. mi·ds+ds) − cb[mi][cell]||²
  * with ds = len(emb) / m and m = len(cb) — one generated-code loop,
  * bit-identical to the composed
  * `transform(sequence(0,m−1), mi -> transform(cb[mi], cc -> l2sq))`
  * form (same left-fold accumulation order per distance), which
  * evaluates interpreted lambdas per element. The PQ encode/ADC path
  * runs this m·ks·ds-op kernel once per corpus vector — the dominant
  * per-row cost of the IVFPQ build. */
case class PqDists(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)
  private def okEmb(t: DataType) = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }
  private def okCb(t: DataType) = t match {
    case ArrayType(ArrayType(ArrayType(DoubleType, _), _), _) => true
    case _ => false
  }
  override def checkInputDataTypes() =
    if (okEmb(left.dataType) && okCb(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"pq_dists needs (array<float|double>, array<array<array<double>>>), " +
        s"got ${left.dataType}, ${right.dataType}")

  private def toD(a: ArrayData): Array[Double] = left.dataType match {
    case ArrayType(FloatType, _) => DotProduct.widen(a.toFloatArray())
    case _ => a.toDoubleArray()
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    PqDists.dists(toD(a.asInstanceOf[ArrayData]), b.asInstanceOf[ArrayData])

  private def cvt(v: String): String = left.dataType match {
    case ArrayType(FloatType, _) => s"graft.functions.DotProduct.widen($v.toFloatArray())"
    case _ => s"$v.toDoubleArray()"
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.PqDists.dists(${cvt(a)}, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqDists =
    copy(left = l, right = r)
}

object PqDists {
  /** Referenced from generated code. `cb` is the nested codebook
    * ArrayData: m subspaces × ks cells × ds components. */
  def dists(emb: Array[Double], cb: ArrayData): GenericArrayData = {
    val m = cb.numElements()
    val ds = emb.length / m
    val out = new Array[Any](m)
    var mi = 0
    while (mi < m) {
      val cells = cb.getArray(mi)
      val ks = cells.numElements()
      val row = new Array[Any](ks)
      var c = 0
      while (c < ks) {
        val cent = cells.getArray(c).toDoubleArray()
        var acc = 0.0
        var i = 0
        while (i < ds) {
          val d = emb(mi * ds + i) - cent(i)
          acc += d * d
          i += 1
        }
        row(c) = acc
        c += 1
      }
      out(mi) = new GenericArrayData(row)
      mi += 1
    }
    new GenericArrayData(out)
  }

  /** First index of the minimum (array_position(d, array_min(d)) − 1
    * semantics: strict `<` keeps the first occurrence). */
  def argminRow(row: Array[Double]): Int = {
    var best = row(0); var bi = 0; var i = 1
    while (i < row.length) {
      if (row(i) < best) { best = row(i); bi = i }
      i += 1
    }
    bi
  }
}

/** PQ code word of a vector against a codebook: out[mi] = argmin cell
  * of the [[PqDists]] row — `cast(array_position(dists, array_min(
  * dists)) as int) − 1` per subspace, in one generated-code loop. */
case class PqEncode(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def checkInputDataTypes() = PqDists(left, right).checkInputDataTypes()

  private def toD(a: ArrayData): Array[Double] = left.dataType match {
    case ArrayType(FloatType, _) => DotProduct.widen(a.toFloatArray())
    case _ => a.toDoubleArray()
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    PqEncode.encode(toD(a.asInstanceOf[ArrayData]), b.asInstanceOf[ArrayData])

  private def cvt(v: String): String = left.dataType match {
    case ArrayType(FloatType, _) => s"graft.functions.DotProduct.widen($v.toFloatArray())"
    case _ => s"$v.toDoubleArray()"
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.PqEncode.encode(${cvt(a)}, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqEncode =
    copy(left = l, right = r)
}

object PqEncode {
  /** Referenced from generated code. */
  def encode(emb: Array[Double], cb: ArrayData): GenericArrayData = {
    val m = cb.numElements()
    val ds = emb.length / m
    val out = new Array[Any](m)
    var mi = 0
    while (mi < m) {
      val cells = cb.getArray(mi)
      val ks = cells.numElements()
      var best = Double.MaxValue; var bi = 0
      var c = 0
      while (c < ks) {
        val cent = cells.getArray(c).toDoubleArray()
        var acc = 0.0
        var i = 0
        while (i < ds) {
          val d = emb(mi * ds + i) - cent(i)
          acc += d * d
          i += 1
        }
        if (acc < best) { best = acc; bi = c }
        c += 1
      }
      out(mi) = bi
      mi += 1
    }
    new GenericArrayData(out)
  }
}

/** Argmin cell of ONE subvector against one subspace's cell list
  * (array_position(dists, array_min(dists)) − 1 over
  * transform(cells, cc -> l2sq(sub, cc))) — the Lloyd assignment step
  * of the PQ codebook training, one generated-code loop per row. */
case class PqArgmin(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes() = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"pq_argmin needs (array<double>, array<array<double>>), got $t")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    PqArgmin.argmin(a.asInstanceOf[ArrayData].toDoubleArray(),
      b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.PqArgmin.argmin($a.toDoubleArray(), $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqArgmin =
    copy(left = l, right = r)
}

object PqArgmin {
  /** Referenced from generated code. */
  def argmin(sub: Array[Double], cells: ArrayData): Int = {
    val ks = cells.numElements()
    var best = Double.MaxValue; var bi = 0
    var c = 0
    while (c < ks) {
      val cent = cells.getArray(c).toDoubleArray()
      var acc = 0.0
      var i = 0
      while (i < sub.length) {
        val d = sub(i) - cent(i)
        acc += d * d
        i += 1
      }
      if (acc < best) { best = acc; bi = c }
      c += 1
    }
    bi
  }
}

/** Sakoe–Chiba banded DTW distance between two double arrays — the
  * O(n·band) dynamic program of [[graft.tsdb.Climate.dtwNeighbors]] in
  * one generated-code loop. Bit-identical to the composed
  * aggregate-over-sequence SQL form (the DuckDB oracle's mirror):
  * same rolling band rows with the virtual row 0 = [D(0,0)=0], same
  * 1e18 out-of-band sentinel, same per-cell
  * `cost + least(diag, up, left)` arithmetic in the same j order —
  * the composed form walks ~5 interpreted lambda trees per CELL. */
case class DtwBand(left: Expression, right: Expression, band: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes() = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"dtw_band needs two array<double>, got $t")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    DtwBand.dtw(a.asInstanceOf[ArrayData].toDoubleArray(),
      b.asInstanceOf[ArrayData].toDoubleArray(), band)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.DtwBand.dtw($a.toDoubleArray(), $b.toDoubleArray(), $band);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DtwBand =
    copy(left = l, right = r)
}

object DtwBand {
  private val Inf = 1e18
  /** Referenced from generated code. 1-based i/j mirror the SQL form;
    * `plo` is the previous band row's first j (0 = the virtual row). */
  def dtw(xa: Array[Double], xb: Array[Double], band: Int): Double = {
    val n = xa.length; val m = xb.length
    if (n == 0 || m == 0) return Inf // dense co-gridded series are never empty
    var prev = Array(0.0)
    var plo = 0
    var i = 1
    while (i <= n) {
      val lo = math.max(1, i - band)
      val hi = math.min(m, i + band)
      val cur = new Array[Double](math.max(0, hi - lo + 1))
      var leftCell = Inf // phantom D(i, lo-1): always out of band
      var j = lo
      while (j <= hi) {
        val cost = java.lang.Math.abs(xa(i - 1) - xb(j - 1))
        val diag = if (j - 1 >= plo && j - 1 <= plo + prev.length - 1)
          prev(j - 1 - plo) else Inf
        val up = if (j >= plo && j <= plo + prev.length - 1)
          prev(j - plo) else Inf
        val v = cost + math.min(diag, math.min(up, leftCell))
        cur(j - lo) = v
        leftCell = v
        j += 1
      }
      prev = cur
      plo = lo
      i += 1
    }
    prev(prev.length - 1)
  }
}

/** Asymmetric-distance lookup sum: Σ_mi dt[mi][codes[mi]] — the ADC
  * scoring kernel (`aggregate(zip_with(codes, dt, (c, row) ->
  * element_at(row, c+1)), 0D, +)`), evaluated once per (query,
  * candidate) pair in the PQ scan; one generated-code loop with the
  * same left-fold accumulation order. */
case class AdcSum(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes() = (left.dataType, right.dataType) match {
    case (ArrayType(IntegerType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"adc needs (array<int>, array<array<double>>), got $t")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    AdcSum.sum(a.asInstanceOf[ArrayData].toIntArray(), b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.AdcSum.sum($a.toIntArray(), $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): AdcSum =
    copy(left = l, right = r)
}

object AdcSum {
  /** Referenced from generated code. */
  def sum(codes: Array[Int], dt: ArrayData): Double = {
    var acc = 0.0
    var mi = 0
    while (mi < codes.length) {
      acc += dt.getArray(mi).getDouble(codes(mi))
      mi += 1
    }
    acc
  }
}

object GraftFunctions {
  private def int(e: Expression): Int = e.eval().asInstanceOf[Number].intValue()

  /** Every graft SQL function as (name, builder): the one list that
    * [[register]] and [[GraftExtensions]] both install. */
  private[functions] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_polyhash" -> (a => PolyHash(a.head)),
    "graft_minhash_sig" -> (a => MinHashSig(a.head, int(a(1)))),
    "graft_shingle_hashes" -> (a => ShingleHashes(a.head)),
    "graft_simhash_text" -> (a => SimHashText(a.head)),
    "graft_sorted_overlap" -> (a => SortedOverlap(a.head, a(1))),
    "graft_prefix_cut" -> (a => PrefixCut(a.head, a(1))),
    "graft_dot" -> (a => DotProduct(a.head, a(1))),
    "graft_char_entropy" -> (a => CharEntropy(a.head)),
    "graft_interleave_bits" -> (a => InterleaveBits(a.head, a(1))),
    "graft_hyperplane_bands" -> (a => HyperplaneBands(a.head, int(a(1)), int(a(2)))),
    "graft_cdc_chunks" -> (a => CdcChunksText(a.head, int(a(1)))),
    "graft_nfc" -> (a => NfcNormalize(a.head)),
    "graft_pq_dists" -> (a => PqDists(a.head, a(1))),
    "graft_pq_encode" -> (a => PqEncode(a.head, a(1))),
    "graft_pq_argmin" -> (a => PqArgmin(a.head, a(1))),
    "graft_adc" -> (a => AdcSum(a.head, a(1))),
    "graft_dtw_band" -> (a => DtwBand(a.head, a(1), int(a(2)))))

  /** Register the graft SQL functions on a session (idempotent), so
    * expression strings can call graft_polyhash / graft_minhash_sig /
    * graft_shingle_hashes and the rest of [[builders]]. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, b) => reg.createOrReplaceTempFunction(name, b, "built-in") }
  }
}

/** Content-defined chunk split of a text in one generated-code pass:
  * the 4-char polynomial rolling hash h(i) = (cp(i−3)·B³ + cp(i−2)·B²
  * + cp(i−1)·B + cp(i)) mod P (B=257, P=1000003; positions 1-based over
  * CODE POINTS — exactly `ascii(substring(text, k, 1))` semantics) cuts
  * after position i when h(i) ≡ 0 (mod mask) and i < len. Bit-identical
  * to the composed filter/transform SQL form the DuckDB oracle mirrors
  * — but ONE O(n) walk per row. The composed form was quadratic in
  * practice: CollapseProject inlines the O(n·substring-seek) boundary
  * filter into the chunk-extraction lambda, re-evaluating it PER CHUNK
  * (measured ~124 ms per ~300-char doc; at sf0.1 the census broadcast
  * thread blew Spark's 300 s broadcast timeout on exactly that). */
case class CdcChunksText(child: Expression, mask: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes() =
    if (child.dataType.isInstanceOf[StringType])
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"cdc_chunks needs a string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    CdcChunksText.chunks(input.asInstanceOf[UTF8String], mask)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.CdcChunksText.chunks($c, $mask);")

  override protected def withNewChildInternal(newChild: Expression): CdcChunksText =
    copy(child = newChild)
}

object CdcChunksText {
  /** Referenced from generated code. */
  def chunks(text: UTF8String, mask: Int): GenericArrayData = {
    val s = text.toString
    val cps = s.codePoints().toArray
    val n = cps.length
    if (n == 0)
      return new GenericArrayData(Array[Any](UTF8String.fromString("")))
    val B = 257L; val P = 1000003L
    val c3 = B * B * B % P; val c2 = B * B % P
    // 1-based boundary positions: cut AFTER code point i
    val bounds = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 3 // 0-based index of the window's last code point (1-based i+1 >= 4)
    while (i < n - 1) { // the composed form requires i < len (1-based)
      val h = (cps(i - 3) * c3 + cps(i - 2) * c2 + cps(i - 1) * B + cps(i)) % P
      if (h % mask == 0) bounds += (i + 1)
      i += 1
    }
    val out = new Array[Any](bounds.length + 1)
    var from = 0 // 0-based start of the current chunk
    var k = 0
    while (k < bounds.length) {
      out(k) = UTF8String.fromString(new String(cps, from, bounds(k) - from))
      from = bounds(k)
      k += 1
    }
    out(k) = UTF8String.fromString(new String(cps, from, n - from))
    new GenericArrayData(out)
  }
}
