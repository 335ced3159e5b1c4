package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.functions._

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  private val P = 1000000007L

  test("native polyhash equals the interpreted higher-order expression") {
    GraftFunctions.register(spark)
    val interp = "aggregate(transform(sequence(1, length(s)), i -> ascii(substr(s, i, 1))), " +
      s"0L, (acc, ch) -> (acc * 31 + ch) % ${P}L)"
    val df = Seq("", "a", "hello world", "the quick brown fox", "x" * 500)
      .toDF("s")
      .withColumn("native", expr("graft_polyhash(s)"))
      .withColumn("interp", expr(interp))
    assert(df.filter($"native" =!= $"interp").count() === 0)
  }

  test("polyhash matches a hand-computed fold") {
    // "ab" -> ((0*31+97)%P)*31 + 98 = 97*31+98 = 3105
    assert(PolyHash.hash("ab") === 3105L)
    assert(PolyHash.hash("") === 0L)
  }

  test("native minhash signature equals the interpreted expression") {
    GraftFunctions.register(spark)
    val interp = s"transform(sequence(0, 63), i -> " +
      s"array_min(transform(h, x -> (x * (1 + 2*i) + i * 12289) % ${P}L)))"
    val df = Seq(Seq(5L, 999999L, 123456789L), Seq(42L))
      .toDF("h")
      .withColumn("native", expr("graft_minhash_sig(h, 64)"))
      .withColumn("interp", expr(interp))
    assert(df.filter(expr("native != interp")).count() === 0)
  }

  test("empty shingle set yields an all-null signature") {
    GraftFunctions.register(spark)
    val out = Seq(Seq.empty[Long]).toDF("h")
      .select(expr("graft_minhash_sig(h, 4)")).as[Seq[Option[Long]]].collect().head
    assert(out === Seq(None, None, None, None))
  }

  test("char entropy matches hand-computed distributions") {
    // "aab": p(a)=2/3, p(b)=1/3 -> H = -(2/3)log2(2/3) - (1/3)log2(1/3)
    val expected = -(2.0 / 3) * (math.log(2.0 / 3) / math.log(2)) -
      (1.0 / 3) * (math.log(1.0 / 3) / math.log(2))
    assert(math.abs(CharEntropy.entropy("aab") - expected) < 1e-12)
    assert(CharEntropy.entropy("") === 0.0)
    assert(CharEntropy.entropy("aaaa") === 0.0) // single symbol: no surprise
    assert(CharEntropy.entropy("ab") === 1.0)   // uniform over 2 symbols: 1 bit
    // supplementary code points count as ONE symbol each
    assert(CharEntropy.entropy("😀😀") === 0.0)
    GraftFunctions.register(spark)
    val viaSql = Seq("aab").toDF("s")
      .select(expr("graft_char_entropy(s)").as("h")).head.getDouble(0)
    assert(math.abs(viaSql - expected) < 1e-12)
  }

  test("nfc normalization composes decomposed sequences, is idempotent, passes nulls") {
    import org.apache.spark.unsafe.types.UTF8String
    val decE = "e\u0301" // e + COMBINING ACUTE -- two codepoints
    val preE = "\u00e9"  // precomposed e-acute -- one codepoint
    val decO = "o\u0308" // o + COMBINING DIAERESIS
    val preO = "\u00f6"  // precomposed o-diaeresis
    assert(NfcNormalize.nfc(UTF8String.fromString(decE)).toString === preE)
    // already-NFC input takes the fast path and returns the SAME object
    val clean = UTF8String.fromString("plain ascii")
    assert(NfcNormalize.nfc(clean) eq clean)
    // composition + idempotence through the SQL surface (codegen path)
    GraftFunctions.register(spark)
    val df = Seq(decE, decO, s"Am${decE}lie ${decO}ko", preE, "abc")
      .toDF("s")
      .withColumn("n", expr("graft_nfc(s)"))
      .withColumn("nn", expr("graft_nfc(graft_nfc(s))"))
      .withColumn("len_s", length($"s"))
      .withColumn("len_n", length($"n"))
    assert(df.filter($"n" =!= $"nn").count() === 0, "NFC must be idempotent")
    val byIn = df.collect().map(r => r.getString(0) -> r).toMap
    assert(byIn(decE).getString(1) === preE)
    assert(byIn(decE).getInt(3) === 2 && byIn(decE).getInt(4) === 1)
    assert(byIn(decO).getString(1) === preO)
    assert(byIn(s"Am${decE}lie ${decO}ko").getString(1) === s"Am${preE}lie ${preO}ko")
    assert(byIn(preE).getString(1) === preE) // precomposed unchanged
    assert(byIn("abc").getString(1) === "abc")
    // null passthrough
    val nul = Seq[String](null).toDF("s").select(expr("graft_nfc(s)")).head
    assert(nul.isNullAt(0))
  }

  test("extensions class injects every graft function without error") {
    val injected = Set.newBuilder[String]
    new GraftExtensions().apply(new SparkSessionExtensions {
      override def injectFunction(f: FunctionDescription): Unit = {
        injected += f._1.funcName
        super.injectFunction(f)
      }
    })
    GraftFunctions.register(spark)
    val registered = spark.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_")).toSet
    assert(registered.nonEmpty)
    assert(injected.result() === registered)
  }

  // --- native kernels ≡ the composed higher-order forms they replace ---
  // The optimization contract: same arithmetic in the same fold order,
  // so results are BIT-identical, not approximately equal.

  private def randEmb(rng: scala.util.Random, d: Int): Seq[Double] =
    Seq.fill(d)(math.rint(rng.nextDouble() * 1000) / 100)

  test("native PQ dists/encode/adc equal the composed transform/aggregate forms") {
    GraftFunctions.register(spark)
    val rng = new scala.util.Random(42)
    val m = 4; val ks = 8; val d = 16; val ds = d / m
    // duplicate cell 3 == cell 0 in every subspace: the argmin tie-break
    // (first minimum wins) is exercised, matching array_position-of-min
    val cbCells = Seq.tabulate(m) { _ =>
      val base = Seq.fill(ks)(randEmb(rng, ds))
      base.updated(3, base.head)
    }
    val embs = Seq.fill(20)(randEmb(rng, d)) ++
      Seq(cbCells.flatMap(_.head)) // exact centroid hit → 0-distance ties
    val df = embs.toDF("embedding")
      .crossJoin(Seq(cbCells).toDF("cb"))
    val l2sq = (arr: String, cc: String) =>
      s"""aggregate(zip_with($arr, $cc,
            (a, b) -> (cast(a as double) - b) * (cast(a as double) - b)),
          cast(0.0 as double), (acc, x) -> acc + x)"""
    val subSlice = s"slice(embedding, mi * $ds + 1, $ds)"
    val distsToCells = s"transform(cb[mi], cc -> ${l2sq(subSlice, "cc")})"
    val out = df
      .withColumn("dt_native", expr("graft_pq_dists(embedding, cb)"))
      .withColumn("dt_interp", expr(
        s"transform(sequence(0, $m - 1), mi -> $distsToCells)"))
      .withColumn("codes_native", expr("graft_pq_encode(embedding, cb)"))
      .withColumn("codes_interp", expr(
        s"""transform(sequence(0, $m - 1), mi ->
              cast(array_position($distsToCells, array_min($distsToCells)) as int) - 1)"""))
      .withColumn("adc_native", expr("graft_adc(codes_native, dt_native)"))
      .withColumn("adc_interp", expr(
        """aggregate(zip_with(codes_interp, dt_interp, (c, row) -> element_at(row, c + 1)),
             cast(0.0 as double), (acc, x) -> acc + x)"""))
    assert(out.filter(expr("dt_native != dt_interp")).count() === 0)
    assert(out.filter(expr("codes_native != codes_interp")).count() === 0)
    assert(out.filter($"adc_native" =!= $"adc_interp").count() === 0)
    // cell 3 duplicates cell 0 in every subspace, so first-min-wins
    // can never emit 3 — the tie-break really is array_position's
    assert(out.filter(expr("array_contains(codes_native, 3)")).count() === 0)
  }

  test("native Lloyd argmin equals array_position(array_min(...)) incl. ties") {
    GraftFunctions.register(spark)
    val rng = new scala.util.Random(7)
    val ds = 5; val ks = 6
    val cells = {
      val base = Seq.fill(ks)(randEmb(rng, ds))
      base.updated(4, base(1)) // duplicate: tie must resolve to index 1
    }
    val subs = Seq.fill(30)(randEmb(rng, ds)) ++ Seq(cells(1))
    val l2 = """aggregate(zip_with(sub, cc, (a, b) -> (a - b) * (a - b)),
                 cast(0.0 as double), (acc, x) -> acc + x)"""
    val out = subs.toDF("sub").crossJoin(Seq(cells).toDF("cells"))
      .withColumn("native", expr("graft_pq_argmin(sub, cells)"))
      .withColumn("interp", expr(
        s"cast(array_position(transform(cells, cc -> $l2), array_min(transform(cells, cc -> $l2))) as int) - 1"))
    assert(out.filter($"native" =!= $"interp").count() === 0)
    // the planted exact duplicate picked the FIRST of the two tied cells
    assert(out.filter(expr(s"sub = cells[1]")).select("native")
      .as[Int].collect().forall(_ === 1))
  }

  test("native banded DTW equals the composed aggregate-over-sequence DP") {
    GraftFunctions.register(spark)
    val rng = new scala.util.Random(13)
    val w = 7
    // the composed form this kernel replaced in Climate.dtwNeighbors
    // (and which the DuckDB oracle still mirrors), verbatim
    val dtwExpr =
      s"""element_at(
        aggregate(
          sequence(1, size(xa)),
          array(0.0D),
          (prev, i) -> slice(
            aggregate(
              transform(
                sequence(greatest(1, i - $w), least(size(xb), i + $w)),
                j -> array(
                  abs(element_at(xa, i) - element_at(xb, j)),
                  if(j - 1 >= if(i = 1, 0, greatest(1, i - 1 - $w))
                     and j - 1 <= if(i = 1, 0, greatest(1, i - 1 - $w))
                       + size(prev) - 1,
                    element_at(prev,
                      j - if(i = 1, 0, greatest(1, i - 1 - $w))), 1e18D),
                  if(j >= if(i = 1, 0, greatest(1, i - 1 - $w))
                     and j <= if(i = 1, 0, greatest(1, i - 1 - $w))
                       + size(prev) - 1,
                    element_at(prev,
                      j - if(i = 1, 0, greatest(1, i - 1 - $w)) + 1), 1e18D))),
              array(1e18D),
              (acc, trip) -> concat(acc, array(
                element_at(trip, 1) + least(element_at(trip, 2),
                  element_at(trip, 3), element_at(acc, -1))))),
            2, least(size(xb), i + $w) - greatest(1, i - $w) + 1)),
        -1)"""
    // equal lengths (the dtwNeighbors contract: co-gridded windows),
    // including lengths ≤ band, == band+1, and ≫ band
    val cases = Seq(1, 3, 7, 8, 15, 40, 90).map { n =>
      (Seq.fill(n)(math.rint(rng.nextDouble() * 200 - 100) / 10),
       Seq.fill(n)(math.rint(rng.nextDouble() * 200 - 100) / 10))
    }
    val out = cases.toDF("xa", "xb")
      .withColumn("native", expr(s"graft_dtw_band(xa, xb, $w)"))
      .withColumn("interp", expr(dtwExpr))
    assert(out.filter($"native" =!= $"interp").count() === 0)
    // sanity: identical series → zero distance
    val self = Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0, 3.0))).toDF("xa", "xb")
      .select(expr(s"graft_dtw_band(xa, xb, $w)")).head.getDouble(0)
    assert(self === 0.0)
  }

  test("native prefix_cut equals slice(array_sort(ranked), 1, n).h") {
    GraftFunctions.register(spark)
    val rng = new scala.util.Random(7)
    // random (dfreq, h) bags with duplicate dfreqs (tie-break on h
    // must match array_sort's struct comparator), n across the full
    // range: 0, mid, == size, > size
    val cases = for (sz <- Seq(0, 1, 2, 5, 17, 120); n <- Seq(0, 1, 3, sz, sz + 4))
      yield (Seq.fill(sz)((rng.nextInt(6).toLong, rng.nextLong())), n)
    val df = cases.toDF("pairs", "n")
      .selectExpr("transform(pairs, p -> struct(p._1 AS dfreq, p._2 AS h)) AS ranked", "n")
      .withColumn("native", expr("graft_prefix_cut(ranked, n)"))
      .withColumn("interp",
        expr("transform(slice(array_sort(ranked), 1, n), r -> r.h)"))
    assert(df.filter(expr("native != interp")).count() === 0)
  }
}
