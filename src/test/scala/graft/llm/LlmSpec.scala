package graft.llm

import graft.SparkSpec
import graft.dedup.Dedup
import graft.similarity.Ann
import graft.text.TextAnalysis
import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._

class LlmSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again today", "en"),
    (1L, "the quick brown fox jumps over the lazy dog again and again tomorrow", "en"),
    (2L, "der hund und die katze und das pferd ist hier", "de"),
    (3L, "completely different words about spark catalyst tungsten execution engines", "en"),
    (4L, "the quick brown fox jumps over the lazy dog again and again today", "en") // exact dup of 0
  ).toDF("doc_id", "text", "lang")

  test("exact dedup groups identical normalized text") {
    val out = Dedup.exact(docs).orderBy("canonical_id").collect()
    assert(out.length === 4)
    assert(out.head.getAs[Long]("canonical_id") === 0L)
    assert(out.head.getAs[Long]("group_size") === 2L)
  }

  test("jaccard near-dup pairs find the planted near-duplicates and the exact dup") {
    val pairs = Dedup.jaccardPairs(docs, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L))) // one word differs
    assert(pairs.contains((0L, 4L))) // identical
    assert(pairs.contains((1L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated doc
  }

  test("windowed HLL: per-window estimates use the shared sketch and bound the error") {
    val events = graft.core.Tables.events(spark, "/root/testdata/sf0.001")
    val out = graft.analytics.EventAnalytics.windowHll(events).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val exact = r.getAs[Long]("n_exact")
      val est = r.getAs[Double]("hll_estimate")
      assert(exact > 0 && est > 0)
      // 64 registers: ~13% std error; generous deterministic bound
      assert(math.abs(est - exact) / exact <= 0.5,
        s"window ${r.get(0)} type ${r.get(1)}: $est vs $exact")
    }
    // windows partition the day: per-type exact sums over windows >= the
    // global distinct (a user active in two windows counts twice here)
    val globals = graft.analytics.EventAnalytics.hllDistinct(events)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n_exact")).toMap
    val perType = out.groupBy(_.getString(1))
      .view.mapValues(_.map(_.getAs[Long]("n_exact")).sum).toMap
    globals.foreach { case (t, g) => assert(perType(t) >= g, s"type $t") }
  }

  test("incremental dedup: the new shard probes the index, argmax match with deterministic ties") {
    // fixture: doc 0 is the only increment (doc_id % 10 == 0); doc 4 is
    // its verbatim copy (J = 1.0) and doc 1 differs by one word — the
    // best match must be 4 on score, not 1 on id order
    val out = Dedup.incrementalDedup(docs, 0.5).collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(0L))
    val r = out.head
    assert(r.getAs[Boolean]("is_dup"))
    assert(r.getAs[Long]("best_match") === 4L)
    assert(r.getAs[Double]("best_jaccard") === 1.0)
    // prefix-filtered probe equals the exhaustive screen: every
    // jaccardPairs pair touching an increment doc must be reflected
    val exhaustive = Dedup.jaccardPairs(docs, 0.5)
      .collect().map(p => (p.getLong(0), p.getLong(1)))
      .filter(p => p._1 % 10 == 0 || p._2 % 10 == 0)
    assert(exhaustive.nonEmpty)
  }

  test("url dedup collapses scheme/www/case/query/slash variants; domain stats report the mix") {
    val d = Seq(
      (0L, "HTTPS://WWW.Site1.Example.com/Page-1?utm_source=x&ref=y"),
      (1L, "https://site1.example.com/page-1/"),
      (2L, "http://site1.example.com/page-1"),
      (3L, "https://site2.example.com/other")
    ).toDF("doc_id", "url")
    val groups = Corpus.urlDedup(d).collect()
      .map(r => (r.getString(1), r.getLong(0), r.getLong(2))).toSet
    assert(groups === Set(
      ("site1.example.com/page-1", 0L, 3L),
      ("site2.example.com/other", 3L, 1L)))
    val dom = Corpus.domainStats(d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toMap
    assert(dom("site1.example.com") === ((3L, 1L, 0.666667, 0.75)))
    assert(dom("site2.example.com") === ((1L, 1L, 0.0, 0.25)))
  }

  test("text index snapshot: parquet round-trip screen equals the recomputed incremental screen") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getAs[Boolean]("is_dup"),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Double]))).toSet
    // fixture: doc 0 is the increment, doc 4 its verbatim copy — the
    // snapshot-driven screen must find it without ever shingling the
    // index at screen time
    val dir = java.nio.file.Files.createTempDirectory("graft-snap").toString
    Dedup.buildTextIndexSnapshot(docs.filter(col("doc_id") % 10 =!= 0), 0.5).save(dir)
    val loaded = Dedup.TextIndexSnapshot.load(spark, dir)
    assert(loaded.threshold === 0.5)
    val got = rows(Dedup.incrementalDedupWithSnapshot(
      docs.filter(col("doc_id") % 10 === 0), loaded))
    assert(got === Set((0L, true, Some(4L), Some(1.0))))
    // and on the real corpus: value-identical to the full recompute
    // (candidate sets differ — index-side vs full-corpus df order —
    // but both are complete and verification is exact)
    val corpus = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val dir2 = java.nio.file.Files.createTempDirectory("graft-snap2").toString
    Dedup.buildTextIndexSnapshot(corpus.filter(col("doc_id") % 10 =!= 0), 0.5).save(dir2)
    val fromSnap = rows(Dedup.incrementalDedupWithSnapshot(
      corpus.filter(col("doc_id") % 10 === 0),
      Dedup.TextIndexSnapshot.load(spark, dir2)))
    val recomputed = rows(Dedup.incrementalDedup(corpus, 0.5))
    assert(fromSnap === recomputed)
  }

  test("within-index pairs off the text snapshot equal jaccardPairs row for row") {
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val corpus = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    for (d <- Seq(corpus, docs); t <- Seq(0.5, 0.8)) {
      val snap = Dedup.buildTextIndexSnapshot(d, t)
      val direct = Dedup.jaccardPairs(d, t)
      val viaSnapshot = rows(Dedup.selfPairsFromSnapshot(snap))
      try assert(viaSnapshot === rows(direct), s"t=$t")
      finally { direct.unpersist(); snap.index.unpersist(); snap.dfreq.unpersist() }
      if (d eq docs) assert(viaSnapshot.contains((0L, 4L, 1.0)), s"t=$t")
    }
  }

  test("snapshot append: screening an appended index equals a fresh rebuild and sees the new docs") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getAs[Boolean]("is_dup"),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Double]))).toSet
    // fixture: index {1,2,3}, day-1 append doc 4 (doc 0's verbatim
    // copy), day-2 probe doc 0 — the appended index must surface the
    // J=1.0 match that only exists in the appended shard
    val base = Dedup.buildTextIndexSnapshot(
      docs.filter(col("doc_id").isin(1L, 2L, 3L)), 0.5)
    val appended = Dedup.appendToTextIndexSnapshot(
      base, docs.filter(col("doc_id") === 4L))
    val rebuilt = Dedup.buildTextIndexSnapshot(
      docs.filter(col("doc_id") % 10 =!= 0), 0.5)
    val probe = docs.filter(col("doc_id") === 0L)
    val viaAppend = rows(Dedup.incrementalDedupWithSnapshot(probe, appended))
    assert(viaAppend === rows(Dedup.incrementalDedupWithSnapshot(probe, rebuilt)))
    assert(viaAppend.exists(r => r._1 == 0L && r._2 && r._3 == Some(4L) && r._4 == Some(1.0)))
    // real corpus: the two-day cycle equals the one-shot index
    val corpus = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val cyc = Dedup.appendToTextIndexSnapshot(
      Dedup.buildTextIndexSnapshot(
        corpus.filter(col("doc_id") % 10 =!= 0 && col("doc_id") % 10 =!= 5), 0.5),
      corpus.filter(col("doc_id") % 10 === 5))
    val oneShot = Dedup.buildTextIndexSnapshot(corpus.filter(col("doc_id") % 10 =!= 0), 0.5)
    val inc = corpus.filter(col("doc_id") % 10 === 0)
    assert(rows(Dedup.incrementalDedupWithSnapshot(inc, cyc))
      === rows(Dedup.incrementalDedupWithSnapshot(inc, oneShot)))
  }

  test("embedding index snapshot: persisted-artifact screen equals the recomputed one") {
    val embs = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("graft-esnap").toString + "/snap"
    Dedup.buildEmbeddingIndexSnapshot(embs.filter(col("vec_id") % 10 =!= 0))
      .write.parquet(dir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getAs[Boolean]("is_dup"),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Double]))).toSet
    val got = rows(Dedup.embeddingIncrementalWithSnapshot(
      embs.filter(col("vec_id") % 10 === 0), spark.read.parquet(dir)))
    val want = rows(Dedup.embeddingIncremental(embs))
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("LSH embedding snapshot: artifact screen is an exact-verified subset of the exact screen; append equals rebuild") {
    val embs = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val idxSide = embs.filter(col("vec_id") % 10 =!= 0)
    val incSide = embs.filter(col("vec_id") % 10 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getAs[Boolean]("is_dup"),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Double]))).toSet
    // parquet round-trip: the loaded artifact screens identically to
    // the in-memory build
    val dir = java.nio.file.Files.createTempDirectory("graft-lshsnap").toString
    Dedup.buildEmbeddingLshSnapshot(idxSide).save(dir)
    val loaded = Dedup.EmbeddingLshSnapshot.load(spark, dir)
    assert(loaded.bands === 20 && loaded.rowsPerBand === 5)
    val got = rows(Dedup.embeddingIncrementalWithLshSnapshot(incSide, loaded))
    assert(got === rows(Dedup.embeddingIncrementalWithLshSnapshot(
      incSide, Dedup.buildEmbeddingLshSnapshot(idxSide))))
    // every flagged dup is REAL: exact verification means the flagged
    // set is a subset of the exact screen's, with identical cosines on
    // the shared detections — and recall holds the declared 0.8 floor
    val exact = rows(Dedup.embeddingIncrementalWithSnapshot(
      incSide, Dedup.buildEmbeddingIndexSnapshot(idxSide)))
    val exactByid = exact.map(r => r._1 -> r).toMap
    val flagged = got.filter(_._2)
    flagged.foreach { r =>
      assert(exactByid(r._1)._2, s"vec ${r._1} flagged by LSH but not exact")
    }
    val exactDups = exact.count(_._2)
    assert(exactDups > 0, "fixture has no dups; recall floor is vacuous")
    assert(flagged.size.toDouble / exactDups >= 0.8,
      s"LSH snapshot recall ${flagged.size}/$exactDups below the 0.8 floor")
    // where LSH found the SAME best match, the cosine must be identical
    flagged.foreach { r =>
      val e = exactByid(r._1)
      if (r._3 == e._3) assert(r._4 === e._4, s"cosine mismatch on vec ${r._1}")
    }
    // append ≡ rebuild (the hyperplane family is data-independent, so
    // the appended artifact is VALUE-identical, not merely
    // screen-equivalent): day-0 index + day-1 append vs one-shot build
    val day0 = embs.filter(col("vec_id") % 10 =!= 0 && col("vec_id") % 10 =!= 5)
    val day1 = embs.filter(col("vec_id") % 10 === 5)
    val appended = Dedup.appendToEmbeddingLshSnapshot(
      Dedup.buildEmbeddingLshSnapshot(day0), day1)
    val rebuilt = Dedup.buildEmbeddingLshSnapshot(idxSide)
    assert(appended.sigs.orderBy("id", "band").collect().toSeq
      === rebuilt.sigs.orderBy("id", "band").collect().toSeq)
    assert(rows(Dedup.embeddingIncrementalWithLshSnapshot(incSide, appended))
      === rows(Dedup.embeddingIncrementalWithLshSnapshot(incSide, rebuilt)))
  }

  test("embedding incremental screen equals a driver-side exhaustive cross-side argmax") {
    val embs = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val out = Dedup.embeddingIncremental(embs).collect()
      .map(r => r.getLong(0) -> (r.getAs[Boolean]("is_dup"),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Double]))).toMap
    // exhaustive reference from the exact pair frame
    val pairs = Dedup.embeddingPairs(embs)
      .collect().map(p => (p.getLong(0), p.getLong(1), p.getDouble(2)))
    val expected = pairs
      .filter(p => (p._1 % 10 == 0) != (p._2 % 10 == 0))
      .map(p => if (p._1 % 10 == 0) (p._1, p._2, p._3) else (p._2, p._1, p._3))
      .groupBy(_._1).map { case (inc, ms) =>
        inc -> ms.minBy(m => (-m._3, m._2)) }
    assert(out.size === embs.filter(col("vec_id") % 10 === 0).count())
    expected.foreach { case (inc, (_, idx, cos)) =>
      assert(out(inc) === ((true, Some(idx), Some(cos))), s"vec $inc") }
    out.collect { case (v, (false, m, c)) =>
      assert(m.isEmpty && c.isEmpty && !expected.contains(v), s"vec $v") }
  }

  test("jaccard verify broadcast guard: shuffled-join fallback is hash-equal to the broadcast route") {
    val corpus = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val viaBroadcast = Dedup.jaccardPairs(corpus, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // verifyBroadcastBytes = 0 forces every candidate frame over the
    // budget, so the verify must take the shuffled keyed-join path —
    // the guard the 100 TB boilerplate seam needs. Same rows, same
    // jaccard values, bit-for-bit.
    val viaShuffle = Dedup.jaccardPairs(corpus, 0.5, verifyBroadcastBytes = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaShuffle === viaBroadcast)
    assert(viaShuffle.nonEmpty)
  }

  test("containment verify broadcast guard: shuffled fallback equals the broadcast route") {
    val small = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val filler = (1 to 40).map(i => s"w$i").mkString(" ")
    val cdocs = Seq(
      (0L, small, "en"),
      (1L, s"$small $filler", "en"),
      (2L, "totally unrelated corpus text about something else entirely here", "en")
    ).toDF("doc_id", "text", "lang")
    def rows(budget: Long) = Dedup.containmentPairs(cdocs, 0.8, verifyBroadcastBytes = budget)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3),
        r.getDouble(4))).toSet
    // budget 0 forces the candidate frame over the estimate, so the
    // verify must take the shuffled keyed-join path — same rows,
    // same containment values, bit-for-bit
    val viaBroadcast = rows(64L << 20)
    val viaShuffle = rows(0L)
    assert(viaShuffle === viaBroadcast)
    assert(viaShuffle.map(p => (p._1, p._2)) === Set((0L, 1L)))
  }

  test("embedding cross pairs score ONLY increment×index dot products") {
    val embs = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val acc = spark.sparkContext.longAccumulator("scored")
    val got = Dedup.embeddingCrossPairs(embs, 0.4, 10, scored = Some(acc))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val nInc = embs.filter(col("vec_id") % 10 === 0).count()
    val nIdx = embs.count() - nInc
    // the round-8 shape scored all n·(n−1)/2 pairs and filtered after;
    // the cross-side block join computes exactly |inc|·|idx| products
    assert(acc.value === nInc * nIdx,
      s"scored ${acc.value}, cross-side share is ${nInc * nIdx}")
    // and the verified frame equals filtering the full pair frame
    val full = Dedup.embeddingPairs(embs, 0.4).collect()
      .map(p => (p.getLong(0), p.getLong(1), p.getDouble(2)))
      .filter(p => (p._1 % 10 == 0) != (p._2 % 10 == 0))
      .map(p => if (p._1 % 10 == 0) p else (p._2, p._1, p._3)).toSet
    assert(got === full)
    assert(got.nonEmpty)
  }

  test("phash banding canary: 16-bit bands keep candidate pairs near-linear at 50k images") {
    // splitmix64 models a DIVERSE image corpus (the synthetic
    // closed-form corpus repeats exactly by construction, which is
    // real dups, not collision noise). Candidate mass of the banded
    // self-join is Σ s(s−1)/2 over (band, bucket) groups — with 2¹⁶
    // buckets per band it stays ≈ 4·n²/2¹⁷ ≈ 1.5·n at 50k, where the
    // round-8 4-bit bands (16 buckets) gave ≈ n²/8 ≈ 6×10⁸.
    def splitmix(x0: Long): Long = {
      var x = x0 + 0x9e3779b97f4a7c15L
      x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
      x ^ (x >>> 31)
    }
    def candidatePairs(n: Int, bandBits: Int): Long = {
      val m = scala.collection.mutable.HashMap.empty[(Int, Long), Long]
      val mask = (1L << bandBits) - 1
      var i = 0
      while (i < n) {
        val hsh = splitmix(i.toLong)
        var b = 0
        while (b < 4) {
          val k = (b, (hsh >>> (b * bandBits)) & mask)
          m.update(k, m.getOrElse(k, 0L) + 1L); b += 1
        }
        i += 1
      }
      m.valuesIterator.map(s => s * (s - 1) / 2).sum
    }
    val at50k = candidatePairs(50000, 16)
    assert(at50k <= 4L * 50000, s"candidate pairs $at50k super-linear at 50k")
    val old4bit = candidatePairs(50000, 4)
    assert(at50k * 1000 < old4bit,
      s"16-bit bands ($at50k) must dominate the 4-bit shape ($old4bit)")
  }

  test("duplicated-span removal cuts cross-doc repeats, keeps unique docs whole") {
    val out = Dedup.dupSpans(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_words"), r.getAs[Long]("n_spans"),
          r.getAs[Long]("words_removed"), r.getAs[Double]("keep_share"))).toMap
    // doc 0 == doc 4 verbatim: every 4-gram duplicated, whole doc removed
    assert(out(0L) === ((13L, 1L, 13L, 0.0)))
    assert(out(4L) === ((13L, 1L, 13L, 0.0)))
    // doc 1 shares the 12-word prefix with doc 0: positions 0..8 dup,
    // one merged span covering words 0..11; the last word survives
    assert(out(1L)._2 === 1L)
    assert(out(1L)._3 === 12L)
    // unique docs lose nothing
    assert(out(2L) === ((10L, 0L, 0L, 1.0)))
    assert(out(3L) === ((9L, 0L, 0L, 1.0)))
  }

  test("quality classifier separates the weak-label classes deterministically") {
    val out = TextAnalysis.qualityClassifier(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("y"), r.getAs[Double]("score"), r.getAs[Boolean]("pred")))
      .toMap
    // en docs carry en-stopword mass, the de doc none: fitted scores
    // must order them; identical docs score identically
    assert(out(0L)._2 > out(2L)._2)
    assert(out(0L)._2 === out(4L)._2)
    assert(out(3L)._1 === 1.0) // weak label follows metadata
    out.values.foreach { case (_, s, _) => assert(s > 0.0 && s < 1.0) }
    // deterministic: a re-run yields bit-identical scores
    val again = TextAnalysis.qualityClassifier(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    out.foreach { case (id, (_, s, _)) => assert(again(id) === s) }
  }

  test("simhash of identical docs collides at hamming 0") {
    val pairs = Dedup.simhashPairs(docs, 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 4L)))
  }

  test("4-band simhash candidates are complete: output equals brute force at hamming <= 3") {
    import graft.text.TextFns._
    graft.functions.GraftFunctions.register(spark)
    val corpus = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val banded = Dedup.simhashPairs(corpus)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val sigs = corpus.selectExpr("doc_id",
      s"${simhash(s"transform(${tokens("text")}, t -> ${simhashTokenHash(polyHash("t"))})")} AS sim")
    val a = sigs.select($"doc_id".as("id_a"), $"sim".as("sa"))
    val b = sigs.select($"doc_id".as("id_b"), $"sim".as("sb"))
    val brute = a.crossJoin(b).filter($"id_a" < $"id_b")
      .filter(expr("bit_count(sa ^ sb) <= 3"))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(banded === brute, "pigeonhole banding must find exactly the brute-force pairs")
  }

  test("language id picks the profile with most stopword hits") {
    val out = TextAnalysis.langId(docs).select("doc_id", "predicted")
      .as[(Long, String)].collect().toMap
    assert(out(0L) === "en")
    assert(out(2L) === "de")
  }

  test("brute-force ANN ranks by cosine with deterministic ties") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f), 0),
      (2L, Array(0.0f, 1.0f), 1),
      (3L, Array(1.0f, 0.05f), 0)
    ).toDF("vec_id", "embedding", "label")
    val out = Ann.bruteTopK(vecs, k = 3, nQueries = 1)
      .orderBy("rank").select("nb_id").as[Long].collect()
    assert(out.toSeq === Seq(3L, 1L, 2L))
  }

  test("block-join embedding dedup equals exact all-pairs; LSH variant is a high-precision subset") {
    val embs = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val exact = Dedup.embeddingPairs(embs)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.size === 66) // verified against the DuckDB all-pairs oracle
    // block decomposition must be invariant to the block count: one
    // diagonal group scores everything at 1 block, against 7 and 16
    for (b <- Seq(1, 7)) {
      val otherB = Dedup.embeddingPairs(embs, nBlocks = b)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(otherB === exact, s"nBlocks $b")
    }
    val lsh = Dedup.embeddingPairsLsh(embs)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact), s"false positives: ${lsh -- exact}")
    // deterministic hyperplanes -> recall is a fixed property of the data;
    // r=5,b=20 splitmix planes measure 0.833 here (0.86/0.89 at the
    // larger SFs) — floor pinned one flipped pair below the measurement
    assert(lsh.size.toDouble / exact.size >= 0.8, s"lsh recall ${lsh.size}/${exact.size}")
  }

  test("LSH ANN: banded OR-union candidates with measurable recall vs brute force") {
    val embs = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val brute = Ann.bruteTopK(embs).select("query_id", "nb_id")
      .as[(Long, Long)].collect().toSet
    val lsh = Ann.lshTopK(embs).select("query_id", "nb_id")
      .as[(Long, Long)].collect().toSet
    // the OR-union of 20 bands x 5 planes collides true neighbors with
    // probability 1-(1-s^5)^20; deterministic splitmix hyperplanes make
    // recall a fixed property of the data (measured 0.84 here, 0.88 at
    // the sf0.01 gate — RECALL_r08.json carries the per-round value)
    val recall = (lsh & brute).size.toDouble / brute.size
    assert(recall >= 0.8, s"lsh recall $recall")
    // candidate union is genuinely sub-linear: no query re-ranks more
    // than k results, and the per-query ranks are dense from 1
    val byQ = Ann.lshTopK(embs).select("query_id", "rank")
      .as[(Long, Int)].collect().groupBy(_._1)
    byQ.foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted.toSeq === (1 to rs.size), s"ranks of $q") }
  }

  test("IVF ANN probes cells only, with measurable recall vs brute force") {
    val embs = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val brute = Ann.bruteTopK(embs).select("query_id", "nb_id")
      .as[(Long, Long)].collect().toSet
    val ivf = Ann.ivfTopK(embs).select("query_id", "nb_id")
      .as[(Long, Long)].collect().toSet
    assert(ivf.size === brute.size) // same k per query
    val recall = (ivf & brute).size.toDouble / brute.size
    // nProbe=4 of 16 cells scans ~25% of vectors; true neighbors
    // concentrate in the probed cells (measured 0.94 here, 0.92 gate)
    assert(recall >= 0.8, s"ivf recall $recall")
  }

  test("PQ ANN: codes compress to m bytes and ADC recall tracks exact L2") {
    val embs = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val k = 5; val nQ = 10
    val pq = Ann.pqTopK(embs, k = k, nQueries = nQ)
      .select("query_id", "nb_id").as[(Long, Long)].collect().toSet
    assert(pq.size === nQ * k)
    // exact L2 top-k reference, computed independently on the driver
    val vecs = embs.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toMap
    val exact = (for {
      q <- vecs.keys.filter(_ < nQ)
      qv = vecs(q)
      top = vecs.toSeq.filter(_._1 != q)
        .map { case (id, v) =>
          (id, qv.zip(v).map { case (a, b) => (a - b).toDouble * (a - b) }.sum) }
        .sortBy { case (id, d) => (d, id) }.take(k)
      (id, _) <- top
    } yield (q, id)).toSet
    val recall = (pq & exact).size.toDouble / exact.size
    // 16 subspaces x 16 Lloyd-trained centroids + refine=12 exact
    // re-rank: measured 0.94 here and at the sf0.01 gate; the trained
    // codebook is deterministic (id-ordered fold means), so the floor
    // is a fixed property of the data
    assert(recall >= 0.8, s"pq recall $recall")
  }

  test("PQ codebook training is deterministic: two runs return identical rows") {
    val embs = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def run() = Ann.pqTopK(embs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq.sorted
    // the Lloyd loop folds each cell's members in vec_id order, so the
    // trained codebook — and therefore the ADC ordering — replays
    // bit-for-bit; this is what makes the recall floors non-flaky
    assert(run() === run())
  }

  test("IVFPQ composes cell routing with ADC: subset of flat-PQ work, sane recall") {
    val embs = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val k = 5; val nQ = 10
    val ivfpq = Ann.ivfpqTopK(embs, k = k, nQueries = nQ)
      .select("query_id", "nb_id").as[(Long, Long)].collect().toSet
    // every query still gets k results (probed cells hold enough cands)
    assert(ivfpq.size === nQ * k)
    // routing can only RESTRICT the candidate set: any (query, nb) the
    // composition returns whose cell was probed must also be reachable
    // by flat PQ's shortlist arithmetic — sanity-check recall vs the
    // exact-L2 reference instead of exact set equality
    val vecs = embs.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toMap
    val exact = (for {
      q <- vecs.keys.filter(_ < nQ)
      qv = vecs(q)
      top = vecs.toSeq.filter(_._1 != q)
        .map { case (id, v) =>
          (id, qv.zip(v).map { case (a, b) => (a - b).toDouble * (a - b) }.sum) }
        .sortBy { case (id, d) => (d, id) }.take(k)
      (id, _) <- top
    } yield (q, id)).toSet
    val recall = (ivfpq & exact).size.toDouble / exact.size
    // nProbe=4/16 cells AND 16x16 trained-ADC quantization stack their
    // losses yet measure 0.92 here and at the gate; deterministic for
    // fixed data, floor documents it
    assert(recall >= 0.8, s"ivfpq recall $recall")
  }

  test("persisted IVFPQ index: the artifact serve path equals the inline composition") {
    val embs = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("graft-pqidx").toString
    Ann.buildIvfPqIndex(embs).save(dir)
    val loaded = Ann.PqIndex.load(spark, dir)
    assert(loaded.m === 16 && loaded.ks === 16)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    // training, encoding and assignment are deterministic, so serving
    // from the parquet artifact replays the inline pipeline exactly
    val got = rows(Ann.ivfpqTopKWithIndex(embs, loaded))
    assert(got === rows(Ann.ivfpqTopK(embs)))
    assert(got.nonEmpty)
    // the artifact really is the compressed corpus: one (cell, codes)
    // row per vector, codes m bytes wide
    assert(loaded.codes.count() === embs.count())
    assert(loaded.codes.selectExpr("max(size(codes))").head().getInt(0) === 16)
  }

  test("incremental components: star-compressed labels + new pairs equal the full recompute") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getAs[Long]("comp"), r.getAs[Long]("comp_size"))).toSet
    // fixture: day-0 components {1,2} (a pair) and {3} (singleton);
    // day-1 pair (4,5) is new-new, pair (6,2) BRIDGES into an existing
    // component — the star edge must carry 2's old membership so
    // {1,2,6} unifies under min-id 1
    val ids0 = Seq(1L, 2L, 3L).toDF("doc_id")
    val pairs0 = Seq((1L, 2L)).toDF("id_a", "id_b")
    val labels0 = Dedup.componentsFromPairs(ids0, pairs0)
    val newIds = Seq(4L, 5L, 6L).toDF("doc_id")
    val newPairs = Seq((4L, 5L), (6L, 2L)).toDF("id_a", "id_b")
    val merged = rows(Dedup.mergeComponents(labels0, newIds, newPairs))
    val full = rows(Dedup.componentsFromPairs(
      ids0.unionByName(newIds), pairs0.unionByName(newPairs)))
    assert(merged === full)
    assert(merged.contains((6L, 1L, 3L)), "bridge doc must join the OLD component under min-id")
    assert(merged.contains((3L, 3L, 1L)), "old singleton must survive the merge")
    // real corpus: the registered composition (snapshot cross pairs +
    // within-increment pairs over day-0 labels) equals the one-shot
    // batch components over the union — the oracle's exact claim
    val corpus = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val idxSide = corpus.filter(col("doc_id") % 10 =!= 0)
    val inc = Dedup.incrementalComponents(corpus.filter(col("doc_id") % 10 === 0),
      Dedup.components(idxSide, 0.5), Dedup.buildTextIndexSnapshot(idxSide, 0.5))
    assert(rows(inc) === rows(Dedup.components(corpus, 0.5)))
  }

  test("PQ index append: frozen-codebook encode equals rebuild; serve finds appended-only dups") {
    import spark.implicits._
    def vecs(ids: Seq[Long]): org.apache.spark.sql.DataFrame = ids.toDF("vec_id")
      .select(col("vec_id"), expr("transform(sequence(0, 31), j -> " +
        "cast(pmod(hash(vec_id, j), 1000) / 1000.0 AS float))").as("embedding"))
    val day0 = vecs(0L until 256L)
    // appended ids sit ABOVE the 4096-id train window, so a rebuild of
    // the union trains on exactly day-0's sample and uses day-0's first-
    // 16 centroids: append (frozen codebook) must equal it VALUE-wise
    val plant = vecs(Seq(0L)).select(lit(5000L).as("vec_id"), col("embedding"))
    val newV = vecs(5001L until 5050L).unionByName(plant)
    val appended = Ann.appendToIvfPqIndex(Ann.buildIvfPqIndex(day0), newV)
    val rebuilt = Ann.buildIvfPqIndex(day0.unionByName(newV))
    assert(appended.codes.orderBy("nb_id").collect().toSeq
      === rebuilt.codes.orderBy("nb_id").collect().toSeq)
    // the appended shard is live: query 0's verbatim copy lives ONLY
    // there and must come back rank 1 at L2 distance 0
    val union = day0.unionByName(newV)
    val got = Ann.ivfpqTopKWithIndex(union, appended).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got.contains((0L, 1, 5000L, 0.0)),
      s"planted appended dup not served: ${got.filter(_._1 == 0L).toSeq}")
    // the drift gauge reads ~0 extra error for an in-distribution batch
    val base = Ann.pqQuantizationError(day0, appended).head().getDouble(1)
    val batch = Ann.pqQuantizationError(newV, appended).head().getDouble(1)
    assert(batch < base * 2.0, s"in-distribution batch qerr $batch vs baseline $base")
  }

  test("multimodal metadata extracts byte length and magic prefix") {
    val out = Multimodal.metadata(docs).filter($"doc_id" === 0).collect().head
    assert(out.getAs[Int]("n_bytes") === 65)
    assert(out.getAs[String]("magic") === "74686520") // "the "
    assert(out.getAs[String]("modality") === "image")
  }

  test("multimodal resize and frame-sample plumbing: schema, fan-out, determinism") {
    val thumbs = Multimodal.resize(spark, docs, w = 4, h = 4).collect()
    assert(thumbs.map(_.doc_id).sorted.toSeq === Seq(0L, 3L)) // image modality = id % 3 == 0
    assert(thumbs.forall(t => t.thumb.length === 16 && t.width === 4 && t.height === 4))
    val frames = Multimodal.frameSample(spark, docs, everyS = 5.0).collect()
    val byDoc = frames.groupBy(_.doc_id)
    assert(byDoc.keySet === Set(2L)) // video modality = id % 3 == 2
    val f2 = byDoc(2L).sortBy(_.frame_idx)
    // duration(2) = ((2*7) % 300 + 1)/10 = 1.5s -> frames at 0s only
    assert(f2.map(_.frame_ts_s).toSeq === Seq(0.0))
    assert(f2.forall(_.frame.nonEmpty))
    val again = Multimodal.frameSample(spark, docs, everyS = 5.0).collect().sortBy(_.frame_idx)
    assert(again.map(_.frame.toSeq).toSeq === f2.map(_.frame.toSeq).toSeq)
  }

  test("multimodal feature extraction runs partition-local with stable output") {
    val feats = Multimodal.featureExtract(spark, docs).collect()
    assert(feats.length === 5)
    val f0 = feats.find(_.doc_id == 0L).get
    val f4 = feats.find(_.doc_id == 4L).get
    assert(f0.feature.toSeq === f4.feature.toSeq) // same payload -> same stub feature
    assert(f0.feature.forall(v => v >= 0f && v < 1f))
  }

  test("PPM decode: hand-built P6 round-trips exactly; malformed input fails loudly") {
    // 2x1 image, pixels R=65 G=66 B=67 | R=68 G=69 B=70 ("ABCDEF")
    val ppm = "P6\n2 1\n255\nABCDEF".getBytes("US-ASCII")
    val (w, h, px) = Multimodal.decodePpm(ppm)
    assert((w, h) === (2, 1))
    assert(px.toSeq === "ABCDEF".getBytes("US-ASCII").toSeq)
    // comment- and whitespace-tolerant header, netpbm-style
    val commented = "P6 # a comment\n# more\n 2\t1\n255\nABCDEF".getBytes("US-ASCII")
    assert(Multimodal.decodePpm(commented)._3.toSeq === px.toSeq)
    // the encoder-decoder pair agrees with the closed-form generator
    val (sw, sh, spx) = Multimodal.decodePpm(Multimodal.synthesizePpm(5L, 4, 3))
    assert((sw, sh) === (4, 3))
    (0 until 36).foreach(i => assert((spx(i).toInt & 0xff) === ((5 * 31 + i * 7) % 256)))
    // loud failures, never silent fallbacks
    intercept[IllegalArgumentException](Multimodal.decodePpm("P5\n2 1\n255\nAB".getBytes))
    intercept[IllegalArgumentException](Multimodal.decodePpm("P6\n2 1\n255\nABC".getBytes))
    intercept[IllegalArgumentException](Multimodal.decodePpm("P6\n2 1\n65535\nABCDEF".getBytes))
  }

  test("PNG decode: synthesized PNG round-trips all five filters bit-exactly; corruption fails loudly") {
    // h = 7 > 5 rows => every filter type (None/Sub/Up/Average/Paeth)
    // appears at least once; the decode must reproduce the closed-form
    // raw bytes exactly for the oracle hash to have a chance
    val (w, h) = (6, 7)
    val png = Multimodal.synthesizePng(9L, w, h)
    val (dw, dh, px) = Multimodal.decodePng(png)
    assert((dw, dh) === (w, h))
    (0 until w * h * 3).foreach(i =>
      assert((px(i).toInt & 0xff) === ((9 * 31 + i * 7) % 256).toInt, s"byte $i"))
    // a flipped IDAT byte must die on the CRC check, not half-decode
    val corrupt = png.clone()
    val idatPos = {
      // find the first IDAT chunk's data region
      var p = 8; var found = -1
      while (found < 0) {
        val len = ((corrupt(p) & 0xff) << 24) | ((corrupt(p + 1) & 0xff) << 16) |
          ((corrupt(p + 2) & 0xff) << 8) | (corrupt(p + 3) & 0xff)
        val typ = new String(corrupt, p + 4, 4, "US-ASCII")
        if (typ == "IDAT") found = p + 8 else p += 12 + len
      }
      found
    }
    corrupt(idatPos) = (corrupt(idatPos) ^ 0x55).toByte
    val e = intercept[IllegalArgumentException](Multimodal.decodePng(corrupt))
    assert(e.getMessage.contains("CRC"))
    // truncation and wrong signature fail loudly too
    intercept[IllegalArgumentException](Multimodal.decodePng(png.take(20)))
    intercept[IllegalArgumentException](Multimodal.decodePng("P6\n2 1\n255\nABCDEF".getBytes))
  }

  test("BMP decode: all four layout quadrants reproduce the closed form; corruption fails loudly") {
    // ids cover 24-bit/8-bit × bottom-up/top-down and row pads 0-3:
    // 0 = 24-bit top-down pad 0, 3 = 8-bit bottom-up pad 1,
    // 5 = 8-bit top-down pad 3, 6 = 24-bit bottom-up pad 2,
    // 12 = 24-bit bottom-up pad 3
    for (id <- Seq(0L, 3L, 5L, 6L, 12L)) {
      val (w, h, px) = Multimodal.decodeBmp(Multimodal.synthesizeBmp(id))
      assert(w === (id % 9 + 4).toInt && h === (id % 8 + 4).toInt, s"id $id dims")
      if (id % 2 == 0)
        (0 until w * h * 3).foreach(i =>
          assert((px(i) & 0xff) === ((id * 37 + i * 11) % 256).toInt, s"id $id byte $i"))
      else
        (0 until w * h).foreach { p =>
          val j = ((id * 37 + p * 11) % 64).toInt
          assert((px(3 * p) & 0xff) === ((id * 3 + j * 7) % 256).toInt, s"id $id px $p R")
          assert((px(3 * p + 1) & 0xff) === ((id * 5 + j * 11) % 256).toInt, s"id $id px $p G")
          assert((px(3 * p + 2) & 0xff) === ((id * 7 + j * 13) % 256).toInt, s"id $id px $p B")
        }
    }
    // loud failures, never silent fallbacks
    val good = Multimodal.synthesizeBmp(6L)
    intercept[IllegalArgumentException](Multimodal.decodeBmp(good.take(53))) // short header
    intercept[IllegalArgumentException](Multimodal.decodeBmp(good.dropRight(1))) // size field mismatch
    val badMagic = good.clone(); badMagic(0) = 'X'.toByte
    intercept[IllegalArgumentException](Multimodal.decodeBmp(badMagic))
    val rle = good.clone(); rle(30) = 1 // BI_RLE8 — unsupported, must refuse
    intercept[IllegalArgumentException](Multimodal.decodeBmp(rle))
    val bpp16 = good.clone(); bpp16(28) = 16
    intercept[IllegalArgumentException](Multimodal.decodeBmp(bpp16))
    // featureExtract routes BMP payloads by magic to the real decoder
    val feat = Multimodal.mediaFeature(good)
    assert(feat(6) === 1f && feat(7) === 0f)
    assert(feat(0) === 10 / 4096f && feat(1) === 10 / 4096f) // id 6: 10x10
  }

  test("mu-law WAV decode: G.711 anchors, closed-form agreement, fact cross-check, odd pad") {
    // canonical compander anchors (Sun g711.c convention)
    assert(Multimodal.mulawToLinear(0x00.toByte) === -32124)
    assert(Multimodal.mulawToLinear(0x80.toByte) === 32124)
    assert(Multimodal.mulawToLinear(0xff.toByte) === 0)  // +0
    assert(Multimodal.mulawToLinear(0x7f.toByte) === 0)  // -0
    assert(Multimodal.mulawToLinear(0xf0.toByte) === 120) // seg 0, mant 15: 252-132
    // n = ((7·13)%240+4)·5 = 475 — odd, so the RIFF pad byte is exercised
    val wav = Multimodal.synthesizeMulawWav(7L)
    assert(wav.length % 2 === 0, "odd data chunk must carry a pad byte")
    val (rate, xs) = Multimodal.decodeMulawWav(wav)
    assert(rate === 8000 && xs.length === 475)
    xs.indices.foreach { i =>
      val b = ((7L * 131 + i * 29) % 256).toByte
      assert(xs(i) === Multimodal.mulawToLinear(b), s"sample $i")
    }
    // a fact chunk that disagrees with the data size is corrupt — loud
    val bad = wav.clone(); bad(46) = (bad(46) ^ 1).toByte // fact payload at 12+8+18+8
    val e = intercept[IllegalArgumentException](Multimodal.decodeMulawWav(bad))
    assert(e.getMessage.contains("fact"))
    // a PCM16 stream must be refused by the mu-law decoder (and vice versa)
    intercept[IllegalArgumentException](Multimodal.decodeMulawWav(Multimodal.synthesizeWav(7L)))
    intercept[IllegalArgumentException](Multimodal.decodeWav(wav))
  }

  test("TIFF decode: II and MM byte orders, gray and RGB, strip walk all reproduce the closed form") {
    // quadrants: 0 = RGB/II, 3 = gray/MM, 6 = RGB/MM, 9 = gray/II
    for (id <- Seq(0L, 3L, 6L, 9L)) {
      val (w, h, photo, nStrips, px) = Multimodal.decodeTiff(Multimodal.synthesizeTiff(id))
      assert(w === (id % 10 + 4).toInt && h === (id % 6 + 4).toInt, s"id $id dims")
      assert(photo === (if (id % 2 == 0) 2 else 1) && nStrips === (h + 2) / 3, s"id $id meta")
      if (id % 2 == 0)
        (0 until w * h * 3).foreach(i =>
          assert((px(i) & 0xff) === ((id * 41 + i * 13) % 256).toInt, s"id $id byte $i"))
      else
        (0 until w * h).foreach { p =>
          val v = ((id * 41 + p * 13) % 256).toInt
          assert((px(3 * p) & 0xff) === v && (px(3 * p + 1) & 0xff) === v &&
            (px(3 * p + 2) & 0xff) === v, s"id $id px $p")
        }
    }
    // loud failures: bad magic, unsupported compression, truncation
    val good = Multimodal.synthesizeTiff(0L) // II — entry values little-endian
    val badMagic = good.clone(); badMagic(2) = 43
    intercept[IllegalArgumentException](Multimodal.decodeTiff(badMagic))
    // Compression is the 4th IFD entry (tags ascend); its inline SHORT
    // value sits at ifd+2+12*3+8 = 54
    val lzw = good.clone(); lzw(54) = 5
    intercept[IllegalArgumentException](Multimodal.decodeTiff(lzw))
    intercept[IllegalArgumentException](Multimodal.decodeTiff(good.take(60)))
    intercept[IllegalArgumentException](Multimodal.decodeTiff("not a tiff".getBytes))
    // featureExtract routes TIFF payloads by the endian-correct magic
    val feat = Multimodal.mediaFeature(good)
    assert(feat(6) === 1f && feat(7) === 0f)
    assert(feat(0) === 4 / 4096f && feat(1) === 4 / 4096f) // id 0: 4x4
  }

  test("A-law WAV decode: E.711 anchors, closed-form agreement, cross-refusal with mu-law") {
    // canonical compander anchors: no true zero, max magnitude 32256
    assert(Multimodal.alawToLinear(0x55.toByte) === -8)
    assert(Multimodal.alawToLinear(0xd5.toByte) === 8)
    assert(Multimodal.alawToLinear(0x2a.toByte) === -32256)
    assert(Multimodal.alawToLinear(0xaa.toByte) === 32256)
    // n = ((7·17)%240+4)·5 = 615 — odd, pad byte exercised
    val wav = Multimodal.synthesizeAlawWav(7L)
    assert(wav.length % 2 === 0)
    val (rate, xs) = Multimodal.decodeAlawWav(wav)
    assert(rate === 8000 && xs.length === 615)
    xs.indices.foreach { i =>
      val b = ((7L * 151 + i * 31) % 256).toByte
      assert(xs(i) === Multimodal.alawToLinear(b), s"sample $i")
    }
    // the two G.711 decoders must refuse each other's format tag
    intercept[IllegalArgumentException](Multimodal.decodeAlawWav(Multimodal.synthesizeMulawWav(7L)))
    intercept[IllegalArgumentException](Multimodal.decodeMulawWav(wav))
  }

  test("AIFF decode: 80-bit extended-float rate, big-endian samples, chunk walk") {
    // the extended-float codec round-trips the classic audio rates
    for (r <- Seq(8000L, 11025L, 22050L, 44100L, 48000L, 96000L))
      assert(Multimodal.ext80Decode(Multimodal.ext80Encode(r), 0) === r, s"rate $r")
    // a garbage exponent must fail loudly, not return a junk rate
    val junk = Multimodal.ext80Encode(11025L); junk(0) = 0x7f.toByte
    intercept[IllegalArgumentException](Multimodal.ext80Decode(junk, 0))
    val aiff = Multimodal.synthesizeAiff(7L)
    val (rate, xs) = Multimodal.decodeAiff(aiff)
    // n = ((7·19)%280+3)·7 = 952
    assert(rate === 11025 && xs.length === 952)
    xs.indices.foreach { i =>
      assert(xs(i).toInt === (((7L * 137 + i * 19) % 4001) - 2000).toInt, s"sample $i")
    }
    // a WAV must be refused, and truncation dies on the FORM size check
    intercept[IllegalArgumentException](Multimodal.decodeAiff(Multimodal.synthesizeWav(7L)))
    intercept[IllegalArgumentException](Multimodal.decodeAiff(aiff.dropRight(3)))
    // SSND/COMM disagreement is corrupt: patch numSampleFrames (COMM
    // payload starts at 12 + (8+9+1) + 8 = 38; frames at 38+2)
    val bad = aiff.clone(); bad(41) = (bad(41) ^ 1).toByte
    intercept[IllegalArgumentException](Multimodal.decodeAiff(bad))
  }

  test("ICO decode: doubled-height DIBs, BGRA palette, 32-bit-padded AND mask") {
    for (id <- Seq(0L, 3L, 6L, 9L)) {
      val icons = Multimodal.decodeIco(Multimodal.synthesizeIco(id))
      assert(icons.length === 2, s"id $id count")
      icons.zipWithIndex.foreach { case ((s, bpp, px, mask), k) =>
        assert(s === (if (k == 0) (id % 6 + 4) else (id % 4 + 3)).toInt, s"id $id icon $k size")
        assert(bpp === (if (k == 0) 24 else 8), s"id $id icon $k bpp")
        (0 until s * s).foreach { p =>
          assert(mask(p) === ((id * 29 + k * 13 + p * 7) % 5 == 0), s"id $id icon $k mask $p")
          if (k == 0)
            (0 until 3).foreach(c => assert((px(3 * p + c) & 0xff) ===
              ((id * 43 + k * 97 + (p * 3 + c) * 19) % 256).toInt, s"id $id px $p c$c"))
          else {
            val j = ((id * 43 + k * 97 + p * 19) % 64).toInt
            assert((px(3 * p) & 0xff) === ((id * 3 + j * 5) % 256).toInt, s"id $id pal $p")
            assert((px(3 * p + 2) & 0xff) === ((id * 7 + j * 9) % 256).toInt, s"id $id pal $p B")
          }
        }
      }
    }
    // loud failures: wrong type, un-doubled height, truncation
    val good = Multimodal.synthesizeIco(3L)
    val badType = good.clone(); badType(2) = 2 // cursor, not icon
    intercept[IllegalArgumentException](Multimodal.decodeIco(badType))
    // first DIB height field at entryData(6+32)+8: halve it
    val off0 = (good(6 + 12) & 0xff) | ((good(6 + 13) & 0xff) << 8)
    val flat = good.clone()
    val s0 = (3 % 6 + 4)
    flat(off0 + 8) = s0.toByte // height = s, not 2s
    intercept[IllegalArgumentException](Multimodal.decodeIco(flat))
    intercept[IllegalArgumentException](Multimodal.decodeIco(good.take(20)))
  }

  test("gzip JSONL round-trip really compresses (part files are .json.gz)") {
    val out = graft.sources.Sources.jsonlGzRoundtrip(spark, "/root/testdata/sf0.001")
    assert(out.count() > 0)
    // the round-trip writes under the scratch root, keyed by this
    // session's applicationId — directories of older runs never match
    val prefix = s"graft_jsonlgz_${spark.sparkContext.applicationId}_"
    val tmp = new java.io.File(graft.core.Scratch.root).listFiles()
      .filter(f => f.getName.startsWith(prefix)).maxBy(_.lastModified)
    val parts = tmp.listFiles().filter(_.getName.startsWith("part-"))
    assert(parts.nonEmpty && parts.forall(_.getName.endsWith(".json.gz")),
      s"expected gzip parts, got ${parts.map(_.getName).take(3).mkString(",")}")
    // and the bytes really are gzip members
    val in = new java.io.FileInputStream(parts.head)
    val two = new Array[Byte](2); in.read(two); in.close()
    assert((two(0) & 0xff) === 0x1f && (two(1) & 0xff) === 0x8b)
  }

  test("IMA ADPCM decode: independent state-machine recompute, clamps, loud fails") {
    // independent reference: same tables, functional fold over nibbles
    val step = Array(7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28,
      31, 34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
      157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544,
      598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878,
      2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
      6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289, 16818,
      18500, 20350, 22385, 24623, 27086, 29794, 32767)
    val idxAdj = Array(-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8)
    def ref(id: Long): Seq[Int] = {
      val nb = ((id * 23) % 20 + 2).toInt
      (0 until nb).flatMap { b =>
        var pred = (((id * 61 + b * 127) % 4001) - 2000).toInt
        var idx = ((id + b * 7) % 89).toInt
        pred +: (0 until 16).map { i =>
          val nib = ((id * 7 + (b * 16 + i) * 3) % 16).toInt
          val st = step(idx)
          var d = st >> 3
          if ((nib & 1) != 0) d += st >> 2
          if ((nib & 2) != 0) d += st >> 1
          if ((nib & 4) != 0) d += st
          pred = math.max(-32768, math.min(32767, if ((nib & 8) != 0) pred - d else pred + d))
          idx = math.max(0, math.min(88, idx + idxAdj(nib)))
          pred
        }
      }
    }
    for (id <- Seq(1L, 4L, 7L, 22L)) {
      val (rate, xs) = Multimodal.decodeAdpcmWav(Multimodal.synthesizeAdpcmWav(id))
      assert(rate === 8000)
      assert(xs.toSeq === ref(id), s"id $id sample stream")
    }
    // clamp torture: pred0 32000, idx 88, all nibbles 0x7 -> pinned at 32767
    val torture = {
      val out = new java.io.ByteArrayOutputStream()
      def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
      def w32(v: Int): Unit = { w16(v & 0xffff); w16((v >>> 16) & 0xffff) }
      out.write("RIFF".getBytes); w32(4 + 28 + 12 + 20); out.write("WAVE".getBytes)
      out.write("fmt ".getBytes); w32(20)
      w16(0x11); w16(1); w32(8000); w32(5647); w16(12); w16(4); w16(2); w16(17)
      out.write("fact".getBytes); w32(4); w32(17)
      out.write("data".getBytes); w32(12)
      w16(32000); out.write(88); out.write(0)
      (0 until 8).foreach(_ => out.write(0x77))
      out.toByteArray
    }
    val (_, tx) = Multimodal.decodeAdpcmWav(torture)
    assert(tx.length === 17 && tx.head === 32000 && tx.tail.forall(_ === 32767))
    // corruption fails loudly: nonzero reserved byte, step index > 88,
    // fact mismatch, and a PCM stream refused outright
    val good = Multimodal.synthesizeAdpcmWav(1L)
    val dataOff = 12 + 28 + 12 + 8 // RIFF hdr + fmt + fact + data hdr
    val rsv = good.clone(); rsv(dataOff + 3) = 1
    intercept[IllegalArgumentException](Multimodal.decodeAdpcmWav(rsv))
    val bigIdx = good.clone(); bigIdx(dataOff + 2) = 89.toByte
    intercept[IllegalArgumentException](Multimodal.decodeAdpcmWav(bigIdx))
    val badFact = good.clone(); badFact(12 + 28 + 8) = (badFact(12 + 28 + 8) ^ 1).toByte
    intercept[IllegalArgumentException](Multimodal.decodeAdpcmWav(badFact))
    intercept[IllegalArgumentException](Multimodal.decodeAdpcmWav(Multimodal.synthesizeWav(1L)))
  }

  test("WARC parse: Content-Length framing survives CRLFCRLF bodies; corruption fails loudly") {
    import graft.sources.Warc
    // even id: warcinfo + metadata + response; odd id: no metadata
    val r6 = Warc.parseWarc(Warc.synthesizeWarc(6L, "the text body here", "src0"))
    assert(r6.map(_._1) === Vector("warcinfo", "metadata", "response"))
    val r3 = Warc.parseWarc(Warc.synthesizeWarc(3L, "another text", "src1"))
    assert(r3.map(_._1) === Vector("warcinfo", "response"))
    // the response body embeds CRLFCRLF and must come back intact
    val (status, body) = Warc.parseHttp(r3.filter(_._1 == "response").head._3)
    val bodyStr = new String(body, "UTF-8")
    assert(status === 200 && bodyStr.contains("\r\n\r\n"))
    assert(bodyStr === "<html>\r\n\r\n<title>doc 3</title>another text</html>")
    // 404 arm on ids divisible by 7
    val r7 = Warc.parseWarc(Warc.synthesizeWarc(7L, "x", "s"))
    assert(Warc.parseHttp(r7.filter(_._1 == "response").head._3)._1 === 404)
    // header names are case-insensitive per spec
    val weird = ("WARC/1.0\r\nwarc-type: resource\r\ncontent-length: 2\r\n\r\nok\r\n\r\n")
      .getBytes("US-ASCII")
    assert(Warc.parseWarc(weird).head._1 === "resource")
    // loud failures: bad version, truncated payload, broken trailer
    intercept[IllegalArgumentException](
      Warc.parseWarc("WARC/0.9\r\nContent-Length: 0\r\n\r\n\r\n\r\n".getBytes))
    val good = Warc.synthesizeWarc(6L, "t", "s")
    intercept[IllegalArgumentException](Warc.parseWarc(good.dropRight(2)))
    val noTrailer = good.clone()
    noTrailer(noTrailer.length - 1) = 'X'
    intercept[IllegalArgumentException](Warc.parseWarc(noTrailer))
  }

  test("robots.txt parse: wildcard group selection, comments, longest-match interplay") {
    import graft.llm.Robots
    // the parser must pick the `*` group only — not googlebot or badbot
    val rules = Robots.parseRobots(Robots.synthesizeRobotsTxt(4))
    assert(rules === Seq(("/doc/4", "disallow"), ("/doc/47", "allow")))
    // RFC 9309 §2.2.1: consecutive User-agent lines form ONE group
    val multi = Robots.parseRobots(
      "User-agent: foo\nUser-agent: *\nDisallow: /x\n\nUser-agent: bar\nDisallow: /y\n")
    assert(multi === Seq(("/x", "disallow")))
    // comments, blank lines, unknown directives, empty Disallow all skipped
    val noisy = Robots.parseRobots(
      "# hi\nUser-agent: *\nCrawl-delay: 9\nDisallow:\nDisallow: /a # trailing\n")
    assert(noisy === Seq(("/a", "disallow")))
    // a group AFTER rules does not leak into the previous group
    val after = Robots.parseRobots(
      "User-agent: *\nDisallow: /a\nUser-agent: bot\nDisallow: /b\n")
    assert(after === Seq(("/a", "disallow")))
  }

  test("html metrics: hand-counted tags, links and text share on a crafted doc") {
    // doc 5: nl = 5 % 4 + 1 = 2 anchors; text "a b" -> body <p>a</p><p>b</p>
    val df = Seq((5L, "a b", "en", "web", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextAnalysis.htmlMetrics(df).head
    assert(r.getAs[String]("title") === "Doc 5")
    // tags: html head title /title script /script /head body p /p p /p
    //       2 anchors x (a + /a) + /body /html = 18
    assert(r.getAs[Long]("n_tags") === 18L)
    assert(r.getAs[Long]("n_links") === 2L)
    // stripped text: "Doc 5" + "var x = 1;" + "a" + "b" + "link 0" + "link 1"
    assert(r.getAs[Long]("text_len") === ("Doc 5" + "var x = 1;" + "ab"
      + "link 0" + "link 1").length.toLong)
    val share = r.getAs[Double]("text_share")
    assert(share > 0 && share < 1 &&
      math.abs(share - r.getAs[Long]("text_len").toDouble / r.getAs[Long]("html_len")) < 1e-5)
  }

  test("ZIP parse: EOCD backward scan, deflate round-trip, CRC verification") {
    import graft.sources.Zip
    val ents = Zip.parseZip(Zip.synthesizeZip(9L, "the quick brown fox " * 10, "en"))
    assert(ents.map(_._1) === Seq("doc.txt", "meta.json", "data.bin"))
    assert(ents.map(_._3) === Seq(8, 0, 0)) // deflated, stored, stored
    // the deflated entry round-trips to the exact 100-char slice
    assert(new String(ents.head._2, "UTF-8") === ("the quick brown fox " * 10).take(100))
    assert(new String(ents(1)._2, "UTF-8") === """{"id":9,"lang":"en"}""")
    // binary entry follows its closed form
    val bin = ents(2)._2
    assert(bin.length === (9 % 50 + 10))
    bin.indices.foreach(i =>
      assert((bin(i) & 0xff) === ((9 * 19 + i * 23) % 256).toInt))
    // corruption: a flipped payload byte dies on the CRC check
    val good = Zip.synthesizeZip(9L, "some text here", "de")
    val flip = good.clone()
    flip(40) = (flip(40) ^ 0x55).toByte // inside doc.txt's deflate stream
    intercept[Exception](Zip.parseZip(flip)) // CRC or inflate failure, never silent
    // truncation kills the EOCD comment-length cross-check
    intercept[IllegalArgumentException](Zip.parseZip(good.dropRight(1)))
    intercept[IllegalArgumentException](Zip.parseZip("PKPKPK".getBytes))
    // unknown compression method is refused (patch CD method field of entry 0)
    val cdOff = {
      def u32(b: Array[Byte], o: Int): Long = (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
        ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
      var i = good.length - 22
      while (u32(good, i) != 0x06054b50L) i -= 1
      u32(good, i + 16).toInt
    }
    val lzma = good.clone(); lzma(cdOff + 10) = 14 // LZMA method id
    intercept[IllegalArgumentException](Zip.parseZip(lzma))
  }

  test("sitemap round-trip: XML entity escaping and per-domain order are load-bearing") {
    import graft.sources.Sitemap
    val xml = Sitemap.buildSitemap("src7", Seq(30L, 3L, 12L))
    // wire form is escaped; ids emit in sorted order
    assert(xml.contains("?a=1&amp;b=3</loc>") && !xml.contains("?a=1&b="))
    assert(xml.indexOf("/doc/3?") < xml.indexOf("/doc/12?") &&
      xml.indexOf("/doc/12?") < xml.indexOf("/doc/30?"))
    val parsed = Sitemap.parseSitemap(xml)
    assert(parsed.map(_._1) === Seq(
      "http://src7.example.com/doc/3?a=1&b=3",
      "http://src7.example.com/doc/12?a=1&b=2",
      "http://src7.example.com/doc/30?a=1&b=0"))
    assert(parsed.map(_._2) === Seq("2024-01-04", "2024-01-13", "2024-01-03"))
    // malformed blocks fail loudly
    intercept[IllegalArgumentException](
      Sitemap.parseSitemap("<urlset><url><loc>x</loc>"))
    intercept[IllegalArgumentException](
      Sitemap.parseSitemap("<urlset><url><lastmod>2024-01-01</lastmod></url></urlset>"))
  }

  test("PDF parse: xref offsets, FlateDecode, and string escapes are load-bearing") {
    import graft.sources.Pdf
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
    val pdf = Pdf.synthesizePdf(42L, text)
    val r = Pdf.parsePdf(pdf)
    assert(r.n_objects === 6 && r.n_pages === 1)
    assert(r.media_w === 612 && r.media_h === 792)
    // the `doc (42)` line proves parens rode escaped and unescaped back
    assert(r.lines === Seq("doc (42)",
      "beta gamma delta epsilon", "zeta eta theta iota"))
    // a corrupted xref offset must fail the object-header cross-check
    val xref = new String(pdf, "ISO-8859-1").indexOf("xref")
    val bad = pdf.clone()
    bad(xref + 9 + 22 + 5) = '9' // a digit inside object 1's offset entry
    intercept[IllegalArgumentException](Pdf.parsePdf(bad))
    // truncation and non-PDF input fail loudly
    intercept[IllegalArgumentException](Pdf.parsePdf(pdf.take(100)))
    intercept[IllegalArgumentException](Pdf.parsePdf("%NOT a pdf".getBytes))
    // escape handling: octal and named escapes round-trip
    assert(Pdf.extractText("BT (a\\051b\\(c\\)d\\\\e) Tj ET") ===
      Seq("a)b(c)d\\e"))
  }

  test("EXIF parse: segment walk, nested byte orders, ASCII/RATIONAL types") {
    // id 6: MM body inside big-endian JPEG lengths; id 9: II body
    for (id <- Seq(6L, 9L, 0L, 3L)) {
      val m = Multimodal.parseExif(Multimodal.synthesizeJpegExif(id))
      assert(m.byte_order === (if (id % 4 < 2) "II" else "MM"), s"id $id order")
      assert(m.orientation === (id % 8 + 1).toInt, s"id $id orientation")
      assert(m.iso === ((id % 6) * 200 + 100).toInt, s"id $id iso")
      assert(m.focal_num === ((id % 40) * 5 + 180) && m.focal_den === 10L)
      assert(m.make === s"graftcam${id % 3}" && m.model === s"GX-${id % 100}")
      assert(m.dt === f"2024:01:${id % 28 + 1}%02d 10:${id % 60}%02d:00")
    }
    // a JPEG without APP1 fails loudly, as does a truncated segment
    val noExif = Array(0xff, 0xd8, 0xff, 0xd9).map(_.toByte)
    intercept[IllegalArgumentException](Multimodal.parseExif(noExif))
    val good = Multimodal.synthesizeJpegExif(6L)
    intercept[IllegalArgumentException](Multimodal.parseExif(good.dropRight(4)))
    // an un-NUL-terminated ASCII tag is malformed per spec
    val tiffStart = 2 + 18 + 4 + 6 // SOI + APP0 + APP1 hdr + Exif id
    val bad = good.clone()
    // Make value bytes live at tiffStart + makeOff; break the NUL by
    // extending: flip the terminator of the dt string (offset known
    // from the builder: dataOff + make + model lengths + 19)
    val makeLen = "graftcam0".length + 1
    val modelLen = "GX-6".length + 1
    val dataOff = 8 + (2 + 5 * 12 + 4) + (2 + 2 * 12 + 4)
    bad(tiffStart + dataOff + makeLen + modelLen + 19) = 'X'.toByte
    intercept[IllegalArgumentException](Multimodal.parseExif(bad))
  }

  test("TAR parse: self-referential checksum, padding walk, terminator discipline") {
    import graft.sources.Tar
    val ents = Tar.parseTar(Tar.synthesizeTar(11L, "words in the archive body here", "fr"))
    assert(ents.map(_._1) === Seq("data/doc.txt", "data/meta.cfg", "data/blob.bin"))
    assert(new String(ents.head._2, "UTF-8") === "words in the archive body here")
    assert(new String(ents(1)._2, "UTF-8") === "lang=fr\nid=11\n")
    assert(ents(2)._2.length === (11 % 60 + 5))
    // one flipped header byte dies on the checksum
    val good = Tar.synthesizeTar(11L, "t", "en")
    val flip = good.clone(); flip(265) = 'X'.toByte // uname byte
    val e = intercept[IllegalArgumentException](Tar.parseTar(flip))
    assert(e.getMessage.contains("checksum"))
    // a single trailing zero block is a truncated archive
    intercept[IllegalArgumentException](Tar.parseTar(good.dropRight(512)))
    // non-archive input dies on the magic
    intercept[IllegalArgumentException](Tar.parseTar(new Array[Byte](2048).map(_ => 'x'.toByte)))
  }

  test("cross-format raster: PNG, BMP and TIFF round-trip one raster byte-identically") {
    // direct exercise of the shared-raster encoders across parities
    for (id <- Seq(0L, 3L, 6L, 9L)) {
      val w = (id % 7 + 4).toInt; val h = (id % 5 + 4).toInt
      val raw = Array.tabulate(w * h * 3)(i => ((id * 47 + i * 29) % 256).toByte)
      val (_, _, png) = Multimodal.decodePng(Multimodal.encodePng(raw, w, h))
      assert(png.toSeq === raw.toSeq, s"id $id png")
      val (_, _, bmp) = Multimodal.decodeBmp(
        Multimodal.encodeBmp24(raw, w, h, topDown = id % 2 == 0))
      assert(bmp.toSeq === raw.toSeq, s"id $id bmp")
      val (_, _, _, _, tif) = Multimodal.decodeTiff(
        Multimodal.encodeTiff(raw, w, h, rgb = true, little = id % 2 == 1))
      assert(tif.toSeq === raw.toSeq, s"id $id tiff")
    }
    // the refactor kept the id-closed-form synthesizers byte-stable:
    // re-assert one decoded BMP and TIFF against their closed forms
    val (bw, bh, bpx) = Multimodal.decodeBmp(Multimodal.synthesizeBmp(6L))
    (0 until bw * bh * 3).foreach(i =>
      assert((bpx(i) & 0xff) === ((6 * 37 + i * 11) % 256)))
    val (tw2, th2, _, _, tpx) = Multimodal.decodeTiff(Multimodal.synthesizeTiff(6L))
    (0 until tw2 * th2 * 3).foreach(i =>
      assert((tpx(i) & 0xff) === ((6 * 41 + i * 13) % 256)))
  }

  test("featureExtract routes PNG payloads to the real decoder by signature") {
    val png = Multimodal.synthesizePng(3L, 5, 4)
    val feat = Multimodal.mediaFeature(png)
    // real-decode layout: [w/4096, h/4096, mr, mg, mb, luma, 1, 0]
    assert(feat(6) === 1f && feat(7) === 0f)
    assert(feat(0) === 5 / 4096f && feat(1) === 4 / 4096f)
    val n = 5 * 4
    val sums = new Array[Long](3)
    (0 until n * 3).foreach(i => sums(i % 3) += (3 * 31 + i * 7) % 256)
    assert(math.abs(feat(2) - sums(0) / n.toFloat / 255f) < 1e-6f)
    assert(math.abs(feat(4) - sums(2) / n.toFloat / 255f) < 1e-6f)
    // a non-image payload still takes the stub path (flagless layout)
    val stub = Multimodal.mediaFeature("just text".getBytes("US-ASCII"))
    assert(stub.forall(v => v >= 0f && v < 1f))
  }

  test("GIF LZW codec: round-trips adversarial streams (KwKwK, width growth, dict-full reset)") {
    val rng = new scala.util.Random(42)
    def rt(minCode: Int, seq: Array[Byte]): Unit = {
      val dec = Multimodal.lzwDecode(Multimodal.lzwEncode(seq, minCode), minCode, seq.length)
      assert(dec.toSeq === seq.toSeq, s"minCode $minCode, n ${seq.length}")
    }
    // constant runs hit KwKwK immediately; aabb patterns keep hitting it
    rt(2, Array.fill(200)(0.toByte))
    rt(4, Array.tabulate(240)(i => (Seq(0, 0, 1, 1)(i % 4)).toByte))
    for (mc <- Seq(2, 4, 6, 8)) {
      val n = 1 << mc
      rt(mc, Array.tabulate(300)(i => (i % n).toByte))
      rt(mc, Array.fill(500)(rng.nextInt(n).toByte))
    }
    // the synthetic closed form at several dims
    for (id <- 0L until 60L by 3L) {
      val w = (id % 12 + 4).toInt; val h = (id % 6 + 4).toInt
      rt(6, Array.tabulate(w * h)(p => ((id * 31 + p * 7) % 64).toByte))
    }
    // dictionary overflow: 12k random pixels over 4 colors crosses the
    // 4096-entry cap -> the encoder's CLEAR-and-reset path is exercised;
    // 9k over 256 colors walks the width all the way to 12 bits
    rt(2, Array.fill(12000)(rng.nextInt(4).toByte))
    rt(8, Array.fill(9000)(rng.nextInt(256).toByte))
  }

  test("GIF decode: synthesized GIF89a round-trips the closed-form palette pixels; corruption fails loudly") {
    val (w, h) = (15, 9) // 135 px: LZW data spans multiple <=32B sub-blocks
    val gif = Multimodal.synthesizeGif(9L, w, h)
    val (dw, dh, px) = Multimodal.decodeGif(gif)
    assert((dw, dh) === (w, h))
    (0 until w * h).foreach { p =>
      val j = ((9L * 31 + p * 7) % 64).toInt
      assert((px(3 * p).toInt & 0xff) === j * 37 % 256, s"r of pixel $p")
      assert((px(3 * p + 1).toInt & 0xff) === j * 59 % 256, s"g of pixel $p")
      assert((px(3 * p + 2).toInt & 0xff) === j * 83 % 256, s"b of pixel $p")
    }
    // truncation mid-image and a bogus block marker fail loudly
    intercept[IllegalArgumentException](Multimodal.decodeGif(gif.take(40)))
    val bogus = gif.clone()
    bogus(13 + 3 * 64) = 0x7f // first block after the GCT
    intercept[IllegalArgumentException](Multimodal.decodeGif(bogus))
    intercept[IllegalArgumentException](Multimodal.decodeGif("P6\n2 1\n255\nABCDEF".getBytes))
    // featureExtract routes GIF by magic onto the real-decode layout
    val feat = Multimodal.mediaFeature(gif)
    assert(feat(6) === 1f && feat(7) === 0f)
    assert(feat(0) === w / 4096f && feat(1) === h / 4096f)
    val sums = new Array[Long](3)
    (0 until w * h).foreach { p =>
      val j = ((9L * 31 + p * 7) % 64).toInt
      sums(0) += j * 37 % 256; sums(1) += j * 59 % 256; sums(2) += j * 83 % 256
    }
    assert(math.abs(feat(2) - sums(0) / (w * h).toFloat / 255f) < 1e-6f)
    assert(math.abs(feat(3) - sums(1) / (w * h).toFloat / 255f) < 1e-6f)
  }

  test("animated GIF: frame demux round-trips pixels, delays, interlace and local color tables") {
    // id 10: 4 frames — f=1,3 interlaced (h=4 exercises all four
    // passes), f=2 carries a LOCAL color table with palette shift 2
    // (decoding it through the global table would be wrong by a full
    // palette rotation)
    val id = 10L
    val w = (id % 7 + 4).toInt; val h = (id % 5 + 4).toInt
    val nf = (id % 4 + 2).toInt
    assert(nf === 4)
    val gif = Multimodal.synthesizeGifAnim(id)
    val (dw, dh, frames) = Multimodal.decodeGifFrames(gif)
    assert((dw, dh) === (w, h))
    assert(frames.size === nf)
    frames.zipWithIndex.foreach { case ((delay, px), f) =>
      assert(delay === ((id + f) % 10 + 1).toInt, s"delay of frame $f")
      val shift = if ((id + f) % 3 == 0) f else 0
      (0 until w * h).foreach { p =>
        val j = ((id * 31 + f * 101 + p * 7) % 64).toInt + shift
        assert((px(3 * p).toInt & 0xff) === j * 37 % 256, s"r of frame $f pixel $p")
        assert((px(3 * p + 2).toInt & 0xff) === j * 83 % 256, s"b of frame $f pixel $p")
      }
    }
    // the de-interlace must be a genuine permutation: frame 1's raw
    // stream order differs from raster order (row 1 content != row
    // order(1)=... content for h=4: passes give order 0,2,1,3)
    assert(Multimodal.interlaceOrder(4).toSeq === Seq(0, 2, 1, 3))
    assert(Multimodal.interlaceOrder(9).toSeq === Seq(0, 8, 4, 2, 6, 1, 3, 5, 7))
    // an animation on the single-image path must fail loudly, never
    // silently read frame 0
    intercept[IllegalArgumentException](Multimodal.decodeGif(gif))
  }

  test("GIF compositing: partial frames blit, disposal 2 restores to bg, disposal 3 to previous") {
    // independent driver-side canvas model covering the full disposal
    // set AND the GCE transparency flag ((id+f)%4==2 patch frames skip
    // their pixel at local offset (id+f)%9; opaque pixels draw mod 63)
    def model(id: Long): (Int, Int, Vector[Array[Byte]]) = {
      val w = (id % 6 + 6).toInt; val h = (id % 4 + 6).toInt
      val nf = (id % 3 + 2).toInt
      val canvas = Array.fill(3 * w * h)(0.toByte)
      var out = Vector.empty[Array[Byte]]
      (0 until nf).foreach { f =>
        val (left, top, iw, ih) =
          if (f == 0) (0, 0, w, h)
          else (((id + f) % (w - 3)).toInt, ((id + 2 * f) % (h - 3)).toInt, 3, 3)
        val disposal =
          if (f == 0) 1 else if ((id + f) % 4 == 0) 2
          else if ((id + f) % 4 == 1) 3 else 1
        val hasTrans = f >= 1 && (id + f) % 4 == 2
        val pre = canvas.clone()
        (0 until iw * ih).foreach { q =>
          if (!(hasTrans && q == ((id + f) % 9).toInt)) {
            val j = ((id * 31 + f * 101 + q * 7) % (if (hasTrans) 63 else 64)).toInt
            val cp = (top + q / iw) * w + (left + q % iw)
            canvas(3 * cp) = (j * 37 % 256).toByte
            canvas(3 * cp + 1) = (j * 59 % 256).toByte
            canvas(3 * cp + 2) = (j * 83 % 256).toByte
          }
        }
        out :+= canvas.clone()
        if (disposal == 2) (0 until iw * ih).foreach { q =>
          val cp = (top + q / iw) * w + (left + q % iw)
          canvas(3 * cp) = 0; canvas(3 * cp + 1) = 0; canvas(3 * cp + 2) = 0
        }
        else if (disposal == 3) (0 until iw * ih).foreach { q =>
          val cp = (top + q / iw) * w + (left + q % iw)
          canvas(3 * cp) = pre(3 * cp); canvas(3 * cp + 1) = pre(3 * cp + 1)
          canvas(3 * cp + 2) = pre(3 * cp + 2)
        }
      }
      (w, h, out)
    }
    // id 7: f1 disposal 2 (bg restore visible at f2); id 11: f1
    // disposal 2, f2 disposal 3, f3 TRANSPARENCY; id 13: f1
    // transparency over the frame-0 base
    Seq(7L, 11L, 13L).foreach { id =>
      val (w, h, want) = model(id)
      val (dw, dh, frames) = Multimodal.decodeGifFrames(Multimodal.synthesizeGifComposite(id))
      assert((dw, dh) === (w, h) && frames.size === want.size, s"id $id")
      frames.zip(want).zipWithIndex.foreach { case (((_, got), exp), f) =>
        assert(java.util.Arrays.equals(got, exp), s"canvas of id $id frame $f")
      }
    }
    // transparency pin (load-bearing, not vacuous): at id 13 frame 1
    // the transparent patch pixel (local offset (13+1)%9=5) must show
    // the frame-0 canvas through, NOT the transparent index's palette
    // color — an ignore-the-flag decoder paints j=63 there
    locally {
      val id = 13L
      val w = (id % 6 + 6).toInt; val h = (id % 4 + 6).toInt
      val left = ((id + 1) % (w - 3)).toInt; val top = ((id + 2) % (h - 3)).toInt
      val q = ((id + 1) % 9).toInt
      val cp = (top + q / 3) * w + (left + q % 3)
      val (_, _, frames) = Multimodal.decodeGifFrames(Multimodal.synthesizeGifComposite(id))
      val j0 = ((id * 31 + cp * 7) % 64).toInt // frame-0 pixel under the patch
      assert((frames(1)._2(3 * cp).toInt & 0xff) === j0 * 37 % 256,
        "transparent pixel must show the frame-0 canvas through")
      assert(j0 * 37 % 256 !== 63 * 37 % 256,
        "pin would be vacuous: underlying equals the transparent color")
    }
    // semantic pins on id 7: frame 2 exposes background where frame 1 drew
    val (_, _, f7) = model(7L)
    val exposed = f7(2).indices.exists(i => f7(2)(i) == 0 && f7(1)(i) != 0)
    assert(exposed, "disposal-2 restore left no visible background pixel")
    // ...and on id 11: frame 2 (disposal 3) pixels revert by frame 3 —
    // some byte equals its frame-1 value again after differing at frame 2
    val (w11, _, f11) = model(11L)
    val rect3 = {
      val left = ((11 + 3) % (w11 - 3)).toInt; val top = ((11 + 6) % (((11 % 4) + 6) - 3)).toInt
      (x: Int, y: Int) => x >= left && x <= left + 2 && y >= top && y <= top + 2
    }
    val reverted = f11(3).indices.exists { i =>
      val p = i / 3; val x = p % w11; val y = p / w11
      !rect3(x, y) && f11(2)(i) != f11(1)(i) && f11(3)(i) == f11(1)(i)
    }
    assert(reverted, "disposal-3 restore not visible at the next frame")
    // undefined disposal values (4-7) fail loudly — patch frame 1's GCE
    val bytes = Multimodal.synthesizeGifComposite(7L)
    var gce = -1; var seen = 0; var i = 0
    while (gce < 0 && i < bytes.length - 1) {
      if ((bytes(i) & 0xff) == 0x21 && (bytes(i + 1) & 0xff) == 0xf9) {
        seen += 1; if (seen == 2) gce = i
      }
      i += 1
    }
    bytes(gce + 3) = (4 << 2).toByte
    val e = intercept[IllegalArgumentException](Multimodal.decodeGifFrames(bytes))
    assert(e.getMessage.contains("disposal"))
    // truncation INSIDE an extension payload fails loudly (contractual
    // IllegalArgumentException), never ArrayIndexOutOfBounds
    val full = Multimodal.synthesizeGifComposite(7L)
    val e2 = intercept[IllegalArgumentException](
      Multimodal.decodeGifFrames(full.take(13 + 3 * 64 + 4)))
    assert(e2.getMessage.contains("truncated"))
  }

  test("JPEG decode: synthesized baseline JFIF round-trips the closed-form pixels exactly") {
    // 24x16 = 6 blocks: exercises DC differential coding across blocks
    // and both the with-AC and DC-only (EOB-immediately) paths
    val (w, h) = (24, 16)
    val did = 6L
    val (dw, dh, px) = Multimodal.decodeJpeg(Multimodal.synthesizeJpeg(did, w, h))
    assert((dw, dh) === (w, h))
    val c0 = 1.0 / math.sqrt(2.0)
    val bw = w / 8
    var checked = 0
    (0 until bw * (h / 8)).foreach { b =>
      val dc = Multimodal.jpegDcQ(did, b); val ac = Multimodal.jpegAcQ(did, b)
      val by = b / bw; val bx = b % bw
      (0 until 8).foreach { y =>
        (0 until 8).foreach { x =>
          val t1 = c0 * c0 * (dc * 16.0)
          val t2 = if (ac == 0) 0.0
            else 1.0 * c0 * (ac * 11.0) * math.cos((2 * x + 1) * math.Pi / 16)
          val want = math.max(0L, math.min(255L, math.round(0.25 * (t1 + t2) + 128 + 1e-9)))
          assert((px((by * 8 + y) * w + bx * 8 + x).toInt & 0xff) === want.toInt,
            s"pixel ($x,$y) of block $b")
          checked += 1
        }
      }
    }
    assert(checked === w * h)
  }

  test("JPEG decode: unstuffing, DC prediction over many blocks, and loud failures") {
    // a stuffed 0xFF00 spliced into the entropy padding region (just
    // before EOI) must read as a literal data byte the block loop
    // never consumes — identical pixels, no marker confusion
    val png = Multimodal.synthesizeJpeg(33L, 16, 16)
    val base = Multimodal.decodeJpeg(png)._3.toSeq
    val spliced = png.dropRight(2) ++ Array(0xff.toByte, 0x00.toByte) ++ png.takeRight(2)
    assert(Multimodal.decodeJpeg(spliced)._3.toSeq === base)
    // every image doc decodes with the DC prediction chain intact
    (0L until 30L by 3L).foreach { id =>
      val w = 8 * (id % 3 + 1).toInt; val h = 8 * (id % 2 + 1).toInt
      val (dw2, dh2, p2) = Multimodal.decodeJpeg(Multimodal.synthesizeJpeg(id, w, h))
      assert((dw2, dh2) === (w, h) && p2.length === w * h)
    }
    // loud failures: truncation, non-JPEG, unexpected marker in stream
    intercept[IllegalArgumentException](Multimodal.decodeJpeg(png.take(30)))
    intercept[IllegalArgumentException](Multimodal.decodeJpeg("P6\n1 1\n255\nABC".getBytes))
    val badMarker = png.dropRight(2) ++ Array(0xff.toByte, 0xc0.toByte) ++ png.takeRight(2)
    intercept[IllegalArgumentException](Multimodal.decodeJpeg(badMarker))
  }

  test("audio spectrum: fixed-point DFT sums match a driver-side fold of the closed form") {
    val out = Multimodal.audioSpectrum(spark, docs).collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getAs[Long]("c_sum"), r.getAs[Long]("s_sum"), r.getAs[Double]("amp"))).toMap
    // audio docs are doc_id % 3 == 1; 4 bins each
    assert(out.keys.map(_._1).toSet === docs.collect().map(_.getAs[Long]("doc_id"))
      .filter(_ % 3 == 1).toSet)
    assert(out.keys.groupBy(_._1).values.forall(_.size === 4))
    val id = out.keys.head._1
    val n = (((id * 7) % 300 + 1) * 10).toInt
    (1 to 4).foreach { k =>
      var c = 0L; var s = 0L
      (0 until n).foreach { i =>
        val smp = ((id * 131 + i * 17) % 4001 - 2000).toInt
        val ang = 2.0 * math.Pi * k * i / n
        c += smp * math.floor(math.cos(ang) * 1000000 + 0.5).toLong
        s += smp * math.floor(math.sin(ang) * 1000000 + 0.5).toLong
      }
      val (gc, gs, amp) = out((id, k))
      assert(gc === c && gs === s, s"bin $k of doc $id")
      assert(amp >= 0.0)
    }
  }

  test("audio spectrum trig quantization: every possible angle sits far from a rounding flip") {
    // the oracle parity of audioSpectrum's fixed-point c_sum/s_sum
    // assumes floor(cos(ang)·1e6 + 0.5) agrees between JVM libm and
    // DuckDB's. A flip needs cos(ang)·1e6 + 0.5 within ~3e-10 of an
    // integer (1-ulp trig divergence × 1e6 + product rounding). The
    // angle universe is CLOSED: n = ((id·7 % 300) + 1)·10 ∈
    // {10..3000 step 10}, ang = 2π·k·i/n for k ∈ 1..4, i < n — audit
    // ALL of it (≈1.8M angles), not just the gate SFs. Measured min
    // margin ≈ 3.27e-6 (n=2390, k=2, i=2330) — 4 orders of magnitude
    // of headroom; assert a floor 30× below the measurement and 300×
    // above the error scale.
    var minMargin = 1.0
    var n = 10
    while (n <= 3000) {
      var k = 1
      while (k <= 4) {
        var i = 0
        while (i < n) {
          val ang = 2.0 * math.Pi * k * i / n
          var t = 0
          while (t < 2) {
            val x = (if (t == 0) math.cos(ang) else math.sin(ang)) * 1000000 + 0.5
            val d = math.abs(x - math.rint(x))
            if (d < minMargin) minMargin = d
            t += 1
          }
          i += 1
        }
        k += 1
      }
      n += 10
    }
    assert(minMargin > 1e-7, s"quantization margin $minMargin too small for libm parity")
  }

  test("image phash: hash matches a driver-side fold; banded neighbor counts equal all-pairs") {
    val rows = Multimodal.imagePhash(spark, docs).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("phash"), r.getAs[Long]("n_near_dups"))).toMap
    // driver-side recompute of one image's average hash from the closed form
    val id = rows.keys.min
    val w = (id % 13 + 8).toInt; val h = (id % 7 + 8).toInt
    val sums = new Array[Long](64); val cnts = new Array[Long](64)
    (0 until w * h).foreach { p =>
      val x = p % w; val y = p / w
      def ch(k: Int) = (id * 31 + (p * 3 + k) * 7) % 256
      val gray = (299L * ch(0) + 587L * ch(1) + 114L * ch(2)) / 1000L
      val c = (y * 8 / h) * 8 + (x * 8 / w)
      sums(c) += gray; cnts(c) += 1
    }
    val cells = Array.tabulate(64)(c => sums(c) / cnts(c))
    val t = cells.sum / 64
    var hash = 0L
    (0 until 64).foreach(j => if (cells(j) > t) hash |= 1L << (63 - j))
    assert(rows(id)._1 === hash)
    // the banded route must equal the exhaustive all-pairs count
    val hs = rows.toSeq
    hs.foreach { case (d, (ph, n)) =>
      val exhaustive = hs.count { case (o, (oph, _)) =>
        o != d && java.lang.Long.bitCount(ph ^ oph) <= 3 }
      assert(n === exhaustive, s"neighbor count of doc $d")
    }
  }

  test("phash MIH: 1-bit probes find every planted hamming<=3 pair; output equals the banded route") {
    import spark.implicits._
    // planted frame exercising every pigeonhole case: diffs split 2|1
    // across the two 32-bit bands (found only via a flip probe), 0|3
    // (exact low band, 3 flips high), 1|0, and a hamming-4 pair that
    // must be filtered even though it collides
    val h0 = 0x123456789abcdef0L
    val planted = Seq(
      1L -> h0,
      2L -> (h0 ^ (1L << 2) ^ (1L << 40) ^ (1L << 50)), // 1 low | 2 high
      3L -> (h0 ^ (1L << 33) ^ (1L << 44) ^ (1L << 60)), // 0 low | 3 high
      4L -> (h0 ^ (1L << 7)), // 1 | 0
      5L -> (h0 ^ (1L << 1) ^ (1L << 3) ^ (1L << 35) ^ (1L << 37)) // 2|2: ham 4
    ).toDF("doc_id", "phash")
    val pairs = Multimodal.phashMihPairs(planted, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "2|1 split needs the high-band flip probe")
    assert(pairs.contains((1L, 3L)), "0|3 split needs the exact low band")
    assert(pairs.contains((1L, 4L)))
    assert(!pairs.contains((1L, 5L)), "hamming 4 must be filtered")
    // a pair CAN collide (2 vs 3 share band 0 up to one bit) yet carry
    // hamming 6 — the exact filter must drop it
    assert(!pairs.contains((2L, 3L)))
    // on the real corpus the MIH route must equal the banded one
    // (both candidate generators are complete for hamming <= 3)
    val mih = Multimodal.imagePhashMih(spark, docs).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("phash"), r.getAs[Long]("n_near_dups"))).toSet
    val banded = Multimodal.imagePhash(spark, docs).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("phash"), r.getAs[Long]("n_near_dups"))).toSet
    assert(mih === banded)
    intercept[IllegalArgumentException](Multimodal.phashMihPairs(planted, 4))
  }

  test("video scene cuts: demuxed Y-plane SADs match the closed form, cuts at the threshold") {
    val out = Multimodal.videoScenes(spark, docs).collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getAs[Long]("sum_abs_diff"), r.getAs[Double]("mad"),
          r.getAs[Boolean]("is_cut"))).toMap
    val vids = docs.collect().map(_.getAs[Long]("doc_id")).filter(_ % 3 == 2)
    assert(out.keys.map(_._1).toSet === vids.toSet)
    vids.foreach { id =>
      val w = (id % 6 + 2).toInt; val h = (id % 4 + 2).toInt
      val nf = (id % 5 + 2).toInt
      (1 until nf).foreach { f =>
        var sad = 0L
        (0 until w * h).foreach { p =>
          sad += math.abs(((id * 29 + f * 101 + p * 13) % 256)
            - ((id * 29 + (f - 1) * 101 + p * 13) % 256))
        }
        val (gs, mad, cut) = out((id, f))
        assert(gs === sad, s"SAD of frame $f, doc $id")
        assert(cut === (mad > 122.0))
      }
    }
  }

  test("featureExtract routes JPEG payloads to the real decoder by SOI signature") {
    val jpeg = Multimodal.synthesizeJpeg(3L, 8, 8)
    val feat = Multimodal.mediaFeature(jpeg)
    assert(feat(6) === 1f && feat(0) === 8 / 4096f)
    // grayscale replicated: all three channel means identical
    assert(feat(2) === feat(3) && feat(3) === feat(4))
  }

  test("cdc chunks: boundaries are content-defined — shared tails chunk identically") {
    // two docs sharing a long tail after a 1-char prefix insertion:
    // CDC re-synchronizes, so most tail chunks dedup across the docs
    val tail = (1 to 40).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (0L, tail, "en", "web", tail.length.toLong),
      (1L, "X" + tail, "en", "web", tail.length + 1L),
      (2L, "completely different content here", "en", "web", 33L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.cdcChunks(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // chunk counts are consistent: mean_chunk_len * n_chunks == n_chars
    out.values.foreach { r =>
      assert(r.getAs[Long]("n_chunks") >= 1L)
      assert(math.abs(r.getAs[Double]("mean_chunk_len") * r.getAs[Long]("n_chunks")
        - r.getAs[Long]("n_chars")) < 1e-3)
    }
    // the shifted twin shares most chunks with the original; the
    // unrelated doc shares none
    assert(out(0L).getAs[Double]("dup_chunk_share") > 0.5, out(0L).toString)
    assert(out(1L).getAs[Double]("dup_chunk_share") > 0.5, out(1L).toString)
    assert(out(2L).getAs[Double]("dup_chunk_share") === 0.0)
  }

  test("image resize: 1:1 cells pass pixels through; blocks average by hand-check") {
    val cells = Multimodal.imageResize(spark, docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("cell_x"), r.getAs[Int]("cell_y")) ->
        (r.getAs[Int]("r"), r.getAs[Int]("g"), r.getAs[Int]("b"))).toMap
    // doc 0: 4x4 source onto a 4x4 thumb -> each cell IS its source pixel
    for (y <- 0 until 4; x <- 0 until 4) {
      val p = y * 4 + x
      val exp = ((0 * 31 + (p * 3) * 7) % 256, (p * 3 + 1) * 7 % 256, (p * 3 + 2) * 7 % 256)
      assert(cells((0L, x, y)) === exp, s"doc0 cell ($x,$y)")
    }
    // doc 3: 7x7 source -> cell (0,0) covers the 2x2 block {0,1}^2
    val (_, _, px3) = Multimodal.decodePpm(Multimodal.synthesizePpm(3L, 7, 7))
    def chan(c: Int) = (for (y <- 0 to 1; x <- 0 to 1)
      yield (px3((y * 7 + x) * 3 + c) & 0xff).toLong).sum / 4
    assert(cells((3L, 0, 0)) === (chan(0).toInt, chan(1).toInt, chan(2).toInt))
    // every image doc emits exactly 16 cells
    assert(cells.keys.groupBy(_._1).forall(_._2.size == 16))
  }

  test("charclass census: hand-counted shares on a crafted string") {
    val df = Seq((0L, "Ab 12.x", "en", "web", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextAnalysis.charClasses(df).head
    // 7 chars: A b x alpha(3, 1 upper), "12" digits(2), 1 space, "." other
    assert(r.getAs[Long]("n_chars") === 7L)
    assert(r.getAs[Long]("n_alpha") === 3L && r.getAs[Long]("n_upper") === 1L)
    assert(r.getAs[Long]("n_digit") === 2L && r.getAs[Long]("n_space") === 1L)
    assert(r.getAs[Long]("n_other") === 1L)
    assert(math.abs(r.getAs[Double]("alpha_share") - 3.0 / 7) < 1e-6)
    assert(math.abs(r.getAs[Double]("other_share") - 1.0 / 7) < 1e-6)
  }

  test("feature hashing: signed bucket vector matches a brute-force recompute") {
    val texts = Seq((0L, "the cat sat on the mat", "en", "web", 22L),
      (1L, "spark spark spark", "en", "web", 17L),
      (2L, "a b c d e f g h", "en", "web", 15L))
    val df = texts.toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.featureHash(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    texts.foreach { case (id, text, _, _, _) =>
      val v = new Array[Long](64)
      var n = 0L
      text.toLowerCase.split(" ").filter(_.nonEmpty).foreach { tok =>
        val h = graft.functions.PolyHash.hash(tok)
        val sgn = if ((h / 64) % 2 == 0) 1L else -1L
        v((h % 64).toInt) += sgn
        n += 1
      }
      val r = out(id)
      assert(r.getAs[Long]("n_tokens") === n, s"doc $id n_tokens")
      assert(r.getAs[Long]("n_buckets") === v.count(_ != 0), s"doc $id n_buckets")
      assert(r.getAs[Long]("l1") === v.map(math.abs).sum, s"doc $id l1")
      assert(r.getAs[Long]("max_abs") === v.map(math.abs).max, s"doc $id max_abs")
      val l2 = math.sqrt(v.map(x => x.toDouble * x).sum)
      assert(math.abs(r.getAs[Double]("l2") - l2) < 1e-5, s"doc $id l2")
      // three identical tokens land in ONE bucket with |v| = 3
      if (id == 1L) assert(r.getAs[Long]("max_abs") === 3L)
    }
  }

  test("WAV decode: synthesized RIFF round-trips exactly; malformed input fails loudly") {
    val (rate, xs) = Multimodal.decodeWav(Multimodal.synthesizeWav(1L))
    assert(rate === 100)
    // n = ((1*7) % 300 + 1)*10 = 80 samples; closed-form values
    assert(xs.length === 80)
    (0 until 80).foreach(i => assert(xs(i).toInt === ((1 * 131 + i * 17) % 4001 - 2000)))
    // hand-built minimal WAV (no LIST chunk): one sample = -2 (0xFE 0xFF)
    val mini = {
      val out = new java.io.ByteArrayOutputStream()
      def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
      def w32(v: Int): Unit = { w16(v & 0xffff); w16((v >>> 16) & 0xffff) }
      out.write("RIFF".getBytes); w32(4 + 24 + 10)
      out.write("WAVE".getBytes)
      out.write("fmt ".getBytes); w32(16); w16(1); w16(1); w32(8000); w32(16000); w16(2); w16(16)
      out.write("data".getBytes); w32(2); w16(0xfffe)
      out.toByteArray
    }
    val (r2, x2) = Multimodal.decodeWav(mini)
    assert(r2 === 8000 && x2.toSeq === Seq((-2).toShort))
    // loud failures: bad magic, size-field lie, stereo layout
    intercept[IllegalArgumentException](Multimodal.decodeWav("RIFX".getBytes ++ mini.drop(4)))
    intercept[IllegalArgumentException](Multimodal.decodeWav(mini.dropRight(1)))
    val stereo = mini.clone(); stereo(22) = 2 // numChannels = 2
    intercept[IllegalArgumentException](Multimodal.decodeWav(stereo))
  }

  test("y4m demux: synthesized stream round-trips exactly; malformed input fails loudly") {
    // doc 2: W=4 H=4 F25:1, 4 frames (2%6+2, 2%4+2, 2%5+2)
    val (w, h, fn, fd, ys) = Multimodal.decodeY4m(Multimodal.synthesizeY4m(2L))
    assert((w, h, fn, fd, ys.length) === (4, 4, 25, 1, 4))
    // Y plane byte p of frame f = (2*29 + f*101 + p*13) % 256
    for (f <- 0 until 4; p <- 0 until 16)
      assert((ys(f)(p).toInt & 0xff) === ((2 * 29 + f * 101 + p * 13) % 256))
    // extra X tokens and FRAME params are tolerated
    val tolerant = ("YUV4MPEG2 W2 H1 F30:1 Ip A1:1 C444 Xgraft\n" +
      "FRAME Ipdirect\n" + "ABCDEF").getBytes("US-ASCII")
    val (tw, th, tfn, _, tys) = Multimodal.decodeY4m(tolerant)
    assert((tw, th, tfn) === (2, 1, 30) && tys.head.toSeq === "AB".getBytes.toSeq)
    // loud failures: wrong magic, C420 layout, truncated frame
    intercept[IllegalArgumentException](
      Multimodal.decodeY4m("YUV4MPEG9 W2 H1 F25:1 C444\nFRAME\nABCDEF".getBytes))
    intercept[IllegalArgumentException](
      Multimodal.decodeY4m("YUV4MPEG2 W2 H1 F25:1 C420\nFRAME\nABC".getBytes))
    intercept[IllegalArgumentException](
      Multimodal.decodeY4m("YUV4MPEG2 W2 H1 F25:1 C444\nFRAME\nABCD".getBytes))
  }

  test("audio/video decode queries emit per-doc stats for their modality only") {
    val audio = Multimodal.audioDecode(spark, docs).collect()
    assert(audio.map(_.getAs[Long]("doc_id")).toSet === Set(1L, 4L)) // id % 3 == 1
    val a1 = audio.find(_.getAs[Long]("doc_id") == 1L).get
    assert(a1.getAs[Long]("n_samples") === 80L)
    assert(a1.getAs[Double]("duration_s") === 0.8)
    assert(a1.getAs[Int]("peak_abs") <= 2000)
    // doc 1's 80 samples are (131 + 17i) − 2000, all negative → no crossings
    assert(a1.getAs[Long]("zero_crossings") === 0L)
    // doc 4's 290 samples cross zero at i≈87 and wrap at i=205 → ≥ 2
    val a4 = audio.find(_.getAs[Long]("doc_id") == 4L).get
    assert(a4.getAs[Long]("zero_crossings") >= 2L)
    val video = Multimodal.videoDecode(spark, docs).collect()
    assert(video.map(_.getAs[Long]("doc_id")).toSet === Set(2L)) // id % 3 == 2
    val v2 = video.find(_.getAs[Long]("doc_id") == 2L).get
    assert(v2.getAs[Int]("width") === 4 && v2.getAs[Int]("height") === 4)
    assert(v2.getAs[Long]("n_frames") === 4L && v2.getAs[Double]("fps") === 25.0)
    assert(v2.getAs[Double]("mean_y") > 0.0 && v2.getAs[Double]("frame_mad") > 0.0)
  }

  test("featureExtract decodes a PPM payload for real; non-PPM stays the stub") {
    // a doc whose TEXT is a valid ascii-safe P6 image: the utf-8
    // payload bytes are exactly the PPM bytes
    val ppmDocs = Seq(
      (0L, "P6\n2 1\n255\nABCDEF", "en", "web", 17L),
      (1L, "plain text, not an image", "en", "web", 24L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val feats = Multimodal.featureExtract(spark, ppmDocs).collect()
      .map(f => f.doc_id -> f.feature).toMap
    val real = feats(0L)
    // [w/4096, h/4096, meanR/255, meanG/255, meanB/255, luma, 1, 0]
    assert(real(0) === 2f / 4096f && real(1) === 1f / 4096f)
    assert(math.abs(real(2) - (65 + 68) / 2f / 255f) < 1e-6)
    assert(math.abs(real(3) - (66 + 69) / 2f / 255f) < 1e-6)
    assert(math.abs(real(4) - (67 + 70) / 2f / 255f) < 1e-6)
    assert(real(6) === 1f) // the "really decoded" flag bit
    assert(feats(1L)(6) !== 1f) // stub path has no flag bit semantics
  }

  test("repetition signals flag the repetitive doc, not the diverse one") {
    val rep = Seq(
      (0L, "spam spam spam spam spam eggs", "en"),
      (1L, "one two three four five six", "en")
    ).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.repetition(rep).orderBy("doc_id").collect()
    val spammy = out(0); val diverse = out(1)
    assert(spammy.getAs[Long]("n_tokens") === 6L)
    assert(spammy.getAs[Double]("top_word_share") > 0.8) // 5/6
    assert(spammy.getAs[Double]("dup_word_share") > 0.6) // 1 - 2/6
    assert(spammy.getAs[Double]("top_bigram_share") === 0.8) // 4/5 'spam spam'
    assert(diverse.getAs[Double]("top_word_share") < 0.2)
    assert(diverse.getAs[Double]("dup_word_share") === 0.0)
  }

  test("tfidf ranks a doc's distinctive term above corpus-common terms") {
    val out = TextAnalysis.tfidfTop(docs, k = 3)
      .filter($"doc_id" === 3L).orderBy("rank").collect()
    // doc 3's terms are unique to it (df = 1) — its top term must NOT
    // be one of the corpus-wide 'the/quick/brown...' vocabulary
    assert(out.nonEmpty && out.forall(_.getAs[Long]("df") === 1L))
    // ranks are dense, deterministic and capped at k
    assert(out.map(_.getAs[Int]("rank")).toSeq === (1 to out.length))
  }

  test("contamination flags exactly the train docs sharing a shingle with the eval slice") {
    // evalMod=2: evens are the benchmark, odds the training corpus.
    // doc 1 (near-dup of eval doc 0) must be flagged; doc 3 shares no
    // 3-shingle with any even doc and must not appear.
    val out = Corpus.contamination(docs, evalMod = 2)
      .select("doc_id").as[Long].collect().toSet
    assert(out.contains(1L))
    assert(!out.contains(3L))
  }

  test("corpus sample keeps all unrated languages and roughly the en rate") {
    val corpus = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val kept = Corpus.sample(corpus, rates = Map("en" -> 500)).persist()
    try {
      val nonEn = corpus.filter($"lang" =!= "en").count()
      assert(kept.filter($"lang" =!= "en").count() === nonEn)
      val en = corpus.filter($"lang" === "en").count()
      val enKept = kept.filter($"lang" === "en").count()
      assert(enKept > 0 && enKept < en) // downsampled, not emptied
      // decision is per-doc stable: resampling yields the identical set
      val again = Corpus.sample(corpus, rates = Map("en" -> 500))
      assert(kept.except(again).count() === 0 && again.except(kept).count() === 0)
    } finally kept.unpersist()
  }

  test("quality-stratified sample keeps exactly the top half per language") {
    val corpus = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val kept = Corpus.sampleByQuality(corpus, frac = 0.5).persist()
    try {
      val perLang = corpus.groupBy("lang").count().as[(String, Long)].collect().toMap
      val keptLang = kept.groupBy("lang").count().as[(String, Long)].collect().toMap
      perLang.foreach { case (l, n) =>
        assert(keptLang.getOrElse(l, 0L) === (n + 1) / 2, s"lang $l")
      }
      // every kept doc's score >= every dropped doc's score, per language
      val dropped = corpus.join(kept.select("doc_id"), Seq("doc_id"), "left_anti")
      val minKept = kept.groupBy("lang").agg(min($"quality_score").as("mn"))
      val maxDrop = graft.text.TextAnalysis.quality(dropped)
        .join(corpus.select("doc_id", "lang"), Seq("doc_id"))
        .groupBy("lang").agg(max($"quality_score").as("mx"))
      val bad = minKept.join(maxDrop, Seq("lang")).filter($"mx" > $"mn").count()
      assert(bad === 0L, "a dropped doc outscored a kept doc")
    } finally kept.unpersist()
  }

  test("corpus split is deterministic, content-free and covers every doc") {
    val corpus = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = Corpus.splitCounts(corpus).persist()
    try {
      assert(out.agg(sum($"n")).head.getLong(0) === corpus.count())
      // per-language shares sum to ~1
      val shares = out.groupBy("lang").agg(sum($"share").as("s")).collect()
      assert(shares.forall(r => math.abs(r.getAs[Double]("s") - 1.0) < 1e-4))
      // stable across runs (pure function of doc_id)
      val again = Corpus.splitCounts(corpus)
      assert(out.unionByName(again).distinct().count() === out.count())
    } finally out.unpersist()
  }

  test("corpus clean composes langid, quality and dedup into auditable keep flags") {
    val documents = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = Corpus.clean(documents).persist()
    try {
      // every input doc is present exactly once, kept or not
      assert(out.count() === documents.count())
      assert(out.filter(col("keep")).count() > 0)
      // kept docs satisfy every gate
      val kept = out.filter(col("keep"))
      assert(kept.filter(col("lang") =!= "en").count() === 0)
      assert(kept.filter(col("quality_score") < 0.2).count() === 0)
      assert(kept.filter(col("doc_id") =!= col("canonical_id")).count() === 0)
      // dropped docs carry a reason; kept carry none
      assert(out.filter(!col("keep") && col("drop_reason").isNull).count() === 0)
      assert(out.filter(col("keep") && col("drop_reason").isNotNull).count() === 0)
      // exactly one canonical per near-dup component among docs passing
      // the other gates is kept — duplicates are dropped AS duplicates
      assert(out.filter(col("drop_reason") === "duplicate")
        .filter(col("doc_id") === col("canonical_id")).count() === 0)
      // re-canonicalization: every cluster with >= 1 gate-passing member
      // keeps exactly one representative (no all-dropped clusters), and
      // gate-failed docs never reached dedup (NULL canonical_id)
      assert(out.filter(col("keep")).count() ===
        out.filter(col("canonical_id").isNotNull)
          .select("canonical_id").distinct().count())
      assert(out.filter(col("drop_reason").isin("lang", "quality") &&
        col("canonical_id").isNotNull).count() === 0)
    } finally out.unpersist()
  }

  test("duplicated-ngram share is 1 for exact dups, 0 for unique docs") {
    val out = TextAnalysis.dupNgrams(docs)
      .select("doc_id", "dup_share").as[(Long, Double)].collect().toMap
    assert(out(0L) === 1.0) // identical twin doc 4 duplicates every shingle
    assert(out(4L) === 1.0)
    assert(out(3L) === 0.0) // unique wording
    assert(out(2L) === 0.0)
    assert(out(1L) > 0.0 && out(1L) < 1.0) // near-dup: most but not all shingles shared
  }

  test("sq8 quantization error stays within half a quantization step") {
    import org.apache.spark.sql.functions._
    val embs = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rep = graft.similarity.Quantize.sq8Report(embs)
    // widest per-dimension range bounds the step: |err| <= step/2 + eps
    val widest = embs.select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("pos")
      .agg((max(col("v").cast("double")) - min(col("v").cast("double"))).as("rng"))
      .agg(max(col("rng"))).head.getDouble(0)
    val halfStep = widest / 255.0 / 2.0
    assert(rep.count() === embs.count())
    val worst = rep.agg(max(col("max_abs_err"))).head.getDouble(0)
    assert(worst <= halfStep + 1e-6, s"worst=$worst halfStep=$halfStep")
    assert(rep.filter(col("rmse") > col("max_abs_err") + lit(1e-9)).count() === 0)
  }

  test("sequence packing bins are contiguous per language with conserved tokens") {
    val five = "a b c d e" // 5 whitespace tokens
    val pdocs = (0L until 6L).map(i => (i, five, "en")).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.packSequences(pdocs, budget = 10)
      .orderBy("bin").collect()
    // starts at offsets 0,5,10,...,25 -> bins 0,0,1,1,2,2
    assert(out.map(r => (r.getAs[Long]("bin"), r.getAs[Long]("n_docs"))).toSeq
      === Seq((0L, 2L), (1L, 2L), (2L, 2L)))
    assert(out.map(_.getAs[Long]("bin_tokens")).sum === 30L)
    assert(out.head.getAs[Long]("first_doc") === 0L)
    assert(out.last.getAs[Long]("last_doc") === 5L)
  }

  test("corpus stats quartiles use linear interpolation over token counts") {
    val sdocs = Seq(
      (0L, "a", "en"), (1L, "a b", "en"), (2L, "a b c", "en"), (3L, "a b c d", "en")
    ).toDF("doc_id", "text", "lang")
    val r = TextAnalysis.corpusStats(sdocs).collect().head
    assert(r.getAs[Long]("n_docs") === 4L)
    assert(r.getAs[Double]("p25_tokens") === 1.75)
    assert(r.getAs[Double]("p50_tokens") === 2.5)
    assert(r.getAs[Double]("p75_tokens") === 3.25)
    assert(r.getAs[Int]("min_tokens") === 1)
    assert(r.getAs[Int]("max_tokens") === 4)
  }

  test("label propagation equals a union-find model on seeded random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    (1 to 3).foreach { _ =>
      val n = 30 + rnd.nextInt(40)
      val edges = (1 to n).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => if (a < b) (a, b) else (b, a) }.distinct
      // union-find reference model
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
      val got = graft.dedup.Dedup.componentsFromPairs(
          (0L until n.toLong).toDF("doc_id"), edges.toDF("id_a", "id_b"))
        .select("doc_id", "comp").as[(Long, Long)].collect().toMap
      assert(got === expected)
    }
  }

  test("dsir weights rank target-language docs above the off-target doc") {
    val out = Corpus.dsirWeights(docs).orderBy("doc_id")
      .select("doc_id", "dsir_logweight").as[(Long, Double)].collect().toMap
    assert(out.size === 5)
    val enMean = Seq(0L, 1L, 3L, 4L).map(out).sum / 4
    // the German doc's hashed features are rare under the en target
    // distribution → its importance log-weight must sit below the
    // english docs' average
    assert(out(2L) < enMean)
  }

  test("corpus shuffle ordinals are the global (skey, doc_id) ranks, shards round-robin") {
    val out = Corpus.shuffle(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("skey"),
        r.getAs[Long]("ord"), r.getAs[Long]("shard")))
    assert(out.map(_._3).sorted.toSeq === (1L to 5L)) // contiguous permutation
    val bySpec = out.sortBy(t => (t._2, t._1)).zipWithIndex
    bySpec.foreach { case ((_, _, ord, shard), i) =>
      assert(ord === i + 1L, "ordinal must equal the global (skey, doc_id) rank")
      assert(shard === i % 8L)
    }
  }

  test("corpus shuffle ordinals equal the model ranks on a 400-doc random id set") {
    // exercises the prefix-sum-across-range-partitions arithmetic with
    // many partitions, not the 5-doc happy path
    val P = 1000000007L
    val rnd = new scala.util.Random(7)
    val ids = Seq.fill(400)(math.abs(rnd.nextLong()) % 1000000L).distinct
    val df = ids.map(i => (i, s"doc $i", "en")).toDF("doc_id", "text", "lang")
    val got = Corpus.shuffle(df).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("skey"), r.getAs[Long]("ord"), r.getAs[Long]("shard"))).toMap
    val model = ids.map(i => (i, ((i % P) * 2654435761L) % P))
      .sortBy { case (id, k) => (k, id) }.zipWithIndex
      .map { case ((id, k), i) => id -> ((k, i + 1L, i % 8L)) }.toMap
    assert(got === model)
  }

  test("bigram logprob scores corpus-common bigrams as more probable") {
    val out = TextAnalysis.bigramLogprob(docs).orderBy("doc_id")
      .select("doc_id", "mean_neglogprob2").as[(Long, Double)].collect().toMap
    // doc 3's bigrams are singletons over singleton contexts —
    // p(w2|w1) = 0.75·1/1 + ε, a deterministic continuation — while
    // docs 0/1/4 share ambiguous contexts ("the" continues 3 ways),
    // so the all-unique doc is the LESS surprising one under a
    // conditional bigram model (unlike under the unigram model)
    assert(out(3L) < out(0L))
    // exact duplicates score identically
    assert(out(0L) === out(4L))
    assert(out.values.forall(_ > 0.0))
  }

  test("pii scan counts and redacts emails, ips and phones; clean rows are untouched") {
    import spark.implicits._
    val rows = Seq(
      (0L, "mail alice.smith@corp.example.org now"),
      (1L, "from 192.168.1.17 and 10.0.0.1 twice"),
      (2L, "call +49-301-1234 or +1-555-0042"),
      (3L, "nothing sensitive here"),
      (4L, "bob@ex.io at 8.8.8.8 dial +1-555-9999")
    ).toDF("id", "t")
    val out = TextAnalysis.piiScan(rows, "id", "t").collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Int]("n_emails"), r.getAs[Int]("n_ipv4"),
          r.getAs[Int]("n_phones"), r.getAs[Int]("redacted_len")))).toMap
    assert(out(0L) === ((1, 0, 0, "mail <EMAIL> now".length)))
    assert(out(1L) === ((0, 2, 0, "from <IP> and <IP> twice".length)))
    assert(out(2L) === ((0, 0, 2, "call <PHONE> or <PHONE>".length)))
    assert(out(3L) === ((0, 0, 0, "nothing sensitive here".length)))
    assert(out(4L) === ((1, 1, 1, "<EMAIL> at <IP> dial <PHONE>".length)))
  }

  test("chunks cover every doc exactly: offsets stride, lengths sum with overlap") {
    import spark.implicits._
    val out = TextAnalysis.chunks(docs, width = 20, stride = 15)
      .select("doc_id", "chunk_idx", "chunk_start", "chunk_len")
      .as[(Long, Long, Int, Int)].collect().groupBy(_._1)
    val lens = docs.select("doc_id", "text").as[(Long, String)].collect().toMap
      .view.mapValues(_.length).toMap
    for ((id, cs) <- out) {
      val sorted = cs.sortBy(_._3)
      // starts are 1, 16, 31, … and idx tracks them
      assert(sorted.zipWithIndex.forall { case ((_, idx, st, _), i) =>
        idx == i && st == 1 + i * 15 })
      // every chunk is full width except the last; the last ends at doc end
      assert(sorted.init.forall(_._4 == 20))
      assert(sorted.last._3 + sorted.last._4 - 1 === lens(id))
      // full coverage: no char past the first stride is missed
      assert(sorted.last._3 <= lens(id))
    }
  }

  test("source mix weights equalize token mass and cap the sampling rate at 1") {
    import spark.implicits._
    val d = Seq(
      (0L, "a b c d e f g h", "big"), (1L, "a b c d e f g h", "big"),
      (2L, "a b c d e f g h", "big"), (3L, "x y", "small")
    ).toDF("doc_id", "text", "source")
    val out = Corpus.sourceMix(d).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Double]("weight"),
          r.getAs[Double]("sample_rate")))).toMap
    // 24 + 2 = 26 tokens, uniform target 13 per source
    assert(out("big")._1 === 24L)
    assert(out("small")._1 === 2L)
    assert(math.abs(out("big")._2 - 26.0 / (2 * 24)) < 1e-6)
    assert(out("big")._3 === out("big")._2, "downsampled source keeps weight as rate")
    assert(math.abs(out("small")._2 - 26.0 / (2 * 2)) < 1e-6)
    assert(out("small")._3 === 1.0, "upsampled source caps the one-pass rate at 1")
  }

  test("vocab coverage ranks by frequency with monotone cumulative share") {
    import spark.implicits._
    val d = Seq(
      (0L, "the the the cat sat"), (1L, "the cat ran"), (2L, "dog ran far")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.vocabCoverage(d, k = 4)
      .orderBy("rank")
      .select("rank", "tok", "n", "share", "cum_share")
      .as[(Int, String, Long, Double, Double)].collect()
    assert(out.head._2 === "the" && out.head._3 === 4L) // 4 of 11 tokens
    assert(math.abs(out.head._4 - 4.0 / 11) < 1e-5)
    // cat(2) and ran(2) tie -> lexicographic
    assert(out(1)._2 === "cat" && out(2)._2 === "ran")
    assert(out.sliding(2).forall(p => p(0)._5 < p(1)._5 + 1e-12),
      "cumulative share must be monotone")
    assert(out.last._5 <= 1.0 + 1e-9)
  }

  test("cross-source dup matrix attributes the planted pair to its unordered source cell") {
    import spark.implicits._
    val d = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again today", "crawl_a"),
      (1L, "the quick brown fox jumps over the lazy dog again and again tomorrow", "crawl_b"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today", "crawl_b"),
      (3L, "completely different words about spark catalyst tungsten execution engines", "crawl_a")
    ).toDF("doc_id", "text", "source")
    val out = Corpus.crossSourceDup(d).collect()
      .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) ->
        r.getAs[Long]("n_pairs")).toMap
    // pairs: (0,1) a-b, (0,2) a-b, (1,2) b-b — cells are unordered
    assert(out(("crawl_a", "crawl_b")) === 2L)
    assert(out(("crawl_b", "crawl_b")) === 1L)
    assert(!out.contains(("crawl_b", "crawl_a")), "cells must be canonicalized unordered")
  }

  test("jsonl round-trip checksums cover the whole corpus and are reproducible") {
    val a = graft.sources.Sources.jsonlRoundtrip(spark, "/root/testdata/sf0.001")
      .orderBy("source").collect()
    val n = graft.core.Tables.documents(spark, "/root/testdata/sf0.001").count()
    assert(a.map(_.getAs[Long]("n_docs")).sum === n, "no row may be lost in the round trip")
    val b = graft.sources.Sources.jsonlRoundtrip(spark, "/root/testdata/sf0.001")
      .orderBy("source").collect()
    assert(a.toSeq === b.toSeq, "re-running the round trip must reproduce every checksum")
  }

  test("pca power iteration yields a centered, discriminating projection") {
    import spark.implicits._
    val out = graft.similarity.Pca.powerProjection(
        graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001"))
      .select("vec_id", "proj").as[(Long, Double)].collect()
    assert(out.length > 0)
    val mean = out.map(_._2).sum / out.length
    assert(math.abs(mean) < 1e-3, "projections of centered data must average ~0")
    val distinct = out.map(_._2).distinct.length
    assert(distinct > out.length / 2, "projection must separate the vectors, not collapse them")
  }

  test("ccnet buckets tercile each language with rarer-token docs toward the tail") {
    val out = TextAnalysis.ccnetBuckets(docs).collect()
    assert(out.length === docs.count())
    // per language the bucket sizes differ by at most one (ntile contract)
    out.groupBy(_.getAs[String]("lang")).foreach { case (lang, rows) =>
      val sizes = rows.groupBy(_.getAs[String]("bucket")).map(_._2.length)
      assert(sizes.max - sizes.min <= 1, s"$lang tercile sizes $sizes")
    }
    // within a language, every head score <= every tail score
    out.groupBy(_.getAs[String]("lang")).foreach { case (_, rows) =>
      val head = rows.filter(_.getAs[String]("bucket") == "head")
        .map(_.getAs[Double]("mean_neglogprob"))
      val tail = rows.filter(_.getAs[String]("bucket") == "tail")
        .map(_.getAs[Double]("mean_neglogprob"))
      if (head.nonEmpty && tail.nonEmpty) assert(head.max <= tail.min)
    }
  }

  test("approx ccnet buckets agree with exact terciles off the cutoff values") {
    val dir = "/root/testdata/sf0.001"
    val corpus = graft.core.Tables.documents(spark, dir)
    val exact = TextAnalysis.ccnetBuckets(corpus)
      .select(col("doc_id"), col("lang"), col("mean_neglogprob"),
        col("bucket").as("b_exact"))
    val approx = TextAnalysis.ccnetBucketsApprox(corpus)
      .select(col("doc_id"), col("bucket").as("b_approx"))
    val j = exact.join(approx, Seq("doc_id")).cache()
    try {
      val n = j.count()
      assert(n === corpus.count(), "both routes must cover every doc")
      // disagreements can only sit AT a tercile cutoff score (ntile
      // splits ties positionally; the comparison route can't) — any
      // doc with a score not shared by docs in both buckets must agree
      val disagree = j.filter(col("b_exact") =!= col("b_approx"))
      val nDis = disagree.count()
      assert(nDis <= n / 20, s"$nDis/$n bucket disagreements — cutoff drift too large")
      val offCut = disagree.join(
        j.groupBy(col("lang"), col("mean_neglogprob"))
          .agg(countDistinct(col("b_exact")).as("nb")).filter(col("nb") === 1)
          .select(col("lang"), col("mean_neglogprob")),
        Seq("lang", "mean_neglogprob"), "left_semi")
      // percentile_approx at accuracy 10000 is exact below 10k rows per
      // group, so off-cutoff disagreement means a real bug
      assert(offCut.count() === 0, "approx route disagrees off the cutoff values")
    } finally j.unpersist()
  }

  test("token histogram partitions docs into power-of-two buckets, cum share ends at 1") {
    val out = TextAnalysis.tokenHistogram(docs).orderBy("bucket").collect()
    assert(out.map(_.getAs[Long]("n_docs")).sum === docs.count())
    out.foreach { r =>
      val lo = r.getAs[Long]("bucket_lo")
      assert(lo === (1L << r.getAs[Long]("bucket").toInt))
    }
    assert(math.abs(out.last.getAs[Double]("cum_share_docs") - 1.0) < 1e-6)
    // every doc here has 10-13 tokens -> exactly one bucket (k=3)
    assert(out.length >= 1 && out.forall(_.getAs[Long]("bucket") >= 0))
  }

  test("pointer jumping collapses a 300-node chain within the round bound") {
    import spark.implicits._
    // plain O(diameter) min-label propagation would need 300 rounds and
    // trip the 50-round bound; path doubling needs ~log2(300) ≈ 9
    val n = 300L
    val chain = (0L until n - 1).map(i => (i, i + 1))
    val got = graft.dedup.Dedup.componentsFromPairs(
        (0L until n).toDF("doc_id"), chain.toDF("id_a", "id_b"))
      .select("doc_id", "comp").as[(Long, Long)].collect()
    assert(got.length === n)
    assert(got.forall(_._2 === 0L), "every chain node must label to the minimum id")
  }

  test("oov rate accounts for every token and complements the vocabulary mass") {
    import spark.implicits._
    val out = TextAnalysis.oovRate(docs, k = 3).collect()
    assert(out.length === docs.count())
    out.foreach { r =>
      val (n, oov, share) = (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_oov"),
        r.getAs[Double]("oov_share"))
      assert(oov >= 0 && oov <= n, s"oov count out of range: $r")
      assert(math.abs(share - oov.toDouble / n) < 1e-5)
    }
    // in-vocab occurrences across docs == total corpus count of the top-k tokens
    val totalToks = docs.select(explode(split(lower(col("text")), " "))).count()
    val inVocab = totalToks - out.map(_.getAs[Long]("n_oov")).sum
    val topK = docs.select(explode(split(lower(col("text")), " ")).as("tok"))
      .groupBy("tok").count().orderBy(col("count").desc, col("tok")).limit(3)
      .agg(sum("count")).head.getLong(0)
    assert(inVocab === topK, "vocabulary mass must equal the non-OOV occurrences")
  }

  test("weighted sample is deterministic, ranked, and bounded by n") {
    val corpus = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val a = Corpus.sampleWeighted(corpus, n = 20).collect()
    assert(a.length === math.min(20, corpus.count()).toInt)
    assert(a.map(_.getAs[Int]("rank")).toSeq === (1 to a.length))
    val prios = a.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("priority"))
    assert(prios.zip(prios.tail).forall { case (x, y) => x >= y },
      "priorities must be non-increasing in rank order")
    assert(a.forall(_.getAs[Long]("weight") > 0))
    val b = Corpus.sampleWeighted(corpus, n = 20).collect()
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq,
      "rerun must reproduce the identical sample")
  }

  test("classifier roc sweep: monotone confusion counts, consistent totals") {
    val corpus = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val roc = TextAnalysis.classifierRoc(corpus).orderBy(col("t")).collect()
    assert(roc.length === 19)
    val n = corpus.count()
    roc.foreach { r =>
      assert(r.getAs[Long]("tp") + r.getAs[Long]("fp") + r.getAs[Long]("tn")
        + r.getAs[Long]("fn") === n, s"confusion cells must partition the corpus: $r")
    }
    // raising the threshold can only shrink the positive side
    val pos = roc.map(r => r.getAs[Long]("tp") + r.getAs[Long]("fp"))
    pos.zip(pos.tail).foreach { case (a, b) => assert(a >= b) }
    // tpr/fpr are valid rates
    roc.foreach { r =>
      assert(r.getAs[Double]("tpr") <= 1.0 + 1e-9)
      assert(r.getAs[Double]("fpr") <= 1.0 + 1e-9)
    }
  }

  test("bigram pmi ranks collocations above chance-level pairs") {
    val corpus = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = TextAnalysis.bigramPmi(corpus, k = 20, minCount = 2).collect()
    assert(out.nonEmpty)
    assert(out.map(_.getAs[Int]("rank")).toSeq === (1 to out.length))
    val pmis = out.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("pmi"))
    pmis.zip(pmis.tail).foreach { case (a, b) => assert(a >= b) }
    // every reported pair meets the support floor and pmi matches a
    // direct recomputation from its own counts and the corpus total
    val nCorpus = corpus
      .select(explode(split(lower(col("text")), " "))).count().toDouble
    out.foreach { r =>
      assert(r.getAs[Long]("cab") >= 2L)
      val direct = math.log(r.getAs[Long]("cab") * nCorpus /
        (r.getAs[Long]("ca").toDouble * r.getAs[Long]("cb")))
      assert(math.abs(r.getAs[Double]("pmi") - direct) < 1e-5,
        s"pmi mismatch: $r vs $direct")
    }
  }

  test("count-min sketch never underestimates and agrees with the exact top-k") {
    val corpus = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val hh = TextAnalysis.heavyHitters(corpus).collect()
    assert(hh.length === 15)
    assert(hh.map(_.getAs[Int]("rank")).toSeq === (1 to 15))
    hh.foreach { r =>
      assert(r.getAs[Long]("overestimate") >= 0L,
        s"CMS underestimated: $r")
      assert(r.getAs[Long]("cms_estimate") >= r.getAs[Long]("n_exact"))
    }
    // the exact column must equal vocabCoverage's independent count
    val vocab = TextAnalysis.vocabCoverage(corpus, 15).collect()
      .map(r => r.getAs[String]("tok") -> r.getAs[Long]("n")).toMap
    hh.foreach { r =>
      assert(vocab(r.getAs[String]("tok")) === r.getAs[Long]("n_exact"))
    }
  }

  test("language temperature flattens the mixture: q sums to 1, low-resource boosted") {
    val out = Corpus.langTemperature(docs).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Double]("p"),
        r.getAs[Double]("q"), r.getAs[Double]("boost")))
    assert(math.abs(out.map(_._3).sum - 1.0) < 1e-4, "q must normalize")
    // alpha < 1 compresses: the largest-share language is downweighted
    // relative to the smallest (boost strictly decreasing in p)
    val byP = out.sortBy(_._2)
    byP.map(_._4).zip(byP.tail.map(_._4)).foreach { case (lo, hi) =>
      assert(lo >= hi - 1e-9, "boost must be non-increasing in share")
    }
    assert(byP.head._4 > byP.last._4, "smallest language must be boosted most")
  }

  test("bands eval counts the exact/banded pair overlap consistently") {
    val corpus = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val r = Dedup.bandsEval(corpus).head
    val exact = Dedup.jaccardPairs(corpus)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val bands = Dedup.minhashBands(corpus)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(r.getAs[Long]("n_exact_pairs") === exact.size.toLong)
    assert(r.getAs[Long]("n_band_pairs") === bands.size.toLong)
    assert(r.getAs[Long]("n_hits") === (exact & bands).size.toLong)
    assert(r.getAs[Double]("band_recall") <= 1.0 + 1e-9)
    assert(r.getAs[Double]("band_precision") <= 1.0 + 1e-9)
  }

  test("stratified sample takes exactly min(n, stratum) per source, deterministically") {
    val corpus = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val strata = corpus.groupBy(col("source")).count().collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("count")).toMap
    val a = Corpus.stratifiedSample(corpus, n = 3).collect()
    val got = a.groupBy(_.getAs[String]("source")).view.mapValues(_.length).toMap
    strata.foreach { case (s, sz) =>
      assert(got.getOrElse(s, 0) === math.min(3L, sz).toInt, s"stratum $s")
    }
    // ranks are dense from 1 and ordered by (skey, doc_id) within source
    a.groupBy(_.getAs[String]("source")).values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Int]("rn"))
      assert(sorted.map(_.getAs[Int]("rn")).toSeq === (1 to rows.length))
      val keys = sorted.map(r => (r.getAs[Long]("skey"), r.getAs[Long]("doc_id")))
      assert(keys.toSeq === keys.toSeq.sorted, "hash order must be respected")
    }
    val b = Corpus.stratifiedSample(corpus, n = 3).collect()
    assert(a.map(_.toSeq).toSeq.sortBy(_.toString) === b.map(_.toSeq).toSeq.sortBy(_.toString))
  }

  test("bpe apply re-segments words by the round-1 winner and recounts") {
    import spark.implicits._
    val tiny = Seq((0L, "ababc aa", "en")).toDF("doc_id", "text", "lang")
    // round-1 pairs of [ababc, aa]: ab, ba, ab, bc, aa -> winner "ab" (2)
    // after merging "ab": [ab][ab][c] -> ab+ab, ab+c; "aa" unchanged -> a+a
    val out = TextAnalysis.bpeApply(tiny).orderBy("rank").collect()
      .map(r => (r.getAs[String]("merge_pair"), r.getAs[String]("pair"),
        r.getAs[Long]("n")))
    assert(out.forall(_._1 == "ab"))
    assert(out.toSeq === Seq(("ab", "a+a", 1L), ("ab", "ab+ab", 1L), ("ab", "ab+c", 1L)))
    // invariant on real text: a post-merge single-char pair adjacency
    // existed pre-merge too, so its count can only shrink
    val pre = TextAnalysis.bpePairs(docs, k = 1000).collect()
      .map(r => r.getAs[String]("pair") -> r.getAs[Long]("n")).toMap
    TextAnalysis.bpeApply(docs, k = 1000).collect().foreach { r =>
      val p = r.getAs[String]("pair")
      if (p.length == 3 && p(1) == '+')
        assert(r.getAs[Long]("n") <= pre.getOrElse(s"${p(0)}${p(2)}", 0L),
          s"single-char pair $p grew after the merge")
    }
  }

  test("whitening residual is norm-reducing and consistent with the projection") {
    import spark.implicits._
    val embs = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val w = graft.similarity.Pca.whitenReport(embs).collect()
    assert(w.length === embs.count())
    w.foreach { r =>
      val (c, res, share) = (r.getAs[Double]("c_norm"), r.getAs[Double]("resid_norm"),
        r.getAs[Double]("removed_share"))
      assert(res <= c + 1e-5, s"residual norm must not exceed the centered norm: $r")
      assert(share >= -1e-6 && share <= 1.0 + 1e-6, s"share out of range: $r")
    }
    val proj = graft.similarity.Pca.powerProjection(embs)
      .select("vec_id", "proj").as[(Long, Double)].collect().toMap
    w.foreach(r => assert(r.getAs[Double]("proj") === proj(r.getAs[Long]("vec_id")),
      "whiten and pca projections must agree"))
    // removing the top direction drops energy overall (anisotropy exists)
    val dropped = w.map(_.getAs[Double]("removed_share")).sum / w.length
    assert(dropped > 0.0, "mean removed energy share must be positive")
  }

  test("containment catches a fully-embedded doc that jaccard misses") {
    val small = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val filler = (1 to 40).map(i => s"w$i").mkString(" ")
    val cdocs = Seq(
      (0L, small, "en"),                 // 10 words
      (1L, s"$small $filler", "en"),     // contains doc 0 verbatim
      (2L, "totally unrelated corpus text about something else entirely here", "en")
    ).toDF("doc_id", "text", "lang")
    val cont = Dedup.containmentPairs(cdocs, 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(cont === Set((0L, 1L)), s"containment pairs: $cont")
    val c = Dedup.containmentPairs(cdocs, 0.8).head
    assert(c.getAs[Double]("containment") === 1.0) // every shingle of 0 in 1
    // symmetric Jaccard at the same corpus: the pair is invisible
    val j = Dedup.jaccardPairs(cdocs, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!j.contains((0L, 1L)), "jaccard should miss the embedding case")
  }

  test("source jsd: identical sources at 0, disjoint sources far apart") {
    // enough mass that the +1 Laplace smoothing doesn't flatten the
    // distributions (each token 20×, so present:absent ≈ 21:1)
    val a = Seq.fill(20)("one two three four five six seven eight nine ten").mkString(" ")
    val b = Seq.fill(20)("uno dos tres cuatro cinco seis siete ocho nueve diez").mkString(" ")
    val jdocs = Seq(
      (0L, a, "en", "s1"), (1L, a, "en", "s2"), // s1 == s2
      (2L, b, "es", "s3")                        // s3 disjoint
    ).toDF("doc_id", "text", "lang", "source")
    val jsd = graft.text.TextAnalysis.sourceJsd(jdocs)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getAs[Double]("jsd")).toMap
    assert(jsd(("s1", "s2")) === 0.0)
    assert(jsd(("s1", "s3")) > 0.3 && jsd(("s1", "s3")) < math.log(2) + 1e-6)
    assert(jsd(("s1", "s3")) === jsd(("s2", "s3")))
  }

  test("gains/lift table: capture monotone to 1, decile-10 covers everything") {
    val corpus = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val rows = graft.text.TextAnalysis.gainsLift(corpus)
      .orderBy(org.apache.spark.sql.functions.col("decile")).collect()
    assert(rows.nonEmpty)
    val captures = rows.map(_.getAs[Double]("capture"))
    assert(captures.zip(captures.tail).forall { case (a, b) => b >= a },
      s"capture not monotone: ${captures.mkString(",")}")
    assert(math.abs(captures.last - 1.0) < 1e-6)
    val cumN = rows.map(_.getAs[Long]("cum_n"))
    assert(cumN.last === corpus.count())
    // lift can only decay as the cut widens (cum precision is
    // non-increasing when ranked by score)
    val lifts = rows.map(_.getAs[Double]("lift"))
    assert(lifts.head >= lifts.last - 1e-9)
  }
}
