package graft.similarity

import graft.{Observe, SparkSpec}
import org.apache.spark.sql.functions._

class ClusterSpec extends SparkSpec with Observe {
  import spark.implicits._

  test("kmeans groups by direction and is deterministic across runs") {
    // two tight direction bundles + the two seeds (ids 0, 1) one in each
    val embs = Seq(
      (0L, Array(1.0f, 0.0f, 0.1f)),
      (2L, Array(0.9f, 0.1f, 0.0f)),
      (4L, Array(1.0f, 0.1f, 0.1f)),
      (1L, Array(0.0f, 1.0f, 0.1f)),
      (3L, Array(0.1f, 0.9f, 0.0f)),
      (5L, Array(0.0f, 1.0f, 0.2f))
    ).toDF("vec_id", "embedding")
    val out = Cluster.kmeans(embs, k = 2, iters = 2)
    val byId = out.collect().map(r =>
      r.getAs[Long]("vec_id") -> r.getAs[Int]("cluster")).toMap
    assert(byId(0) === byId(2) && byId(0) === byId(4))
    assert(byId(1) === byId(3) && byId(1) === byId(5))
    assert(byId(0) !== byId(1))
    // every member sits closer (in cosine) to its own centroid
    assert(out.agg(min($"cosine")).head.getDouble(0) > 0.9)
    // pure function of the input: bit-identical on a second run
    val again = Cluster.kmeans(embs, k = 2, iters = 2)
    assert(out.except(again).count() === 0 && again.except(out).count() === 0)
  }

  test("kmeans on the test corpus: every vector assigned once, k clusters max") {
    val embs = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val out = Cluster.kmeans(embs, k = 8, iters = 2).persist()
    try {
      assert(out.count() === embs.count())
      assert(out.select("vec_id").distinct().count() === embs.count())
      assert(out.select("cluster").distinct().count() <= 8)
    } finally out.unpersist()
  }

  test("outliers flag exactly the farthest tenth of each cluster") {
    val embs = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val out = Cluster.outliers(embs).persist()
    try {
      assert(out.count() === embs.count())
      // per cluster: flagged count == n/10 (integer cutoff), and every
      // flagged cosine <= every kept cosine
      val perCluster = out.groupBy($"cluster")
        .agg(count(lit(1)).as("n"),
          sum(when($"is_outlier", 1L).otherwise(0L)).as("flagged"),
          max(when($"is_outlier", $"cosine")).as("worst_kept_out"),
          min(when(!$"is_outlier", $"cosine")).as("best_kept_in"))
        .collect()
      perCluster.foreach { r =>
        assert(r.getAs[Long]("flagged") === r.getAs[Long]("n") / 10)
        val out0 = Option(r.getAs[java.lang.Double]("worst_kept_out"))
        val in0 = Option(r.getAs[java.lang.Double]("best_kept_in"))
        for (o <- out0; i <- in0) assert(o <= i)
      }
    } finally out.unpersist()
  }

  test("semdedup drops exactly the vectors with a lower-id same-cluster neighbor over tau") {
    val embs = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val out = Cluster.semDedup(embs).collect()
    assert(out.length === embs.count())
    val asg = out.map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cluster")).toMap
    val vecs = embs.select("vec_id", "embedding").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    // same index-order fold as graft_dot
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    def cosQ(a: Array[Double], b: Array[Double]): Double =
      math.round((dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
        + 1e-9) * 1e6) / 1e6
    out.foreach { r =>
      val id = r.getAs[Long]("vec_id")
      val dups = vecs.keys.filter(o => o < id && asg(o) == asg(id) &&
        cosQ(vecs(o), vecs(id)) >= 0.4)
      assert(r.getAs[Boolean]("keep") === dups.isEmpty,
        s"keep flag wrong for $id (lower dups: ${dups.toSeq.sorted})")
      assert(r.getAs[Long]("n_dup_lower") === dups.size.toLong)
    }
    // the planted near-dups must make the flag non-trivial
    assert(out.exists(!_.getAs[Boolean]("keep")), "no vector was deduplicated")
  }

  test("mmrRerank: diversity-weighted second pick skips the near-duplicate") {
    val embs = Seq(
      (0L, Array(1.0f, 0.0f)), // query
      (1L, Array(1.0f, 0.01f)), // top relevance
      (2L, Array(0.999f, 0.012f)), // near-duplicate of 1
      (3L, Array(0.6f, 0.8f)) // diverse, moderate relevance
    ).toDF("vec_id", "embedding")
    val picks = Ann.mmrRerank(embs, topN = 3, select = 2, lambda = 0.3)
      .collect().map(r => r.getAs[Int]("step") -> r.getAs[Long]("vec_id")).toMap
    assert(picks(1) === 1L, "first pick is pure relevance")
    assert(picks(2) === 3L, "second pick trades relevance for diversity")
  }

  test("mmrRerank leaves one checkpoint behind: the final selection") {
    val embs = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    var picks: org.apache.spark.sql.DataFrame = null
    val left = leftPersistent { picks = Ann.mmrRerank(embs) }
    assert(left.size === 1, s"pair, candidates and superseded selections must be released: $left")
    assert(picks.collect().map(_.getAs[Int]("step")).toSeq === (1 to 10))
  }

  test("building an IVF-PQ index and running its codes leaves one checkpoint: the codebook") {
    val embs = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val left = leftPersistent {
      assert(Ann.buildIvfPqIndex(embs).codes.count() === embs.count())
    }
    assert(left.size === 1, s"training rows and superseded codebooks must be released: $left")
  }
}
