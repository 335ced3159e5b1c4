package graft.graph

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Hand-checked graph primitives on tiny crafted graphs. */
class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  test("triangles: one closed triangle plus a dangling spoke") {
    // 1-2-3 closed, 4 hangs off 1
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L))
      .toDF("src", "dst")
    val rows = GraphOps.triangles(edges).collect()
      .map(r => r.getAs[Long]("id") -> r).toMap
    assert(rows(1L).getAs[Long]("n_triangles") === 1L)
    assert(rows(2L).getAs[Long]("n_triangles") === 1L)
    assert(rows(4L).getAs[Long]("n_triangles") === 0L)
    assert(rows(2L).getAs[Double]("clustering") === 1.0) // deg 2, 1 tri
    // node 1: degree 3, one triangle → 2·1/(3·2) = 1/3
    assert(rows(1L).getAs[Double]("clustering") === 0.333333)
    assert(rows(4L).getAs[Double]("clustering") === 0.0)
  }

  test("bfsLayers: path-graph distances, round bound reported as unreached") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val d = GraphOps.bfsLayers(edges, rounds = 2).collect()
      .map(r => r.getAs[Long]("id") -> Option(r.get(1))).toMap
    assert(d(1L) === Some(0L) && d(2L) === Some(1L) && d(3L) === Some(2L))
    assert(d(4L).isEmpty && d(5L).isEmpty, "beyond the bound must be unreached")
    val full = GraphOps.bfsLayers(edges, rounds = 8).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("dist")).toMap
    assert(full(5L) === 4L)
  }

  test("labelPropagation: disjoint triangles converge to distinct communities") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("src", "dst")
    val lp = GraphOps.labelPropagation(edges, rounds = 5).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("community")).toMap
    assert(Set(lp(1L), lp(2L), lp(3L)).size === 1)
    assert(Set(lp(10L), lp(11L), lp(12L)).size === 1)
    assert(lp(1L) !== lp(10L))
  }

  test("kCore: a K5 survives k = 4 peeling, its pendant path does not") {
    // K5 on 1..5, then the path 5-6-7 hanging off node 5
    val k5 = for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)
    val edges = (k5 ++ Seq((5L, 6L), (6L, 7L))).toDF("src", "dst")
    val c = GraphOps.kCore(edges, k = 4).collect()
      .map(r => r.getAs[Long]("station_id") -> r).toMap
    assert(c.keySet === (1L to 7L).toSet)
    for (id <- 1L to 5L) {
      assert(c(id).getAs[Boolean]("in_core"), s"$id is in the 4-core")
      assert(c(id).getAs[Long]("core_degree") === 4L)
    }
    assert(c(5L).getAs[Long]("degree") === 5L)
    for (id <- Seq(6L, 7L)) {
      assert(!c(id).getAs[Boolean]("in_core"), s"$id is peeled")
      assert(c(id).getAs[Long]("core_degree") === 0L)
    }
    assert(c(6L).getAs[Long]("degree") === 2L && c(7L).getAs[Long]("degree") === 1L)
  }

  test("hits: a directed star's center is the authority, its leaves the hubs") {
    val edges = Seq((1L, 9L), (2L, 9L), (3L, 9L), (4L, 9L)).toDF("src", "dst")
    val h = GraphOps.hits(edges).collect()
      .map(r => r.getAs[Long]("id") -> (r.getAs[Double]("authority"), r.getAs[Double]("hub")))
      .toMap
    assert(h(9L) === (1.0, 0.0))
    for (id <- 1L to 4L) assert(h(id) === (0.0, 0.25), s"leaf $id")
  }

  test("hubness: directed star center is the hub") {
    // in-degrees [5,1,0,0,0,0]: mean 1, sd √(20/6) ≈ 1.826 → hub cut 4.65
    val edges = Seq((1L, 9L), (2L, 9L), (3L, 9L), (4L, 9L), (5L, 9L), (9L, 1L))
      .toDF("src", "dst")
    val h = GraphOps.hubness(edges).collect()
      .map(r => r.getAs[Long]("id") -> r).toMap
    assert(h(9L).getAs[Long]("in_degree") === 5L)
    assert(h(9L).getAs[Boolean]("is_hub"))
    assert(!h(1L).getAs[Boolean]("is_hub"))
    assert(!h(2L).getAs[Boolean]("is_antihub"))
  }

  test("pagerank: mass conserved, symmetric nodes tie, sink-free cycle is uniform") {
    // directed 3-cycle: perfectly symmetric → uniform ranks
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val pr = GraphOps.pageRank(cycle).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Double]("pagerank")).toMap
    assert(pr.values.toSet.size === 1, s"cycle ranks must be uniform: $pr")
    assert(math.abs(pr.values.sum - 1.0) < 1e-4)
    // star: everything points at 5 → 5 outranks the leaves
    val star = Seq((1L, 5L), (2L, 5L), (3L, 5L), (4L, 5L), (5L, 1L))
      .toDF("src", "dst")
    val ps = GraphOps.pageRank(star).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Double]("pagerank")).toMap
    assert(ps(5L) > ps(2L) && ps(2L) === ps(3L) && ps(3L) === ps(4L))
    assert(ps(1L) > ps(2L)) // 1 receives 5's whole rank
  }
}
