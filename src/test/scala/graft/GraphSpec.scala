package graft

import org.scalatest.funsuite.AnyFunSuite

/** Triangle-counting semantics: the degree-oriented wedge algorithm must
  * count exactly the triangles a naive closed-triple enumeration finds —
  * on crafted graphs covering the degenerate shapes and on the real
  * fixture graph. */
class GraphSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def tri(edges: Seq[(Long, Long)]): Map[Long, Long] =
    ops.Graph.trianglesPerNode(edges.toDF("u", "v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("K4: every vertex participates in 3 triangles") {
    val k4 = for { i <- 0L to 3L; j <- (i + 1) to 3L } yield (i, j)
    assert(tri(k4) == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
  }

  test("a path has no triangles") {
    assert(tri(Seq((1L, 2L), (2L, 3L), (3L, 4L))).isEmpty)
  }

  test("hub star with one rim edge: exactly one triangle, hub included once") {
    // the hub has degree 10 — under degree orientation every closing
    // wedge lives at a LOW-degree rim vertex, never at the hub
    val star = (1L to 10L).map(i => (0L, i))
    assert(tri(star :+ ((1L, 2L))) == Map(0L -> 1L, 1L -> 1L, 2L -> 1L))
  }

  test("two triangles sharing an edge: shared vertices count both") {
    // {1,2,3} and {2,3,4} share edge (2,3)
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(tri(g) == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
  }

  /** Scala reference of the integer-exact PageRank recurrence. */
  private def prRef(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val adj = (edges ++ edges.map(_.swap))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val n = adj.size
    var pr = adj.keys.map(_ -> 1000000000L / n).toMap
    for (_ <- 1 to iters) {
      val sh = pr.map { case (v, p) => v -> (p * 85 / 100) / adj(v).size }
      pr = adj.keys.map { v =>
        v -> (150000000L / n + adj(v).map(sh).sum)
      }.toMap
    }
    pr
  }

  private def prSpark(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    ops.Graph.pagerank(edges.toDF("u", "v"), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("pagerank: path graph matches the integer reference, asymmetry preserved") {
    val path = Seq((1L, 2L), (2L, 3L))
    val got = prSpark(path, 3)
    assert(got == prRef(path, 3))
    // the middle vertex of a path must outrank the endpoints
    assert(got(2L) > got(1L) && got(1L) == got(3L))
  }

  test("pagerank: hub star — hub accumulates rank, rims equal") {
    val star = (1L to 6L).map(i => (0L, i))
    val got = prSpark(star, 3)
    assert(got == prRef(star, 3))
    assert(got(0L) > got(1L), "hub must outrank a rim vertex")
    assert((1L to 6L).map(got).distinct.size == 1, "rim ranks must be equal")
  }

  test("pagerank: mass is conserved up to floor losses, never created") {
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
    val got = prSpark(g, 3)
    val total = got.values.sum
    // floors only ever LOSE mass; per round the loss is bounded by
    // Σdeg (per-neighbor share floors) + 2n (the ×0.85 and base floors)
    val perRound = 2 * g.size + 2 * got.size
    assert(total <= 1000000000L, s"mass created: $total")
    assert(total >= 1000000000L - 3L * perRound, s"mass lost too fast: $total")
  }

  test("components: disjoint subgraphs get distinct min-id labels") {
    // {1,2,3} triangle, {10,11} edge, {20,21,22} path — 3 components
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L),
      (20L, 21L), (21L, 22L)).toDF("d1", "d2")
    val got = ops.DedupClusters.components(g)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L,
      11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("fixture components: every edge's endpoints share a label") {
    val edges = ops.Graph.supplierEdges(spark, sf0001, 9).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val comp = ops.Graph.graphComponents(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.nonEmpty)
    edges.foreach { case (u, v) =>
      assert(comp(u) == comp(v), s"edge ($u,$v) spans two components")
    }
    // every label is the min id of its member set
    comp.groupBy(_._2).foreach { case (label, members) =>
      assert(label == members.keys.min, s"label $label is not the min id")
    }
  }

  test("fixture graph: degree-oriented counts equal naive triple enumeration") {
    val edges = ops.Graph.supplierEdges(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val naive = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for {
      (a, b) <- edges
      c <- nodes if c > b && edges((b, c)) && edges((a, c))
    } {
      naive(a) += 1; naive(b) += 1; naive(c) += 1
    }
    val mine = ops.Graph.graphTriangles(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(mine == naive.toMap, "per-node triangle counts diverge")
  }
}
