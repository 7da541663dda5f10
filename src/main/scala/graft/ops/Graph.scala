package graft.ops

import graft.{Q, Tables}
import graft.util.Ckpt
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over a relational co-occurrence graph — the entity-
  * resolution / link-analysis capability an analytics engine grows once
  * its dedup tier starts producing pair sets (DedupClusters already does
  * transitive closure; this adds the local-structure metric).
  *
  * The graph: suppliers are vertices; an undirected edge connects two
  * suppliers that co-occur in at least MIN_SUPPORT orders — the standard
  * market-basket co-occurrence construction, where the support threshold
  * is what keeps the graph ANALYTICALLY sparse: raw one-order
  * co-occurrence over a bounded key space converges to the complete
  * graph as the corpus grows (measured here: 91% dense at sf0.1,
  * making naive triangles O(n³) ≈ 10⁸ rows), while support-thresholded
  * edges track genuinely associated pairs (9.7% dense at sf0.1,
  * 165k triangles). Edge derivation is a bounded self-join (TPC-H
  * orders hold ≤ 7 lineitems, so per-order fan-out is ≤ C(7,2) = 21
  * pairs) followed by a pair-count aggregate — one shuffle on the pair
  * key with map-side combine.
  *
  * Triangle counting is the MapReduce wedge algorithm (Suri &
  * Vassilvitskii, WWW'11; Cohen, "Graph Twiddling in a MapReduce
  * World"): orient every edge from its lower-(degree, id) endpoint to
  * its higher one, enumerate wedges at each vertex from its oriented
  * out-neighbors, and close them against the oriented edge set. Degree
  * orientation bounds every out-degree by O(√m) on any graph, so the
  * wedge join is O(m^{3/2}) total work with no skew blow-up at a hub
  * vertex — the property that lets this survive a power-law co-occurrence
  * graph at 100 TB, where id-orientation would pile every hub's wedges
  * onto one reducer. All three stages are equi-joins keyed on vertex
  * ids; nothing is quadratic in the vertex set.
  */
object Graph {

  /** Edges must co-occur in at least this many orders. At the test
    * scales: keeps the complete graph at sf≤0.01 (every pair co-occurs
    * ≥ 5 times there) and a 9.7%-dense graph at sf0.1. */
  private val MinSupport = 5

  /** Components use a higher support bar than triangles/pagerank: the
    * 5-support graph is one giant component at every scale (the usual
    * fate of a co-occurrence graph), while ≥ 9 leaves the genuinely
    * tight association clusters — 136 components over 594 suppliers at
    * sf0.1 — which is the structure component analysis exists to find. */
  private val ComponentSupport = 9

  /** The materialized SUPPORT-ANNOTATED pair aggregate, a standing
    * build per (session, sfDir): the graph keys (triangles, pagerank,
    * components) all derive the SAME co-occurrence graph, so one lineitem
    * self-join + pair aggregate per corpus is the honest cost, not one
    * per query (at 100 TB the edge list is a materialized derived
    * table). The memo keys on the corpus only, not (corpus, support):
    * the support column stays on the frame, so every threshold
    * (triangles/pagerank's 5, components' 9) is a filter over one shared
    * aggregate instead of a self-join per support level. The aggregate
    * is pair-count-sized whatever the threshold. */
  private def pairSupport(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    graft.util.Standing.get(s, "graph_pair_support", d) {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
      li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.sk") < col("b.sk"))
        .select(col("a.sk").as("u"), col("b.sk").as("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("support"))
        // each consumer fans the edge list into 3-6 plan references;
        // without materialization every reference re-runs the
        // self-join + aggregate. The edge list is the SMALL derived
        // frame here (supplier pairs, two BIGINTs + a count). persist,
        // not localCheckpoint: persisted blocks keep their lineage, so
        // an executor loss recomputes the lost partitions instead of
        // failing every later graph query for the session's lifetime
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Undirected co-occurrence edges (u < v), one row per pair whose
    * co-occurrence support meets `minSupport` — a filter over the shared
    * [[pairSupport]] aggregate. */
  private[graft] def supplierEdges(s: org.apache.spark.sql.SparkSession,
      d: String, minSupport: Int = MinSupport): DataFrame =
    pairSupport(s, d)
      .filter(col("support") >= minSupport)
      .select("u", "v")

  /** Degree-orient an undirected edge list (u < v): every edge directed
    * from its lower-(degree, id) endpoint to its higher one, with the
    * packed (deg·2^32 + id) ranks carried for wedge canonicalization.
    * One degree aggregate + two vertex-keyed joins. */
  private[graft] def orient(edges: DataFrame): DataFrame = {
    // degree per vertex, then a total order (degree, id) packed into one
    // BIGINT rank: deg * 2^32 + id (ids and degrees both < 2^31).
    val deg = edges.select(col("u").as("n"))
      .unionAll(edges.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val rank = (col("deg") * lit(4294967296L) + col("n")).as("r")
    val ranked = deg.select(col("n"), rank)

    // orient each edge low-rank → high-rank, keeping original ids
    edges
      .join(ranked.select(col("n").as("u"), col("r").as("ru")), "u")
      .join(ranked.select(col("n").as("v"), col("r").as("rv")), "v")
      .select(
        when(col("ru") < col("rv"), col("u")).otherwise(col("v")).as("lo"),
        when(col("ru") < col("rv"), col("v")).otherwise(col("u")).as("hi"),
        least(col("ru"), col("rv")).as("rlo"),
        greatest(col("ru"), col("rv")).as("rhi"))
  }

  /** The MATERIALIZED oriented frame for the declared triangles key, a
    * standing build per (session, sfDir, support): the orientation
    * (degree agg + 2 joins) is a pure function of the cached edge list,
    * and the wedge enumeration references it THREE times (two wedge
    * sides + the closing set) — re-deriving it per call made
    * graph_triangles the second-slowest warm key. Persisted with lineage,
    * like [[pairSupport]]. */
  private def orientedSupplierEdges(s: org.apache.spark.sql.SparkSession,
      d: String, minSupport: Int = MinSupport): DataFrame =
    graft.util.Standing.get(s, "graph_oriented_edges", (d, minSupport)) {
      orient(supplierEdges(s, d, minSupport))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Per-vertex triangle counts over a degree-oriented edge frame
    * (see [[orient]]). Returns (node, n_tri) for every vertex in ≥ 1
    * triangle. */
  private[graft] def trianglesFromOriented(oriented: DataFrame): DataFrame = {
    // wedges at each low vertex: unordered pairs of out-neighbors,
    // canonicalized by rank so each wedge appears once
    val o1 = oriented.select(col("lo").as("x"), col("hi").as("y1"),
      col("rhi").as("ry1"))
    val o2 = oriented.select(col("lo").as("x"), col("hi").as("y2"),
      col("rhi").as("ry2"))
    val wedges = o1.join(o2, Seq("x")).filter(col("ry1") < col("ry2"))

    // close each wedge against the oriented edge set: (y1, y2) is an
    // oriented edge iff the original graph has edge {y1, y2}
    val closing = oriented.select(col("lo").as("y1"), col("hi").as("y2"))
    val tris = wedges.join(closing, Seq("y1", "y2"))

    tris.select(explode(array(col("x"), col("y1"), col("y2"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
      .orderBy("node")
  }

  /** Per-vertex triangle counts over an undirected edge list (u < v).
    * The result is orientation-invariant, so the degree-oriented plan is
    * result-identical to the oracle's naive id-oriented 3-way join
    * (GraphSpec asserts equality on crafted graphs). */
  private[graft] def trianglesPerNode(edges: DataFrame): DataFrame =
    trianglesFromOriented(orient(edges))

  /** Declared graph_triangles: per-supplier triangle counts of the
    * order-co-occurrence graph, wedge-joined over the memoized
    * materialized oriented frame. */
  val graphTriangles: Q = (s, d) =>
    trianglesFromOriented(orientedSupplierEdges(s, d))

  /** Fixed-point PageRank over an undirected edge list — `iters` rounds
    * of pr'(v) = 0.15/n + 0.85·Σ_{u∈N(v)} pr(u)/deg(u), carried out
    * ENTIRELY in 64-bit integer arithmetic on e9-scaled ranks
    * (share(u) = ((pr·85) div 100) div deg — every division floors), so
    * two engines replaying the recurrence agree bit-for-bit: no float
    * summation-order drift, which is what normally makes iterative rank
    * scores unverifiable across systems. Floor losses only ever shrink
    * the total mass (bounded by n·iters ulps at e9 scale — ppb territory),
    * they never reorder ranks materially.
    *
    * Each round is one vertex-keyed join (rank ⋈ degree — both
    * vertex-sized), one edge-keyed join (shares ⋈ edges, shuffle on the
    * source vertex), and one hash aggregate on the destination — the
    * standard message-passing round, O(m) per iteration with map-side
    * combine on the destination key. The vertex count enters as a
    * broadcast 1-row aggregate, never a driver-side collect. Symmetric
    * edges mean every vertex has out-degree ≥ 1: no dangling-mass term.
    * At the declared 3 rounds the chained lazy plan stays shallow. */
  private[graft] def pagerank(edges: DataFrame, iters: Int): DataFrame = {
    // referenced by deg + every message round
    val dir = Ckpt.narrow(edges.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(edges.select(col("v").as("src"), col("u").as("dst"))))
    // joined into every round's share computation
    val deg = Ckpt.narrow(dir.groupBy("src").agg(count(lit(1)).as("deg")))
    val nRow = deg.agg(count(lit(1)).as("n"))
    var pr = deg.crossJoin(broadcast(nRow))
      .select(col("src").as("node"), expr("1000000000 div n").as("pr"))
    for (_ <- 1 to iters) {
      val share = pr.join(deg, pr("node") === deg("src"))
        .select(col("node"), expr("((pr * 85) div 100) div deg").as("sh"))
      pr = dir.join(share, dir("src") === share("node"))
        .groupBy(col("dst"))
        .agg(sum(col("sh")).as("acc"))
        .crossJoin(broadcast(nRow))
        .select(col("dst").as("node"), expr("150000000 div n + acc").as("pr"))
    }
    pr.select(col("node"), col("pr").as("pr_e9")).orderBy("node")
  }

  /** Declared graph_pagerank: 3 fixed-point iterations over the
    * support-thresholded supplier co-occurrence graph. */
  val graphPagerank: Q = (s, d) => pagerank(supplierEdges(s, d), 3)

  /** Declared graph_components: connected components of the tightly-
    * associated (support ≥ 9) co-occurrence graph — component id = min
    * supplier id reachable. Pure REUSE of the dedup tier's union-find
    * contraction + min-label propagation ([[DedupClusters.components]]):
    * per-partition path-halving collapses chains locally, then
    * O(contracted-diameter) join+agg rounds with only a scalar
    * convergence count on the driver — the same machinery that resolves
    * near-dup clusters resolves entity groups. The oracle is a DuckDB
    * recursive reachability CTE (terminates on cycles via UNION
    * dedup — viable at fixture scale, quadratic in the large; the
    * union-find side is the scale path). */
  val graphComponents: Q = (s, d) =>
    DedupClusters.components(
      supplierEdges(s, d, ComponentSupport)
        .select(col("u").as("d1"), col("v").as("d2")))
      .select(col("id").as("node"), col("component"))
      .orderBy("node")

  val queries: Map[String, Q] = Map(
    "graph_triangles" -> graphTriangles,
    "graph_pagerank" -> graphPagerank,
    "graph_components" -> graphComponents)

  val oracle: Map[String, String] = Map(
    "graph_triangles" ->
      """WITH e AS (SELECT a.l_suppkey AS u, b.l_suppkey AS v
                    FROM lineitem a JOIN lineitem b
                      ON a.l_orderkey = b.l_orderkey
                     AND a.l_suppkey < b.l_suppkey
                    GROUP BY 1, 2 HAVING count(*) >= 5),
            t AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
                  FROM e e1
                  JOIN e e2 ON e2.u = e1.v
                  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
         SELECT node, count(*) AS n_tri
         FROM (SELECT x AS node FROM t
               UNION ALL SELECT y FROM t
               UNION ALL SELECT z FROM t)
         GROUP BY node ORDER BY node""",
    "graph_pagerank" ->
      """WITH e AS (SELECT a.l_suppkey AS u, b.l_suppkey AS v
                    FROM lineitem a JOIN lineitem b
                      ON a.l_orderkey = b.l_orderkey
                     AND a.l_suppkey < b.l_suppkey
                    GROUP BY 1, 2 HAVING count(*) >= 5),
            de AS (SELECT u AS src, v AS dst FROM e
                   UNION ALL SELECT v, u FROM e),
            dg AS (SELECT src, count(*) AS deg FROM de GROUP BY 1),
            nn AS (SELECT count(*) AS n FROM dg),
            p0 AS (SELECT src AS node,
                     (SELECT 1000000000 // n FROM nn) AS pr FROM dg),
            p1 AS (SELECT de.dst AS node,
                     (SELECT 150000000 // n FROM nn)
                       + CAST(SUM(((p.pr * 85) // 100) // d2.deg) AS BIGINT) AS pr
                   FROM de JOIN p0 p ON p.node = de.src
                           JOIN dg d2 ON d2.src = de.src
                   GROUP BY de.dst),
            p2 AS (SELECT de.dst AS node,
                     (SELECT 150000000 // n FROM nn)
                       + CAST(SUM(((p.pr * 85) // 100) // d2.deg) AS BIGINT) AS pr
                   FROM de JOIN p1 p ON p.node = de.src
                           JOIN dg d2 ON d2.src = de.src
                   GROUP BY de.dst),
            p3 AS (SELECT de.dst AS node,
                     (SELECT 150000000 // n FROM nn)
                       + CAST(SUM(((p.pr * 85) // 100) // d2.deg) AS BIGINT) AS pr
                   FROM de JOIN p2 p ON p.node = de.src
                           JOIN dg d2 ON d2.src = de.src
                   GROUP BY de.dst)
         SELECT node, pr AS pr_e9 FROM p3 ORDER BY node""",
    "graph_components" ->
      """WITH RECURSIVE eb AS (SELECT a.l_suppkey AS u, b.l_suppkey AS v
                    FROM lineitem a JOIN lineitem b
                      ON a.l_orderkey = b.l_orderkey
                     AND a.l_suppkey < b.l_suppkey
                    GROUP BY 1, 2 HAVING count(*) >= 9),
            e AS (SELECT u, v FROM eb UNION ALL SELECT v, u FROM eb),
            r AS (SELECT u AS a, v AS b FROM e
                  UNION
                  SELECT r.a, e.v FROM r JOIN e ON e.u = r.b),
            comp AS (SELECT a AS node, least(a, min(b)) AS component
                     FROM r GROUP BY a)
         SELECT node, component FROM comp ORDER BY node""")
}
