package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Ckpt

/** Near-dup cluster resolution — the step after pair generation that an
  * actual dedup pipeline needs: near-dup PAIRS (from jaccard / minhash /
  * simhash / embedding candidates) form clusters via transitive closure,
  * and exactly one document survives per cluster.
  *
  * Connected components in two phases:
  *
  *  1. **Local contraction**: each partition runs a union-find over its
  *     edges in one pass, labeling every locally-reachable node with the
  *     partition-local minimum. With a single partition (tiny edge sets)
  *     this IS the exact answer and no iteration runs at all.
  *  2. **Min-label propagation** across partitions, seeded with the
  *     contracted labels: each round takes the min label over the
  *     neighborhood; fixpoint in O(contracted diameter) rounds — fewer
  *     than node-diameter rounds because phase 1 already collapsed every
  *     intra-partition chain. Each round is one equi-join + one
  *     aggregation, hash-partitioned on the node id — the same
  *     driver-coordinated-iteration shape MLlib and GraphX use, with only
  *     a scalar convergence count on the driver. */
object DedupClusters {

  /** pairs(d1, d2) → (id, component), component = min doc id reachable.
    * Only ids that appear in some pair are returned (singletons are their
    * own component trivially). `numPartitions` 0 = derive from edge count
    * (tests use an explicit value to exercise the multi-partition path). */
  def components(pairs: DataFrame, maxIter: Int = 20,
      numPartitions: Int = 0): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // both directions via one explode, not a self-union: a union would
    // evaluate the (possibly expensive) pair-generating subtree once per
    // branch, doubling e.g. the jaccard pipeline feeding dedup_cluster.
    // No distinct: pair generators emit unique pairs, and both union-find
    // and the min-label aggregation are idempotent under duplicate edges,
    // so deduplication would be one whole extra shuffle for nothing.
    // Both edge frames are per-query temporaries, so they go through
    // Ckpt, never the session CacheManager.
    val undirected = Ckpt.narrow(pairs.select(explode(array(
        struct(col("d1").as("a"), col("d2").as("b")),
        struct(col("d2").as("a"), col("d1").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b")))
    // Size the iteration shuffles to the edge set, not the session default:
    // near-dup edge sets are orders of magnitude smaller than the corpus
    // (bounded by pair-generator selectivity), and every closure step is
    // join/agg over edges only — at a few hundred edges, 32-way shuffles
    // are pure scheduling overhead; at 10^9 edges this picks wide plans.
    val nEdges = undirected.count() // also writes the checkpoint
    val parts = if (numPartitions > 0) numPartitions
      else math.max(1, math.min(
        spark.sessionState.conf.numShufflePartitions,
        (nEdges / 2000000L).toInt + 1))
    val edges = Ckpt.narrow(undirected.repartition(parts, col("b")))
    // phase 1: per-partition union-find (path-halving), one pass
    val contracted = edges.as[(Long, Long)].mapPartitions { it =>
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      it.foreach { case (a, b) =>
        val ra = find(a); val rb = find(b)
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        if (!parent.contains(a)) parent(a) = find(a)
        if (!parent.contains(b)) parent(b) = find(b)
      }
      parent.keysIterator.map(k => (k, find(k))).toArray.iterator
    }.toDF("id", "component")
    // localCheckpoint truncates plan lineage per step — without it the
    // logical plan doubles every round and planning itself OOMs long
    // before the data does. With a single partition phase 1 is exact and
    // no iteration runs, so there is no lineage to truncate: skip the
    // checkpoint's extra materialization pass.
    var labels = if (parts == 1) contracted
      else contracted.groupBy("id").agg(min("component").as("component"))
        .localCheckpoint()
    var iter = 0
    var converged = parts == 1 // single partition ⇒ phase 1 was exact
    while (!converged && iter < maxIter) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "b2"), col("b") === col("b2"))
        .groupBy(col("a").as("id"))
        .agg(min(col("component")).as("nmin"))
      val updated = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("nmin"), col("component")))
            .as("component"),
          (col("nmin") < col("component")).as("moved"))
        .localCheckpoint() // materialize; all downstream reads are free
      val movedCount = updated.filter(col("moved")).count() // scalar only
      labels = updated.drop("moved")
      converged = movedCount == 0
      iter += 1
    }
    // partially-propagated labels would silently split clusters (multiple
    // "survivors" per real cluster) — refuse to return a wrong answer
    if (!converged) throw new IllegalStateException(
      s"connected components did not converge after $maxIter rounds; " +
        "raise maxIter (diameter of the contracted graph exceeds it)")
    labels
  }

  /** docs(idCol, ...) ⟕ components: keep one row per near-dup cluster
    * (the min id) plus every unpaired document — the materialized
    * "deduplicated corpus" a training pipeline feeds downstream. */
  def survivors(docs: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val comp = components(pairs)
    docs.join(comp.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .filter(col("component").isNull || col("component") === col(idCol))
      .drop("component")
  }
}
