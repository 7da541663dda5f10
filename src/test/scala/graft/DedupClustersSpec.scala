package graft

import graft.ops.{DedupClusters, Llm}
import org.scalatest.funsuite.AnyFunSuite

/** Cluster resolution over near-dup pairs: transitive closure via
  * min-label propagation, one survivor per cluster. */
class DedupClustersSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("components: chains close transitively, min id labels the cluster") {
    // {1,2,3} chained, {4,5}, {7,8,9,10} star around 9
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L),
      (9L, 7L), (9L, 8L), (9L, 10L)).toDF("d1", "d2")
    val got = DedupClusters.components(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L,
      7L -> 7L, 8L -> 7L, 9L -> 7L, 10L -> 7L))
  }

  test("components: long chain converges (diameter > 1 round)") {
    val pairs = (0L until 15L).map(i => (i, i + 1)).toDF("d1", "d2")
    val got = DedupClusters.components(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 16 && got.values.forall(_ == 0L))
  }

  test("survivors: one doc per cluster plus all unpaired docs") {
    val docs = (1L to 10L).map(i => (i, s"text$i")).toDF("doc_id", "text")
    val pairs = Seq((2L, 5L), (5L, 9L), (3L, 4L)).toDF("d1", "d2")
    val kept = DedupClusters.survivors(docs, pairs, "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // clusters {2,5,9}→2 and {3,4}→3; 1,6,7,8,10 unpaired
    assert(kept == Set(1L, 2L, 3L, 6L, 7L, 8L, 10L))
  }

  test("components equal a reference union-find on random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val n = 30 + trial * 10
      val edges = Seq.fill(n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // reference: driver-side union-find with path compression
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // canonical label = min id in the component
      val expected = parent.keys.map { x =>
        x -> parent.keys.filter(y => find(y) == find(x)).min
      }.toMap
      // single-partition path = pure union-find; multi-partition path =
      // local contraction + min-label propagation rounds
      for (np <- Seq(0, 3)) {
        val got = DedupClusters.components(edges.toDF("d1", "d2"),
            numPartitions = np)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == expected, s"trial $trial (n=$n, parts=$np) mismatch")
      }
    }
  }

  test("dedupPipeline composes a pair generator with cluster resolution") {
    val docs = Tables.documents(spark, sf0001)
    val viaPipeline = Llm.dedupPipeline(docs,
        _ => SparkEntry.queries("dedup_near_jaccard")(spark, sf0001)
          .select("d1", "d2"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val declared = SparkEntry.queries("dedup_cluster")(spark, sf0001)
      .collect().map(_.getLong(0)).toSet
    assert(viaPipeline == declared)
  }

  test("end-to-end: jaccard pairs at sf0.001 resolve to a deduped corpus") {
    val docs = Tables.documents(spark, sf0001)
    val pairs = SparkEntry.queries("dedup_near_jaccard")(spark, sf0001)
      .select("d1", "d2")
    val nDocs = docs.count()
    val nPairs = pairs.count()
    val kept = DedupClusters.survivors(docs, pairs, "doc_id")
    val nKept = kept.count()
    assert(nKept <= nDocs)
    // every cluster drops at least its non-min members; with pairs
    // present, strictly fewer docs survive
    if (nPairs > 0) assert(nKept < nDocs)
    // survivors contain no near-dup pair entirely within them
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    val survivedPairs = pairs.collect()
      .count(r => keptIds(r.getLong(0)) && keptIds(r.getLong(1)))
    assert(survivedPairs == 0, s"$survivedPairs near-dup pairs survived dedup")
  }

  test("components and dedup_simhash leave no entry in the session CacheManager") {
    def cached = org.apache.spark.sql.GraftTestBridge.cachedEntries(spark)
    val before = cached
    // 4 partitions: the iterating path, whose edge frames are read per round
    val pairs = (0L until 10L).flatMap(c => Seq((10 * c, 10 * c + 1),
      (10 * c + 1, 10 * c + 2))).toDF("d1", "d2")
    assert(DedupClusters.components(pairs, numPartitions = 4).count() == 30)
    ops.Analysis.dedupSimhash(spark, sf0001).count()
    assert(cached <= before,
      s"${cached - before} per-query frames left in the CacheManager")
  }
}
