package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Explain.normalized` masks every per-run token of a plan dump, so
  * dumps of one query from two runs diff line for line. */
class ExplainSpec extends AnyFunSuite {

  test("normalized masks ids, scratch roots, object hashes, warehouse and stream run dirs") {
    def plan(id: Int, app: Long, lambda: String, hash: String, agg: String,
        checkout: String, run: Long) =
      s"""Project [chromosome#$id, (numer#${id + 1} * 1000000) AS x#${id + 2}]
         |+- ObjectHashAggregate(keys=[qid#$id], functions=[topkbyscore(nid#$id, graft.functions.TopKByScore@$agg, true)])
         |+- Exchange hashpartitioning(obs_id#$id, 8), ENSURE_REQUIREMENTS, [plan_id=${id * 3}]
         |   +- MapPartitions graft.ops.DedupClusters$$$$$$Lambda$lambda@$hash, obj#$id
         |      +- BatchScan freqstore[/tmp/graft-scratch/local-$app/freq_store_retract__root_testdata_sf0_01]
         |         +- FileScan parquet [a#$id] Location: InMemoryFileIndex(1 paths)[file:$checkout/spark-warehouse/bucketed_obs], Bucketed: true
         |            +- FileScan parquet [b#$id] Location: InMemoryFileIndex(1 paths)[file:/tmp/graft-scratch/local-$app/stream_store_changes__x/run$run/out]""".stripMargin
    val a = Explain.normalized(plan(123, 1787049027286L,
      "$5219/0x00007f60a939e978", "2605433", "7a48da6", "/home/dev/vardaspark", 4411872293L))
    val b = Explain.normalized(plan(98, 1787067472129L,
      "/0x000075a1c8e3f2a8", "6d1e7f2a", "13c33a12", "/home/ci/checkout", 9071122334455L))
    assert(a == b)
    assert(a.contains("chromosome#x") && a.contains("[plan_id=x]"))
    assert(a.contains("/tmp/graft-scratch/local-x/freq_store_retract__"))
    assert(a.contains("graft.ops.DedupClusters$$$Lambda@x, obj#x"))
    assert(a.contains("graft.functions.TopKByScore@x, true"))
    assert(a.contains("[spark-warehouse/bucketed_obs]"))
    assert(a.contains("/stream_store_changes__x/runx/out]"))
    // what the masks leave alone: names, literals, partition counts
    assert(a.contains("hashpartitioning(obs_id#x, 8)") && a.contains("* 1000000"))
  }
}
