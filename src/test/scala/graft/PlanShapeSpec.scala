package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions (SURVEY.md §5.4): the plans that matter at
  * scale are actually the plans we get — broadcast vs sort-merge pinned,
  * projection and filters pushed into the parquet scan, top-k as
  * TakeOrdered rather than a full sort. */
class PlanShapeSpec extends AnyFunSuite {
  import TestSpark._

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan.toString

  /** A test of the scale plans: `localMaxBytes=0` keeps GlobalRank off
    * its small-input path (one plain window), which sf0.001 would take. */
  private def chunkedTest(name: String)(body: => Any)(
      implicit pos: org.scalactic.source.Position): Unit =
    test(name)(withLocalMaxBytes(0L)(body))

  /** Those of `keys` whose physical plan at sf0.001 holds a
    * partition-less window with no aggregate below it. */
  private def withGlobalWindowOverRows(keys: Seq[String]): Seq[String] = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    keys.filter { k =>
      val p = SparkEntry.queries(k)(spark, sf0001).queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
      p.exists {
        case w: WindowExec => w.partitionSpec.isEmpty &&
          w.child.collectFirst { case a: BaseAggregateExec => a }.isEmpty
        case _ => false
      }
    }
  }

  test("join_broadcast plans a BroadcastHashJoin") {
    assert(plan("join_broadcast").contains("BroadcastHashJoin"))
  }

  test("join_sort_merge plans a SortMergeJoin") {
    assert(plan("join_sort_merge").contains("SortMergeJoin"))
  }

  test("scan_projection_pushdown prunes the read schema to 2 columns") {
    val p = plan("scan_projection_pushdown")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int>"),
      s"schema not pruned:\n$p")
    assert(!p.contains("l_quantity"))
  }

  test("filter_conjunct pushes predicates into the parquet scan") {
    val p = plan("filter_conjunct")
    assert(p.contains("PushedFilters: [") && !p.contains("PushedFilters: []"),
      s"no pushed filters:\n$p")
  }

  test("source_partition_prune resolves the filter to a partition filter") {
    val p = plan("source_partition_prune")
    assert("PartitionFilters: \\[[^\\]]*event_type".r.findFirstIn(p).isDefined,
      s"event_type filter did not become a PartitionFilter:\n$p")
  }

  test("join_skew_salted joins on the salted key (equi-join, dim replicated)") {
    val p = plan("join_skew_salted")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"salted join fell back to a non-equi plan:\n$p")
    assert(p.contains("__salt"), s"no salt column in the join plan:\n$p")
  }

  test("join_bucket_colocated sort-merge-joins with no exchange between scan and join") {
    val df = SparkEntry.queries("join_bucket_colocated")(spark, sf0001)
    df.collect() // force AQE final plan
    // AQE's plan string appends an "Initial Plan" section; only the final
    // plan's join subtree matters
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("SortMergeJoin"), s"not an SMJ:\n$p")
    // the only allowed exchange is the final ORDER BY's range partition —
    // nothing between the bucketed scans and the join
    val joinPart = p.substring(p.indexOf("SortMergeJoin"))
    assert(!joinPart.contains("Exchange"),
      s"bucketed join still shuffles its inputs:\n$p")
    assert(p.contains("SelectedBucketsCount"), s"no bucket metadata:\n$p")
  }

  test("topk_global plans TakeOrderedAndProject (no full sort+shuffle)") {
    assert(plan("topk_global").contains("TakeOrderedAndProject"))
  }

  test("sample_bottomk plans TakeOrderedAndProject (bottom-k, not a full sort)") {
    assert(plan("sample_bottomk").contains("TakeOrderedAndProject"))
  }

  test("varda containment joins are equi-joins, not nested-loop") {
    for (k <- Seq("varda_coverage_join", "join_range_interval")) {
      val p = plan(k)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$k fell back to a quadratic join:\n$p")
    }
  }

  test("join_range_rewrite: the Catalyst rule turned the naive range join into a bin equi-join") {
    val p = plan("join_range_rewrite")
    assert(p.contains("__graft_bin"), s"rewrite did not fire:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"rewritten join still quadratic:\n$p")
  }

  test("join_range_overlap_rewrite: the naive overlap join became the bucketed emit-once equi-join") {
    val p = plan("join_range_overlap_rewrite")
    assert(p.contains("__graft_obin"), s"overlap rewrite did not fire:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"rewritten overlap join still quadratic:\n$p")
  }

  test("varda_freq_lookup reads only its probe points' store buckets") {
    val df = SparkEntry.queries("varda_freq_lookup")(spark, sf0001)
    val (bktIds, nScans) = scannedBuckets(df)
    assert(nScans == 1, s"expected one freqstore scan, got $nScans")
    val bkts = bktIds.map(_.toString)
    val served = graft.varda.VardaOps.queries("varda_freq_incremental")(spark, sf0001)
    val allBkts = served.inputFiles.toSeq
      .filter(f => f.contains("comp=numer") || f.contains("comp=denom"))
      .flatMap("bkt=([0-9]+)".r.findFirstMatchIn(_)).map(_.group(1)).toSet
    assert(bkts.nonEmpty && bkts.size < allBkts.size,
      s"lookup did not prune: probes read $bkts of $allBkts")
  }

  test("aggregation does map-side partial aggregation before the shuffle") {
    val p = plan("agg_groupby_sums")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"no partial aggregate below the exchange:\n$p")
  }

  test("dedup_exact shuffles sha256 keys, not document text") {
    val p = plan("dedup_exact")
    assert(p.contains("sha2"), s"no sha2 grouping key:\n$p")
  }

  test("frequency's only nested-loop join is the tiny coverage-less broadcast") {
    // the pts × coverage-less-samples cross join is a broadcast of <= 3
    // rows by construction; anything beyond that single BNLJ would mean a
    // quadratic fallback crept into the interval or aggregation joins
    for (k <- Seq("varda_frequency", "agg_freq_ratio", "varda_sample_expr")) {
      val p = plan(k)
      assert(p.split("BroadcastNestedLoopJoin").length - 1 <= 1,
        s"$k has more than the one sanctioned BNLJ:\n$p")
      assert(!p.contains("CartesianProduct"), s"$k planned a cartesian:\n$p")
    }
  }

  test("banded simhash candidates come from an equi-join") {
    val p = plan("dedup_simhash")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"simhash candidate generation fell back to a quadratic join:\n$p")
  }

  test("no declared query plans an unsanctioned quadratic join") {
    // keys whose plans legitimately contain a cartesian/BNLJ: the explicit
    // cross join, 1-row count broadcasts (tfidf, ntile), the tile-grid
    // cosine kernels (block-pair enumeration over O(blocks) rows), and the
    // frequency family's dimension-sized coverage-less broadcast
    // source_vcf_file's one BNLJ is the 1-row #CHROM-header broadcast;
    // varda_freq_incremental / varda_annotate_multi inherit the frequency
    // family's dimension-sized coverage-less broadcast;
    // stream_late_watermark's and win_global_rank's (and win_ntile_pct's
    // and pack_sequences', via GlobalRank) is the 1-row key-bounds
    // broadcast that makes their arithmetic chunking deterministic;
    // sample_mixture's is the 1-row min-language quota broadcast;
    // sample_temperature's is the 1-row (Σweight, budget) broadcast the
    // per-language quotas divide by; text_perplexity's is the 1-row
    // total-token-count broadcast its per-term surprisal divides by;
    // text_line_dedup's is the 1-row corpus-doc-count broadcast its
    // relative (df·20 > ndocs) hot-line threshold compares against;
    // graph_pagerank's is the 1-row vertex-count broadcast feeding the
    // base-rank term of every message round;
    // sim_ann_ivf_persist's is the KB-sized centroid-frame broadcast its
    // probe step scores every query against (cells ~ √n — the quantizer
    // IS the dimension table of an IVF index);
    // sink_vcf inherits source_vcf_file's 1-row-per-file #CHROM-header
    // broadcast through the shared Vcf.parseVcfLines reader
    // sim_ann_ivf_rebuild shares sim_ann_ivf_persist's serving path —
    // the same KB-sized centroid-frame broadcast, against the
    // post-rebuild quantizer
    val sanctioned = Set("join_cross", "text_tfidf", "win_ntile_pct",
      "graph_pagerank", "sim_ann_ivf_persist", "sim_ann_ivf_rebuild",
      "sink_vcf",
      "sim_topk_cosine", "dedup_near_embedding", "varda_frequency",
      "agg_freq_ratio", "varda_sample_expr", "varda_annotate",
      "source_vcf_file", "varda_freq_incremental",
      "varda_freq_lookup_range_expr",
      "varda_freq_lookup_expr", "varda_freq_lookup_multi",
      "varda_freq_asof", // serveFrom's 1-row coverage-less pool broadcast
      "stream_store_changes_freq", // refoldChanges ends in the same serveFrom
      "stream_store_changes_bootstrap", // bootstrap refold: same serveFrom
      "sink_vcf_multi", // inherits the per-file #CHROM-header broadcast
      "varda_annotate_store", "varda_annotate_multi",
      "stream_late_watermark", "win_global_rank",
      "pack_sequences", "sample_mixture", "sample_temperature",
      "text_perplexity", "varda_sample_retract", "text_line_dedup", "varda_trio_denovo")
    for ((k, fn) <- SparkEntry.queries.toSeq.sortBy(_._1) if !sanctioned(k)) {
      val p = fn(spark, sf0001).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$k plans a quadratic join:\n$p")
    }
  }

  test("literal-k rank filters plan map-side WindowGroupLimit pruning") {
    // rank() <= <literal k> must become a Partial WindowGroupLimit below
    // the exchange: each task keeps k rows per group, so a
    // low-cardinality group key (sample_stratified partitions by lang)
    // never funnels whole groups through one sort. The samplers whose
    // quota is a COLUMN (sample_mixture/sample_temperature) can't use
    // this optimization — they route through
    // GlobalRank.withGroupedRowNumber instead.
    for (k <- Seq("sample_stratified", "topk_per_group")) {
      val p = SparkEntry.queries(k)(spark, sf0001)
        .queryExecution.executedPlan.toString
      assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
        s"$k lost map-side group-limit pruning:\n$p")
    }
  }

  chunkedTest("no declared query runs a global window over unaggregated data") {
    // Window.orderBy with no partition key moves ALL rows to one
    // partition — the scale-killer GlobalRank and the chunked running max
    // exist to avoid. A global window is sanctioned only above an
    // aggregation (per-partition offsets, per-chunk prefixes: O(groups)
    // rows, never the table).
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    for ((k, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val df = fn(spark, sf0001)
      def stripAqe(p: SparkPlan): SparkPlan = p match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
      val globals = stripAqe(df.queryExecution.executedPlan).collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      for (w <- globals) {
        val aboveAgg = w.child.collectFirst {
          case a: BaseAggregateExec => a }.isDefined
        assert(aboveAgg,
          s"$k runs a global window over unaggregated data:\n$w")
      }
    }
  }

  test("keys with a small-input global window plan none at localMaxBytes=0") {
    // at sf0.001 GlobalRank's small-input path legitimately ranks in one
    // single-partition window; the same keys must fall back to the
    // chunked plans the test above checks once the gate is closed
    val small = withGlobalWindowOverRows(SparkEntry.queries.keys.toSeq.sorted)
    assert(small.contains("win_global_rank"),
      s"win_global_rank should take the small-input window: $small")
    val atScale = withLocalMaxBytes(0L)(withGlobalWindowOverRows(small))
    assert(atScale.isEmpty, s"global windows over rows at localMaxBytes=0: $atScale")
  }

  test("whole-stage codegen covers the hot aggregation path") {
    // AQE only shows codegen in the final plan, so execute first.
    val df = SparkEntry.queries("agg_groupby_sums")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // codegen'd stages carry the `*(n)` marker in simpleString output
    assert("\\*\\(\\d+\\) HashAggregate".r.findFirstIn(p).isDefined,
      s"hash aggregate not codegen'd:\n$p")
  }
}
