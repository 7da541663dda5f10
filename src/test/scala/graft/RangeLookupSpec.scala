package graft

import java.nio.file.{Files, Paths}

import graft.sources.FreqStoreScanBuilder
import graft.varda.{FreqStore, VardaOps}
import org.apache.parquet.filter2.compat.FilterCompat.FilterPredicateCompat
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The committed store's region-range serving tier [U GET
  * /variants?region=chrom:begin-end]: `lookupRange` must be row-equal to
  * `serve()` filtered to the range, its range predicate must reach the
  * store scan's parquet filter, and compaction must leave the
  * point-keyed components SORTED by (chromosome, position) within each
  * bucket file — the layout that turns the pushed predicate into
  * row-group skipping at scale. */
class RangeLookupSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(Paths.get("/root/repo/target"), prefix).toString

  private def freqKey(df: DataFrame) = df.collect()
    .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3)) ->
      ((r.getLong(4), r.getLong(5), r.getLong(6)))).toMap

  /** A 3-batch store spreading points over two chromosomes and many
    * buckets, compacted into the serving layout. */
  private def buildStore(dir: String): FreqStore = {
    val store = new FreqStore(spark, dir, nBuckets = 4)
    val obsB = Seq(
      (0 until 40).map(i => ("7", 1000L + i * 997L, "A", "C", 1 + i % 2)),
      (0 until 40).map(i => ("9", 1500L + i * 991L, "G", "T", 2)),
      (0 until 10).map(i => ("7", 20000L + i * 499L, "C", "G", 3)))
      .map(_.toDF("chromosome", "position", "reference", "observed", "support"))
    val cov = (0 until 60).map(i =>
      (i.toLong, if (i % 2 == 0) "7" else "9", i / 2 * 1500L,
        i / 2 * 1500L + 1499L, 1L + i % 2, 2)).toDF(
      "region_id", "chromosome", "begin_pos", "end_pos", "sample_id", "pool_size")
    val smp = Seq((1L, 2, true), (2L, 3, true), (9L, 3, false)).toDF(
      "sample_id", "pool_size", "has_coverage")
    store.commit(0, obsB(0), cov, smp)
    store.commit(1, obsB(1), cov.filter("false"), smp.filter("false"))
    store.commit(2, obsB(2), cov.filter("false"), smp.filter("false"))
    store.compact()
    store
  }

  test("lookupRange equals serve() filtered to the range") {
    val store = buildStore(tmpDir("fqs_range"))
    val exp = freqKey(store.serve()
      .filter($"chromosome" === "7" && $"position".between(15000L, 30000L)))
    val got = freqKey(store.lookupRange("7", 15000L, 30000L))
    assert(exp.nonEmpty, "vacuous fixture: no rows in the probe range")
    assert(got == exp)
    // boundary-inclusive on both ends: a 1-point range serves the point
    val p = exp.keys.head
    assert(freqKey(store.lookupRange(p._1, p._2, p._2)) == Map(p -> exp(p)))
  }

  test("lookupRange opens only the range's cells' buckets (round-12 layout)") {
    // the single-column bucket hash lets a range NAME its buckets: the
    // read must open a subset of the range-cells' bucket directories,
    // strictly fewer than the full store's
    val store = buildStore(tmpDir("fqs_rangeprune"))
    def bktsOf(files: Seq[String]) = files.flatMap(f =>
      "bkt=(\\d+)".r.findFirstMatchIn(f).map(_.group(1).toInt)).toSet
    val all = bktsOf(store.serve().inputFiles.toSeq)
    assert(all.size >= 3, s"fixture must spread buckets, got $all")
    val expect = FreqStore.rangeBuckets(20000L, 24000L, store.nBkts).get
    val (got, nScans) = scannedBuckets(store.lookupRange("7", 20000L, 24000L))
    assert(graft.sources.FreqStoreDataSource.lastPlannedBuckets == Some(expect),
      s"range scan planned ${graft.sources.FreqStoreDataSource.lastPlannedBuckets}, " +
        s"not its cells' buckets $expect")
    assert(nScans == 1 && got.nonEmpty && got.subsetOf(expect),
      s"range read opened buckets outside its cells': $got vs $expect")
    assert(got.size < all.size,
      s"range read did not prune ($got of $all)")
    // an enormous range prunes nothing and still serves correctly
    assert(FreqStore.rangeBuckets(0L, Long.MaxValue / 2, store.nBkts).isEmpty)
  }

  test("the range predicate reaches the parquet scans as pushed filters") {
    val store = buildStore(tmpDir("fqs_rangepush"))
    val df = store.lookupRange("7", 15000L, 30000L)
    // ONE store scan reads numer and denom, and its readers apply the
    // pushed range to both components' parquet reads
    val (_, nScans) = scannedBuckets(df)
    assert(nScans == 1, s"expected one freqstore scan, got $nScans")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("FileScan") && !plan.contains("BroadcastExchange"),
      s"range lookup fell back to the file-scan join:\n$plan")
    val r = graft.sources.FreqStoreDataSource.lastPlannedRange
    assert(r == FreqStoreScanBuilder.PushedRange(Some("7"), Some(15000L),
      Some(30000L)), s"range not pushed: $r")
    val pushed = r.toParquetFilter.collect {
      case f: FilterPredicateCompat => f.getFilterPredicate.toString }.getOrElse("")
    for (term <- Seq("gteq(position, 15000)", "lteq(position, 30000)",
        "eq(chromosome, Binary{\"7\"})"))
      assert(pushed.contains(term), s"$term missing from parquet filter: $pushed")
  }

  test("compaction leaves point-keyed bucket files sorted by (chromosome, position)") {
    val dir = tmpDir("fqs_rangesort")
    buildStore(dir)
    // after compact(retainGens = 0) the only live data is the snapshot
    // generation; every numer/denom/pts/obslog bucket file in it must be
    // internally sorted — the property that gives row groups tight
    // min/max stats
    for ((comp, key) <- Seq("numer" -> "position", "denom" -> "position",
        "pts" -> "position", "obslog" -> "position", "cover" -> "cell")) {
      val files = Files.walk(Paths.get(dir)).toArray.map(_.toString)
        .filter(p => p.contains(s"comp=$comp/") && p.endsWith(".parquet"))
      assert(files.nonEmpty, s"no $comp files found after compaction")
      for (f <- files) {
        val rows = spark.read.parquet(f)
          .select("chromosome", key)
          .collect().map(r => (r.getString(0), r.getLong(1)))
        assert(rows.sameElements(rows.sortBy(identity)),
          s"$f is not sorted by (chromosome, $key)")
      }
    }
  }

  test("lookupRangeFiltered equals lookupPointsFiltered over the range's observed points") {
    val store = buildStore(tmpDir("fqs_rangeexpr"))
    val pred = col("sample_id") % 2 === 0
    // ground truth: enumerate the range's observed points and serve
    // them through the spec-pinned point-filtered path
    val pts = store.lookupRange("7", 15000L, 30000L)
      .select("chromosome", "position").distinct()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(pts.nonEmpty, "vacuous fixture: no observed points in range")
    val exp = freqKey(store.lookupPointsFiltered(pts, pred))
    val got = freqKey(store.lookupRangeFiltered("7", 15000L, 30000L, pred))
    assert(got == exp)
    // the range form's obslog and cover scans carry pushed predicates
    val scans = store.lookupRangeFiltered("7", 15000L, 30000L, pred)
      .queryExecution.executedPlan.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan.collect {
            case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      }.flatten
    val pushed = scans.map(_.metadata("PushedFilters"))
    assert(pushed.exists(_.contains("GreaterThanOrEqual(position,15000)")),
      s"obslog range not pushed: $pushed")
    assert(pushed.exists(_.contains("GreaterThanOrEqual(cell,")),
      s"cover cell window not pushed: $pushed")
  }

  test("declared key varda_freq_lookup_range matches the one-shot restricted to the range") {
    val d = "/root/testdata/sf0.001"
    val got = VardaOps.queries("varda_freq_lookup_range")(spark, d)
    val oneShot = VardaOps.frequencyFrom(
      VardaOps.obs(spark, d), VardaOps.cov(spark, d), VardaOps.smp(spark, d),
      withZyg = false)
      .filter($"chromosome" === "7" && $"position".between(20000L, 40000L))
    assert(freqKey(got) == freqKey(oneShot))
    assert(got.count() > 0, "vacuous probe range at sf0.001")
  }
}
