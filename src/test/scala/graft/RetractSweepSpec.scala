package graft

import graft.varda.VardaOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The pair-free denominator machinery behind the round-11
  * [[VardaOps.FreqState]]: interval merge, per-sample interval
  * subtraction, and the stabbing-sweep mass — each pinned against the
  * pair-enumerating containment form it replaced, on crafted boundary
  * cases and on the real fixture. */
class RetractSweepSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def covRows(rows: (Long, String, Long, Long, Int)*): DataFrame =
    rows.toDF("sample_id", "chromosome", "begin_pos", "end_pos", "pool_size")

  private def massSet(df: DataFrame) = df.collect()
    .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  /** The covered part of [[VardaOps.denomFor]] — pair-enumerated ground
    * truth (distinct (point, sample) containment pairs × pool × ploidy). */
  private def denomCovByPairs(pts: DataFrame, cov: DataFrame): DataFrame =
    VardaOps.bucketedContainment(pts, cov)
      .select("chromosome", "position", "sample_id", "pool_size").distinct()
      .groupBy("chromosome", "position")
      .agg((sum($"pool_size") * VardaOps.ploidy).cast("long").as("denom_cov"))

  test("mergeIntervals coalesces overlap and adjacency per sample") {
    val got = VardaOps.mergeIntervals(covRows(
        (1L, "1", 10L, 20L, 2), (1L, "1", 15L, 30L, 2),  // overlap
        (1L, "1", 31L, 40L, 2),                          // adjacent
        (1L, "1", 50L, 60L, 2),                          // gap
        (2L, "1", 18L, 25L, 5),                          // other sample: no merge across
        (1L, "2", 10L, 20L, 2)))                         // other chromosome
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getInt(4))).toSet
    assert(got == Set(
      (1L, "1", 10L, 40L, 2), (1L, "1", 50L, 60L, 2),
      (2L, "1", 18L, 25L, 5), (1L, "2", 10L, 20L, 2)))
  }

  test("subtractIntervals emits exactly the uncovered-before fragments") {
    val after = covRows(
      (1L, "1", 10L, 40L, 2),   // before covers [15,25] → two fragments
      (1L, "1", 50L, 60L, 2),   // untouched by before → whole interval
      (2L, "1", 5L, 9L, 5))     // sample with no before rows
    val before = covRows(
      (1L, "1", 15L, 25L, 2))
    val got = VardaOps.subtractIntervals(after, before)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got == Set(
      (1L, "1", 10L, 14L), (1L, "1", 26L, 40L),
      (1L, "1", 50L, 60L), (2L, "1", 5L, 9L)))
    // identical frames subtract to nothing (the re-imported-overlap case)
    assert(VardaOps.subtractIntervals(after, after).isEmpty)
  }

  test("denomCovBySweep equals the pair-enumerated form on crafted boundaries") {
    val pts = Seq(
      ("1", 50L),   // exactly at a begin
      ("1", 100L),  // interior, two samples — one via two overlapping regions
      ("1", 200L),  // exactly at an end
      ("1", 201L),  // one past an end
      ("1", 999L),  // uncovered
      ("2", 100L))  // single-point region
      .toDF("chromosome", "position")
    val cov = covRows(
      (1L, "1", 50L, 200L, 2),
      (1L, "1", 90L, 150L, 2),   // overlaps sample 1's own region: counts once
      (2L, "1", 90L, 500L, 5),
      (3L, "2", 100L, 100L, 7))
    // at the default (one window) and chunked (localMaxBytes=0)
    def check(): Unit = {
      assert(massSet(VardaOps.denomCovBySweep(pts, cov)) ==
        massSet(denomCovByPairs(pts, cov)))
      val m = massSet(VardaOps.denomCovBySweep(pts, cov))
        .map(t => (t._1, t._2) -> t._3).toMap
      assert(m(("1", 100L)) == (2 + 5) * 2L)  // dedup held; autosome ploidy 2
      assert(m(("1", 201L)) == 5L * 2L)
      assert(!m.contains(("1", 999L)))
    }
    check()
    withLocalMaxBytes(0L)(check())
  }

  test("denomCovBySweep equals the pair-enumerated form on the fixture") {
    val pts = VardaOps.obs(spark, sf0001)
      .select("chromosome", "position").distinct()
    val cov = VardaOps.cov(spark, sf0001)
    def check(): Unit = assert(massSet(VardaOps.denomCovBySweep(pts, cov)) ==
      massSet(denomCovByPairs(pts, cov)))
    check()
    withLocalMaxBytes(0L)(check())
  }

  test("declared varda_sample_retract (sweep state) equals the remaining-samples one-shot on the fixture") {
    val gone = Seq(4, 14)
    val got = VardaOps.vardaSampleRetract(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3),
        r.getLong(4), r.getLong(5))).toSeq
    val exp = VardaOps.frequencyFrom(
        VardaOps.obs(spark, sf0001).filter(!$"sample_id".isin(gone: _*)),
        VardaOps.cov(spark, sf0001).filter(!$"sample_id".isin(gone: _*)),
        VardaOps.smp(spark, sf0001).filter(!$"sample_id".isin(gone: _*)),
        withZyg = false)
      .orderBy("chromosome", "position", "reference", "observed")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == exp)
  }
}
