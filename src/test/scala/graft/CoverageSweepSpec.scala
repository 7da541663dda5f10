package graft

import graft.varda.VardaOps
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The pair-free (interval-stabbing sweep) form of the coverage-join
  * aggregates must be row-identical to the binned containment join's —
  * on crafted boundary cases and on the real fixture. */
class CoverageSweepSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def rows(df: DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("sweep aggregates equal the containment join on crafted boundaries") {
    val obs = Seq(
      (1L, "1", 100L),   // inside both regions
      (2L, "1", 50L),    // exactly at a begin
      (3L, "1", 200L),   // exactly at an end
      (4L, "1", 201L),   // one past an end — only the wide region
      (5L, "1", 999L),   // uncovered (dropped: inner-join semantics)
      (6L, "2", 100L),   // other chromosome, its own region
      (7L, "3", 100L))   // chromosome with no regions at all
      .toDF("obs_id", "chromosome", "position")
    val cov = Seq(
      (10L, "1", 50L, 200L, 1L, 2),
      (11L, "1", 90L, 500L, 2L, 5),
      (12L, "2", 100L, 100L, 3L, 7))  // single-point region
      .toDF("region_id", "chromosome", "begin_pos", "end_pos",
        "sample_id", "pool_size")
    val viaJoin = VardaOps.bucketedContainment(
        obs, cov)
      .groupBy("obs_id")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_regions"),
        org.apache.spark.sql.functions.sum($"pool_size")
          .cast("long").as("total_pool"))
    // both sides of GlobalRank's size gate: these rows run the one-window
    // sweep by default, the chunked running sums under localMaxBytes=0
    def check(): Unit = {
      val viaSweep = VardaOps.coverageAggBySweep(obs, cov)
      assert(rows(viaSweep) == rows(viaJoin.select(
        $"obs_id", $"n_regions", $"total_pool")))
      // spot-pin the boundaries
      val m = rows(viaSweep).map(t => t._1 -> ((t._2, t._3))).toMap
      assert(m(1L) == ((2L, 7L)))
      assert(m(2L) == ((1L, 2L)))
      assert(m(3L) == ((2L, 7L)))
      assert(m(4L) == ((1L, 5L)))
      assert(!m.contains(5L) && !m.contains(7L))
      assert(m(6L) == ((1L, 7L)))
    }
    check()
    withLocalMaxBytes(0L)(check())
  }

  test("declared varda_coverage_join (sweep plan) equals the containment join on the fixture") {
    val d = "/root/testdata/sf0.001"
    val viaJoin = rows(VardaOps.coverageAggByJoin(
      VardaOps.obs(spark, d), VardaOps.cov(spark, d)))
    def viaKey() = VardaOps.vardaCoverageJoin(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaKey() == viaJoin)
    assert(withLocalMaxBytes(0L)(viaKey()) == viaJoin, "chunked sweep")
  }
}
