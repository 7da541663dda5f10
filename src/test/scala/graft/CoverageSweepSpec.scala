package graft

import graft.varda.VardaOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{count, lit, sum}
import org.scalatest.funsuite.AnyFunSuite

/** The pair-free (interval-stabbing sweep) form of the coverage-join
  * aggregates must be row-identical to the binned containment join's —
  * on crafted boundary cases and on the real fixture. */
class CoverageSweepSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def rows(df: DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  /** The reference form: the binned containment JOIN's pair set,
    * aggregated per observation (obs_id, n_regions, total_pool). */
  private def coverageAggByJoin(obsDf: DataFrame, covDf: DataFrame): DataFrame =
    VardaOps.bucketedContainment(
        obsDf.select("obs_id", "chromosome", "position"), covDf)
      .groupBy("obs_id")
      .agg(count(lit(1)).as("n_regions"),
        sum($"pool_size").cast("long").as("total_pool"))

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
    val viaJoin = rows(coverageAggByJoin(obs, cov))
    // both sides of GlobalRank's size gate: these rows run the one-window
    // sweep by default, the chunked running sums under localMaxBytes=0
    def check(): Unit = {
      val viaSweep = VardaOps.coverageAggBySweep(obs, cov)
      assert(rows(viaSweep) == viaJoin)
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
    val viaJoin = rows(coverageAggByJoin(
      VardaOps.obs(spark, d), VardaOps.cov(spark, d)))
    def viaKey() = VardaOps.vardaCoverageJoin(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaKey() == viaJoin)
    assert(withLocalMaxBytes(0L)(viaKey()) == viaJoin, "chunked sweep")
  }

  test("varda_annotate_multi: the containment join and the chunked sweep give the same rows") {
    // the denominators take the join below GlobalRank's small-input
    // threshold and the merged-interval sweep at localMaxBytes=0
    def run(): (Set[String], Set[String]) = {
      val df = VardaOps.vardaAnnotateMulti(spark, sf0001)
      val cols = df.queryExecution.analyzed.collect { case p => p.output }
        .flatten.map(_.name).toSet
      (df.collect().map(_.toString).toSet, cols)
    }
    val (viaJoin, joinCols) = run()
    val (viaSweep, sweepCols) = withLocalMaxBytes(0L)(run())
    assert(joinCols.contains("bkt") && !joinCols.contains("mass_even"),
      "the default did not take the containment join")
    assert(sweepCols.contains("mass_even") && !sweepCols.contains("bkt"),
      "localMaxBytes=0 did not take the sweep")
    assert(viaJoin.nonEmpty)
    assert(viaSweep == viaJoin)
  }
}
