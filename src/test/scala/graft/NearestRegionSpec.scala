package graft

import graft.varda.VardaOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic pins + fixture parity for [[VardaOps.nearestRegionFrom]] (the
  * bedtools-closest analog): crafted rows cover every branch (covered,
  * between intervals, before the first, after the last, bare
  * chromosome), then the distributed sweep is checked row-identical to a
  * naive per-(point, interval) min on the sf0.001 fixture. */
class NearestRegionSpec extends AnyFunSuite {
  import TestSpark._

  test("nearest distance: every branch on crafted rows") {
    import spark.implicits._
    // intervals on chr 1: [100, 200] and [500, 600]; chr 2 has none
    val cov = Seq((1L, "1", 100L, 200L, 1L, 1), (2L, "1", 500L, 600L, 1L, 1))
      .toDF("region_id", "chromosome", "begin_pos", "end_pos",
        "sample_id", "pool_size")
    val pts = Seq(
      ("1", 150L), // inside the first interval -> 0
      ("1", 200L), // on the inclusive end -> 0
      ("1", 290L), // between: 90 behind vs 210 ahead -> 90
      ("1", 450L), // between: 250 behind vs 50 ahead -> 50
      ("1", 50L),  // before the first interval -> 50
      ("1", 800L), // after the last interval -> 200
      ("2", 42L)   // chromosome with no intervals -> -1
    ).toDF("chromosome", "position")
    val out = VardaOps.nearestRegionFrom(pts, cov)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq(("1", 50L, 50L), ("1", 150L, 0L), ("1", 200L, 0L),
      ("1", 290L, 90L), ("1", 450L, 50L), ("1", 800L, 200L), ("2", 42L, -1L)))
  }

  test("fixture parity: sweep equals the naive per-interval min at sf0.001") {
    val pts = VardaOps.obs(spark, sf0001)
      .select("chromosome", "position").distinct()
    val cov = VardaOps.cov(spark, sf0001)
    val naive = pts.join(cov.select("chromosome", "begin_pos", "end_pos"),
        Seq("chromosome"), "left")
      .groupBy("chromosome", "position")
      .agg(coalesce(min(
        when(col("position").between(col("begin_pos"), col("end_pos")), 0L)
          .otherwise(greatest(col("begin_pos") - col("position"),
            col("position") - col("end_pos")))), lit(-1L)).as("nearest_dist"))
    // both sides of GlobalRank's size gate: sf0.001 runs the one-window
    // sweep by default, the chunked running max under localMaxBytes=0
    def check(): Unit = {
      val swept = VardaOps.nearestRegionFrom(pts, cov)
      assert(swept.count() == pts.count(), "one output row per distinct point")
      // rows are unique per (chromosome, position), so set-except suffices
      assert(swept.except(naive).count() == 0, "sweep rows missing from naive")
      assert(naive.except(swept).count() == 0, "naive rows missing from sweep")
    }
    check()
    withLocalMaxBytes(0L)(check())
  }
}
