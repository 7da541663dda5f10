package graft

import graft.varda.VardaOps
import org.scalatest.funsuite.AnyFunSuite

/** The reference's core frequency semantics (SURVEY.md §1 item 3), pinned
  * on crafted rows: a sample with no coverage profile counts as covering
  * every position; a sample covers a position once however many of its
  * regions overlap it; the denominator is pool_size × ploidy with
  * per-chromosome ploidy (haploid X/Y/MT). */
class FrequencySemanticsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  // obs: one variant on chr1 at 5000, one on X at 5000
  private def obsDf = Seq(
    ("1", 5000L, "A", "C", 1L, 3, "heterozygous"),
    ("X", 5000L, "A", "C", 2L, 1, "homozygous")
  ).toDF("chromosome", "position", "reference", "observed",
    "sample_id", "support", "zygosity")

  // coverage: sample 1 covers chr1:5000 with TWO overlapping regions
  // (must count once); sample 2 covers X:5000; sample 1 also has an X
  // region that does NOT contain 5000 (must not count).
  private def covDf = Seq(
    (10L, "1", 4000L, 6000L, 1L, 2),
    (11L, "1", 4500L, 5500L, 1L, 2),
    (12L, "X", 4000L, 6000L, 2L, 5),
    (13L, "X", 9000L, 9500L, 1L, 2)
  ).toDF("region_id", "chromosome", "begin_pos", "end_pos",
    "sample_id", "pool_size")

  // samples: 1 and 2 have coverage profiles; 3 has NONE (pool 7) and
  // therefore covers everything.
  private def smpDf = Seq(
    (1L, 2, true), (2L, 5, true), (3L, 7, false)
  ).toDF("sample_id", "pool_size", "has_coverage")

  test("coverage-less samples, overlap dedup, and ploidy shape the denominator") {
    val out = VardaOps.frequencyFrom(obsDf, covDf, smpDf, withZyg = true)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(4), r.getLong(5), r.getLong(6))).toMap

    // chr1:5000 — covering: sample 1 (once, despite two regions, 2×2=4)
    //           + coverage-less sample 3 (7×2=14) → denom 18; numer 3.
    assert(out(("1", 5000L)) == ((3L, 18L, 3L * 1000000 / 18)))

    // X:5000 (haploid) — covering: sample 2 (5×1=5) + sample 3 (7×1=7)
    //           → denom 12; sample 1's non-containing X region excluded.
    assert(out(("X", 5000L)) == ((1L, 12L, 1L * 1000000 / 12)))
  }

  test("zygosity split divides by the same denominator") {
    val rows = VardaOps.frequencyFrom(obsDf, covDf, smpDf, withZyg = true)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(7), r.getLong(8)))).toMap
    // chr1 obs is heterozygous support 3 → het 3/18, hom 0
    assert(rows("1") == ((3L * 1000000 / 18, 0L)))
    // X obs is homozygous support 1 → het 0, hom 1/12
    assert(rows("X") == ((0L, 1L * 1000000 / 12)))
  }
}
