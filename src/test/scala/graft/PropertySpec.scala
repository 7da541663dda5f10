package graft

import graft.varda.{ExprLang, Normalize, VardaOps, VardaSql}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Seeded randomized property tests (SURVEY.md §5.3) for the varda
  * primitives: normalization, UCSC binning, containment-join equivalence,
  * and the sample expression language. */
class PropertySpec extends AnyFunSuite {
  import TestSpark._

  private val rnd = new Random(42)

  // ---- reference UCSC binning (plain Scala) ----------------------------
  private def assignBinRef(b: Long, e: Long): Long =
    Seq((585L, 17), (73L, 20), (9L, 23), (1L, 26))
      .collectFirst { case (off, sh) if (b >> sh) == (e >> sh) => off + (b >> sh) }
      .getOrElse(b >> 29)
  private def pointBinsRef(p: Long): Seq[Long] =
    Seq(585L + (p >> 17), 73L + (p >> 20), 9L + (p >> 23), 1L + (p >> 26), p >> 29)

  test("binning: a region's bin is always among its points' candidate bins") {
    for (_ <- 1 to 20000) {
      val b = rnd.nextLong((1L << 29) - 1)
      val e = math.min(b + rnd.nextLong(1L << rnd.nextInt(29)), (1L << 29) - 1)
      val p = b + (if (e > b) rnd.nextLong(e - b + 1) else 0L)
      val bin = assignBinRef(b, e)
      assert(pointBinsRef(p).contains(bin),
        s"bin $bin of [$b,$e] not in candidates of point $p")
    }
  }

  test("binning: containment implies bin ancestry levels are consistent") {
    for (_ <- 1 to 20000) {
      val b = rnd.nextLong((1L << 29) - 1)
      val e = math.min(b + rnd.nextLong(1L << rnd.nextInt(29)), (1L << 29) - 1)
      val bin = assignBinRef(b, e)
      // smallest level wins: if the 128kb bins agree, level-0 is assigned
      if ((b >> 17) == (e >> 17)) assert(bin == 585 + (b >> 17))
      else assert(bin < 585)
    }
  }

  test("binning SQL expression matches the Scala reference") {
    import spark.implicits._
    val rows = (1 to 500).map { i =>
      val b = rnd.nextLong((1L << 29) - 1)
      val e = math.min(b + rnd.nextLong(1L << rnd.nextInt(29)), (1L << 29) - 1)
      (i.toLong, b, e)
    }
    val got = rows.toDF("region_id", "begin_pos", "end_pos")
      .withColumn("bin",
        expr(VardaSql.assignBin("begin_pos", "end_pos", VardaSql.shrSpark)).cast(LongType))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    rows.foreach { case (id, b, e) =>
      assert(got(id) == assignBinRef(b, e), s"[$b,$e]")
    }
  }

  // ---- normalization ---------------------------------------------------
  private def randAllele(): String =
    (1 to (1 + rnd.nextInt(Normalize.MaxLen - 2)))
      .map(_ => "ACGT"(rnd.nextInt(4))).mkString

  test("normalize: idempotent, bounded shift, never empty, difference preserved") {
    for (_ <- 1 to 20000) {
      val (ref, alt, pos) = (randAllele(), randAllele(), 100L + rnd.nextInt(100000))
      val (p1, r1, a1) = Normalize.normalize(pos, ref, alt)
      assert(r1.nonEmpty && a1.nonEmpty, s"($ref,$alt) normalized to empty")
      assert(p1 >= pos && p1 <= pos + math.min(ref.length, alt.length) - 1)
      assert((ref == alt) == (r1 == a1), s"difference not preserved for ($ref,$alt)")
      val (p2, r2, a2) = Normalize.normalize(p1, r1, a1)
      assert((p2, r2, a2) == (p1, r1, a1), s"not idempotent for ($ref,$alt)")
    }
  }

  test("normalize Column pipeline matches the Scala reference") {
    import spark.implicits._
    val rows = (1 to 500).map(i =>
      (i.toLong, 100L + rnd.nextInt(100000), randAllele(), randAllele()))
    val got = Normalize.normalizeDf(rows.toDF("var_id", "position", "ref", "alt"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2), r.getString(3)))).toMap
    rows.foreach { case (id, pos, ref, alt) =>
      assert(got(id) == Normalize.normalize(pos, ref, alt), s"($pos,$ref,$alt)")
    }
  }

  // ---- containment joins ≡ naive range join ----------------------------
  test("bucketed containment join equals the naive range join") {
    import spark.implicits._
    // lengths deliberately straddle the 2^11 cell size: short regions
    // (≤1100), plus regions spanning 3+ interior cells (up to ~9 cells) —
    // the round-8 endpoint-only bucketing lost interior-cell points here
    val regions = (1 to 300).map { i =>
      val b = rnd.nextLong(100000)
      val len = if (i % 5 == 0) 5000L + rnd.nextLong(13000L)
                else rnd.nextInt(1100).toLong
      (i.toLong, (1 + rnd.nextInt(3)).toString, b, b + len, 1)
    }.toDF("region_id", "chromosome", "begin_pos", "end_pos", "pool_size")
    val points = (1 to 300).map { i =>
      (i.toLong, (1 + rnd.nextInt(3)).toString, rnd.nextLong(101100))
    }.toDF("obs_id", "chromosome", "position")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("obs_id", "region_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = pairs(points.join(regions,
      points("chromosome") === regions("chromosome")
        && points("position") >= regions("begin_pos")
        && points("position") <= regions("end_pos")))
    assert(naive.nonEmpty)
    assert(pairs(VardaOps.bucketedContainment(points, regions)) == naive)
  }

  test("liftover equals the naive chain lookup; both branches exercised") {
    Tables.registerViews(spark, sf0001)
    val chain = spark.sql(VardaSql.chain).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val got = VardaOps.vardaLiftover(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val pts = VardaOps.obs(spark, sf0001)
      .select("chromosome", "position").distinct().collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got.size == pts.length, "one output row per distinct point")
    pts.foreach { case (c, p) =>
      val m = chain.filter(x => x._1 == c && p >= x._2 && p <= x._3)
      assert(m.length <= 1, s"chain invariant violated at ($c, $p)")
      val want = m.headOption.map(x => p + x._4).getOrElse(-1L)
      assert(got((c, p)) == want, s"liftover at ($c, $p)")
    }
    assert(got.values.exists(_ != -1L), "no mapped point — fixture degenerate")
    assert(got.values.exists(_ == -1L), "no unmapped point — fixture degenerate")
  }

  test("bucketed interval-overlap join equals the naive quadratic join") {
    import spark.implicits._
    // lengths beyond one 2^11 bucket too — exercises multi-bucket explode
    val mkIv = (n: Int) => (1 to n).map { i =>
      val b = rnd.nextLong(100000)
      (i.toLong, (1 + rnd.nextInt(3)).toString, b, b + rnd.nextInt(3000))
    }
    val a = mkIv(250).toDF("region_a", "chromosome", "ba", "ea")
      .select("chromosome", "region_a", "ba", "ea")
    val b = mkIv(250).toDF("region_b", "chromosome", "bb", "eb")
      .select("chromosome", "region_b", "bb", "eb")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("region_a", "region_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val naive = pairs(a.join(b,
      a("chromosome") === b("chromosome")
        && a("ba") <= b("eb") && b("bb") <= a("ea")))
    assert(naive.nonEmpty)
    val got = pairs(VardaOps.bucketedOverlap(a, b))
    // exactly-once: compare as multisets, not sets — a dedup bug that
    // emitted a pair from several buckets would survive a Set compare
    assert(got.groupBy(identity).view.mapValues(_.size).toMap ==
      naive.groupBy(identity).view.mapValues(_.size).toMap)
  }

  // ---- expression language --------------------------------------------
  test("sample expression language evaluates like direct set algebra") {
    import spark.implicits._
    val ids = (0L to 19L).toDF("sample_id")
    val tags = Map(
      "even" -> (col("sample_id") % 2 === 0),
      "third" -> (col("sample_id") % 3 === 0),
      "fifth" -> (col("sample_id") % 5 === 0))
    def eval(s: String): Set[Long] =
      ids.filter(ExprLang.parse(s, tags)).collect().map(_.getLong(0)).toSet
    val even = (0L to 19L).filter(_ % 2 == 0).toSet
    val third = (0L to 19L).filter(_ % 3 == 0).toSet
    val fifth = (0L to 19L).filter(_ % 5 == 0).toSet
    assert(eval("even") == even)
    assert(eval("even AND third") == (even intersect third))
    assert(eval("even OR third") == (even union third))
    assert(eval("NOT even") == ((0L to 19L).toSet diff even))
    assert(eval("(even OR third) AND NOT fifth") == ((even union third) diff fifth))
    assert(eval("even AND NOT (third OR fifth)") ==
      (even diff (third union fifth)))
    assert(eval(VardaOps.sampleExprInput) == VardaOps.sampleExprSet.map(_.toLong).toSet)
  }

  test("expression language rejects malformed input") {
    val tags = Map("a" -> lit(true))
    intercept[ExprLang.ParseError](ExprLang.parse("a AND", tags))
    intercept[ExprLang.ParseError](ExprLang.parse("(a", tags))
    intercept[ExprLang.ParseError](ExprLang.parse("a b", tags))
    intercept[ExprLang.ParseError](ExprLang.parse("unknown", tags))
    intercept[ExprLang.ParseError](ExprLang.parse(")", tags))
  }

  // localMaxBytes=0: 3000 rows sit far below the small-input threshold,
  // where the default would compare the per-group window with itself
  test("grouped two-pass rank equals the per-group window on random skewed data") {
    withLocalMaxBytes(0L) {
      import org.apache.spark.sql.expressions.Window
      import spark.implicits._
      // skewed groups (zipf-ish sizes), duplicate-heavy keys, negative
      // values, and a degenerate single-value group — the chunk arithmetic
      // must survive all of it
      val rows = (1 to 3000).map { i =>
        val g = "g" + (math.log(rnd.nextInt(1 << 10) + 2) / math.log(2)).toInt
        val v = if (g == "g1") 7L else rnd.nextLong(50) - 25
        (i.toLong, g, v)
      }
      val df = rows.toDF("id", "grp", "v")
      val keys = Seq(col("v"), col("id"))
      val expected = df.select(col("id"),
          row_number().over(Window.partitionBy("grp").orderBy(keys: _*)).as("rn"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val got = graft.ops.GlobalRank.withGroupedRowNumber(
          df, Seq("grp"), keys, "rn", numPartitions = 7)
        .select("id", "rn")
        .collect().map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
      assert(got.size == expected.size && got == expected)
    }
  }

  test("rangeBuckets is SOUND: every in-range point's bucket is enumerated") {
    // the round-12 driver-side range pruning (single-column bucket
    // layout) restricts reads to rangeBuckets(begin, end, n) — with
    // residual-only filters an unsound set would be silent row LOSS,
    // so soundness is the property, not tightness
    import graft.varda.FreqStore
    val rnd = new scala.util.Random(12)
    for (_ <- 0 until 500) {
      val n = Seq(1, 2, 4, 8, 16, 64, 1 << 12)(rnd.nextInt(7))
      val begin = rnd.nextLong(1L << 34)
      val end = begin + rnd.nextLong(1L << 22) // within the cell cap
      FreqStore.rangeBuckets(begin, end, n) match {
        case Some(ks) =>
          // sample points across the range, always including both ends
          val pts = Seq(begin, end) ++
            (0 until 20).map(_ => begin + rnd.nextLong(end - begin + 1))
          for (p <- pts)
            assert(ks.contains(FreqStore.pointBucket(p, n)),
              s"point $p of [$begin,$end] bucket not enumerated (n=$n)")
        case None =>
          assert((end >> 11) - (begin >> 11) + 1 > FreqStore.MaxRangeCells,
            "rangeBuckets declined a range under the cell cap")
      }
    }
    // the cap boundary: exactly MaxRangeCells cells still enumerates
    val b0 = 0L
    val e0 = (FreqStore.MaxRangeCells << 11) - 1
    assert(FreqStore.rangeBuckets(b0, e0, 8).isDefined)
    assert(FreqStore.rangeBuckets(b0, e0 + (1L << 11), 8).isEmpty)
  }

  test("the bucket hash's three spellings agree on random positions") {
    // the SAME hash is spelled three ways: the Column expression the
    // commit path writes with, the driver-side Scala the lookup/range
    // pruning plans with, and the catalog's V2 function the
    // storage-partitioned planner binds. Any drift is SILENT row loss
    // (a probe pruned to the wrong bucket), so pin all three on random
    // positions including the cell boundaries
    import graft.varda.FreqStore
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val moduli = Seq(1, 2, 4, 8, 16, 64, 1 << 12)
    val positions = (0 until 300).map(_ => rnd.nextLong(1L << 40)) ++
      Seq(0L, (1L << 11) - 1, 1L << 11, (1L << 34) + 7) // cell edges
    // one job: every modulus as a column of the Column-expression form
    val df = positions.toDF("position").select(col("position") +:
      moduli.map(n =>
        pmod(hash(shiftright(col("position"), 11)), lit(n)).as(s"b$n")): _*)
    for (row <- df.collect()) {
      val p = row.getLong(0)
      moduli.zipWithIndex.foreach { case (n, i) =>
        val viaColumn = row.getInt(i + 1)
        val viaDriver = FreqStore.pointBucket(p, n)
        val viaCatalog = new graft.sources.PointBucketBound(n)
          .produceResult(org.apache.spark.sql.catalyst.InternalRow(p))
        assert(viaColumn == viaDriver && viaDriver == viaCatalog,
          s"bucket drift at position=$p n=$n: column=$viaColumn " +
            s"driver=$viaDriver catalog=$viaCatalog")
      }
    }
  }
}
