package graft

import java.nio.file.{Files, Paths}

import graft.varda.{FreqStore, VardaOps}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** The committed, bucket-partitioned, generational FreqStore: replayed
  * import batches must converge to the one-shot frequency computation,
  * commits must rewrite only the buckets a batch touches, and a replayed
  * batch must rewrite its own generation instead of double-counting. */
class FreqStoreSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(Paths.get("/root/repo/target"), prefix).toString

  private def freqKey(df: DataFrame) = df.collect()
    .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3)) ->
      ((r.getLong(4), r.getLong(5), r.getLong(6)))).toMap

  test("committed replay converges to the one-shot state (adversarial batches)") {
    // the adversarial cross-batch shapes: same-sample
    // overlapping regions split across batches (count once), coverage
    // arriving after its point, a point arriving after its coverage, a
    // coverage-less sample registering mid-stream, haploid X
    val obsB = Seq(
      Seq(("1", 5000L, "A", "C", 3, "x"), ("X", 5000L, "A", "C", 1, "x")),
      Seq.empty[(String, Long, String, String, Int, String)],
      Seq(("2", 700L, "G", "T", 2, "x")))
      .map(_.toDF("chromosome", "position", "reference", "observed",
        "support", "ignore"))
    val covB = Seq(
      Seq((10L, "1", 4000L, 6000L, 1L, 2), (14L, "2", 600L, 800L, 2L, 5)),
      Seq((11L, "1", 4500L, 5500L, 1L, 2)),
      Seq((12L, "X", 4000L, 6000L, 2L, 5), (13L, "X", 9000L, 9500L, 1L, 2)))
      .map(_.toDF("region_id", "chromosome", "begin_pos", "end_pos",
        "sample_id", "pool_size"))
    val smpB = Seq(
      Seq((1L, 2, true)), Seq((3L, 7, false)), Seq((2L, 5, true)))
      .map(_.toDF("sample_id", "pool_size", "has_coverage"))

    val store = new FreqStore(spark, tmpDir("fqs_adv"), nBuckets = 4)
    for (i <- 0 until 3) store.commit(i, obsB(i), covB(i), smpB(i))

    val expected = freqKey(VardaOps.frequencyFrom(
      obsB.reduce(_ unionByName _)
        .withColumn("sample_id", org.apache.spark.sql.functions.lit(0L)),
      covB.reduce(_ unionByName _), smpB.reduce(_ unionByName _),
      withZyg = false))
    val got = freqKey(store.serve())
    assert(got == expected)
    // hand-derived spot checks: chr1 = sample 1 once (2×2) + coverage-less
    // sample 3 (7×2) despite the split overlap; X's region arrived late
    assert(got(("1", 5000L, "A", "C")) == ((3L, 18L, 3L * 1000000 / 18)))
    assert(got(("2", 700L, "G", "T")) == ((2L, 24L, 2L * 1000000 / 24)))
    assert(got(("X", 5000L, "A", "C")) == ((1L, 12L, 1L * 1000000 / 12)))
  }

  test("commits are O(batch): untouched bucket files survive, new gens hold only touched buckets") {
    val dir = tmpDir("fqs_obatch")
    val store = new FreqStore(spark, dir, nBuckets = 8)
    // batch 0: points spread over many cells → many buckets
    val obs0 = (0 until 64).map(i =>
      ("1", 1000L + i * 4096L, "A", "C", 1)).toDF(
      "chromosome", "position", "reference", "observed", "support")
    // bounded-length regions (< 2^11, the documented containment bound)
    // tiling the whole point range
    val cov0 = (0 until 150).map(i =>
      (i.toLong, "1", i * 2000L, i * 2000L + 1999L, 1L, 2)).toDF(
      "region_id", "chromosome", "begin_pos", "end_pos", "sample_id", "pool_size")
    val smp0 = Seq((1L, 2, true), (9L, 3, false)).toDF(
      "sample_id", "pool_size", "has_coverage")
    store.commit(0, obs0, cov0, smp0)

    def parquetFiles(sub: String): Map[String, Long] = {
      val base = Paths.get(dir, sub)
      if (!Files.exists(base)) Map.empty
      else {
        val out = scala.collection.mutable.Map.empty[String, Long]
        Files.walk(base).forEach { p =>
          if (p.toString.endsWith(".parquet"))
            out(p.toString) = Files.getLastModifiedTime(p).toMillis
        }
        out.toMap
      }
    }
    val gen0Files = parquetFiles("gen-0")
    assert(gen0Files.nonEmpty)
    val gen0NumerBkts = Files.list(Paths.get(dir, "gen-0/comp=numer")).toArray
      .map(_.toString).count(_.contains("bkt="))
    assert(gen0NumerBkts > 2, s"fixture must spread buckets, got $gen0NumerBkts")

    // batch 1 touches ONE point (one bucket, no coverage, no samples)
    val obs1 = Seq(("1", 1000L, "A", "C", 5)).toDF(
      "chromosome", "position", "reference", "observed", "support")
    store.commit(1, obs1, cov0.filter("false"), smp0.filter("false"))

    // gen-1 overlays only the touched bucket(s)
    val gen1NumerBkts = Files.list(Paths.get(dir, "gen-1/comp=numer")).toArray
      .map(_.toString).filter(_.contains("bkt="))
    assert(gen1NumerBkts.length == 1,
      s"gen-1 should hold exactly the touched bucket: ${gen1NumerBkts.toSeq}")
    // and NO gen-0 file was rewritten
    val gen0After = parquetFiles("gen-0")
    assert(gen0After == gen0Files, "a committed generation's files changed")

    // served state equals the one-shot over both batches
    val expected = freqKey(VardaOps.frequencyFrom(
      obs0.unionByName(obs1).withColumn("sample_id",
        org.apache.spark.sql.functions.lit(0L)),
      cov0, smp0, withZyg = false))
    assert(freqKey(store.serve()) == expected)
  }

  test("a replayed batch rewrites its generation instead of double-counting") {
    val dir = tmpDir("fqs_replay")
    val store = new FreqStore(spark, dir, nBuckets = 4)
    val obs = Seq(("1", 5000L, "A", "C", 3)).toDF(
      "chromosome", "position", "reference", "observed", "support")
    val cov = Seq((1L, "1", 4000L, 6000L, 1L, 2)).toDF(
      "region_id", "chromosome", "begin_pos", "end_pos", "sample_id", "pool_size")
    val smp = Seq((1L, 2, true), (2L, 7, false)).toDF(
      "sample_id", "pool_size", "has_coverage")
    store.commit(0, obs, cov, smp)
    val once = freqKey(store.serve())
    // at-least-once foreachBatch: the same batch id replays after a crash
    store.commit(0, obs, cov, smp)
    assert(freqKey(store.serve()) == once, "replay double-counted")
    // numer 3; denom = covered 2×2 + uncovered 7×2 = 18
    assert(once(("1", 5000L, "A", "C")) == ((3L, 18L, 3L * 1000000 / 18)))
  }

  test("committed retraction equals the one-shot over remaining samples, re-import restores") {
    val dir = tmpDir("fqs_retract")
    val store = new FreqStore(spark, dir, nBuckets = 4)
    // FrequencySemanticsSpec's crafted rows: sample 1 covers chr1:5000
    // with TWO overlapping regions, sample 2 covers X:5000, sample 3 is
    // coverage-less; observations carry sample_id for the retraction cut
    val obs = Seq(
      ("1", 5000L, "A", "C", 1L, 3), ("X", 5000L, "A", "C", 2L, 1))
      .toDF("chromosome", "position", "reference", "observed",
        "sample_id", "support")
    val cov = Seq(
      (10L, "1", 4000L, 6000L, 1L, 2), (11L, "1", 4500L, 5500L, 1L, 2),
      (12L, "X", 4000L, 6000L, 2L, 5), (13L, "X", 9000L, 9500L, 1L, 2))
      .toDF("region_id", "chromosome", "begin_pos", "end_pos",
        "sample_id", "pool_size")
    val smp = Seq((1L, 2, true), (2L, 5, true), (3L, 7, false))
      .toDF("sample_id", "pool_size", "has_coverage")
    store.commit(0, obs, cov, smp)

    // retract sample 1 (covered, sole observer of chr1:5000) and
    // sample 3 (coverage-less) — both paths in one go
    import org.apache.spark.sql.functions.col
    val gone = Seq(1L, 3L)
    store.retract(1,
      obs.filter(col("sample_id").isin(gone: _*)),
      smp.filter(col("sample_id").isin(gone: _*)))
    val got = freqKey(store.serve())
    val expected = freqKey(VardaOps.frequencyFrom(
      obs.filter(!col("sample_id").isin(gone: _*)),
      cov.filter(!col("sample_id").isin(gone: _*)),
      smp.filter(!col("sample_id").isin(gone: _*)), withZyg = false))
    assert(got == expected)
    assert(!got.contains(("1", 5000L, "A", "C")),
      "variant observed only by the retracted sample must disappear")
    assert(got(("X", 5000L, "A", "C")) == ((1L, 5L, 1L * 1000000 / 5)))

    // re-importing the retracted samples restores the full state — the
    // store cleanup must leave no residue
    store.commit(2,
      obs.filter(col("sample_id").isin(gone: _*)),
      cov.filter(col("sample_id").isin(gone: _*)),
      smp.filter(col("sample_id").isin(gone: _*)))
    val full = freqKey(VardaOps.frequencyFrom(obs, cov, smp, withZyg = false))
    assert(freqKey(store.serve()) == full)
  }

  test("compaction collapses generations to one snapshot, state and folds unchanged") {
    val dir = tmpDir("fqs_compact")
    val store = new FreqStore(spark, dir, nBuckets = 4)
    val obsB = Seq(
      Seq(("1", 5000L, "A", "C", 3), ("X", 5000L, "A", "C", 1)),
      Seq(("2", 700L, "G", "T", 2)))
      .map(_.toDF("chromosome", "position", "reference", "observed", "support"))
    val covB = Seq(
      Seq((10L, "1", 4000L, 6000L, 1L, 2), (14L, "2", 600L, 800L, 2L, 5)),
      Seq((11L, "1", 4500L, 5500L, 1L, 2), (12L, "X", 4000L, 6000L, 2L, 5)))
      .map(_.toDF("region_id", "chromosome", "begin_pos", "end_pos",
        "sample_id", "pool_size"))
    val smpB = Seq(Seq((1L, 2, true), (3L, 7, false)), Seq((2L, 5, true)))
      .map(_.toDF("sample_id", "pool_size", "has_coverage"))
    store.commit(0, obsB(0), covB(0), smpB(0))
    store.commit(1, obsB(1), covB(1), smpB(1))
    val before = freqKey(store.serve())

    store.compact()
    // exactly one generation survives — the VERSIONED snapshot (never an
    // in-place overwrite of a blessed generation, the round-8 crash hole)
    val gens = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("gen-")).map(_.getName).toSeq
    assert(gens == Seq("gen-1.1"), s"gens after compaction: $gens")
    assert(freqKey(store.serve()) == before, "compaction changed served state")
    // a repeated cadence call on an already-snapshotted store is a no-op
    store.compact()
    val gens2 = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("gen-")).map(_.getName).toSeq
    assert(gens2 == Seq("gen-1.1"), s"re-compact was not a no-op: $gens2")

    // a further import folds onto the snapshot exactly as before
    val obs2 = Seq(("1", 5000L, "A", "C", 2))
      .toDF("chromosome", "position", "reference", "observed", "support")
    store.commit(2, obs2, covB(0).filter("false"), smpB(0).filter("false"))
    val after = freqKey(store.serve())
    assert(after(("1", 5000L, "A", "C"))._1 == 5L)
    assert(after.filterKeys(_ != (("1", 5000L, "A", "C"))).toMap ==
      before.filterKeys(_ != (("1", 5000L, "A", "C"))).toMap)
  }

  test("retention grace: a frame planned before compact still executes; a later sweep reclaims") {
    val dir = tmpDir("fqs_grace")
    val store = new FreqStore(spark, dir, nBuckets = 4)
    val obsB = Seq(
      Seq(("1", 5000L, "A", "C", 3), ("X", 5000L, "A", "C", 1)),
      Seq(("2", 700L, "G", "T", 2)))
      .map(_.toDF("chromosome", "position", "reference", "observed", "support"))
    val covB = Seq(
      Seq((10L, "1", 4000L, 6000L, 1L, 2), (14L, "2", 600L, 800L, 2L, 5)),
      Seq((11L, "1", 4500L, 5500L, 1L, 2), (12L, "X", 4000L, 6000L, 2L, 5)))
      .map(_.toDF("region_id", "chromosome", "begin_pos", "end_pos",
        "sample_id", "pool_size"))
    val smpB = Seq(Seq((1L, 2, true), (3L, 7, false)), Seq((2L, 5, true)))
      .map(_.toDF("sample_id", "pool_size", "has_coverage"))
    store.commit(0, obsB(0), covB(0), smpB(0))
    store.commit(1, obsB(1), covB(1), smpB(1))

    // the cross-process serving scenario: this frame's file listing is
    // pinned at PLAN time (another process's API server would hold the
    // same), so compact's delete phase racing it is the crash. It is
    // NOT executed until after the compact; `expected` comes from a
    // separate pre-compact frame.
    val planned = store.serve()
    val expected = freqKey(store.serve())

    // retainGens SMALLER than the number of generations this compact
    // supersedes (2): the sweep's own victims are protected
    // unconditionally — a quota-only policy would delete gen-0 here and
    // break the planned frame (round-10 review finding)
    store.compact(retainGens = 1)
    def gens = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("gen-")).map(_.getName).toSeq.sorted
    assert(gens == Seq("gen-0", "gen-1", "gen-1.1"),
      s"retention kept the wrong set: $gens")
    // the pre-compact plan executes correctly AFTER the compact — its
    // listed files all survived the grace window
    assert(freqKey(planned) == expected)
    // new reads resolve through the snapshot floor only
    assert(freqKey(store.serve()) == expected)
    // reopening cold sees the floored view too
    assert(freqKey(new FreqStore(spark, dir).serve()) == expected)

    // a later sweep ages the grace out: no new victims, so the quota
    // (1) applies to the previously-retained pair — oldest goes first
    store.compact(retainGens = 1)
    assert(gens == Seq("gen-1", "gen-1.1"), s"aging kept the wrong set: $gens")
    // and the default sweep reclaims everything
    store.compact()
    assert(gens == Seq("gen-1.1"), s"sweep left expired generations: $gens")
    assert(freqKey(store.serve()) == expected)
  }

  private def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit =
    Files.walk(src).forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else {
        Files.createDirectories(t.getParent)
        Files.copy(p, t, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }

  test("a committed snapshot floors the log: stale generations left by a crashed delete phase are invisible") {
    import spark.implicits._
    val dir = tmpDir("fqs_floor")
    val store = new FreqStore(spark, dir, nBuckets = 4)
    val obs0 = Seq(("1", 5000L, "A", "C", 3)).toDF(
      "chromosome", "position", "reference", "observed", "support")
    val obs1 = Seq(("2", 700L, "G", "T", 2)).toDF(
      "chromosome", "position", "reference", "observed", "support")
    val cov = Seq((1L, "1", 4000L, 6000L, 1L, 2), (2L, "2", 600L, 800L, 2L, 5))
      .toDF("region_id", "chromosome", "begin_pos", "end_pos",
        "sample_id", "pool_size")
    val smp = Seq((1L, 2, true), (2L, 5, true), (3L, 7, false))
      .toDF("sample_id", "pool_size", "has_coverage")
    store.commit(0, obs0, cov, smp)
    store.commit(1, obs1, cov.filter("false"), smp.filter("false"))
    val before = freqKey(store.serve())

    // stash the pre-compaction state, compact, then RESTORE the stale
    // generations AND their log entries — the exact on-disk state a
    // crash between the snapshot's commit marker and the delete phase
    // leaves behind
    val stash = Paths.get(tmpDir("fqs_floor_stash"))
    copyTree(Paths.get(dir), stash)
    store.compact()
    for (g <- Seq("gen-0", "gen-1"))
      copyTree(stash.resolve(g), Paths.get(dir, g))
    for (m <- Seq("gen-0", "gen-1"))
      Files.copy(stash.resolve(s"_commits/$m"), Paths.get(dir, s"_commits/$m"))
    assert(freqKey(store.serve()) == before,
      "a reader resolved state below a committed snapshot")
    // and the next batch folds correctly on top of the floored view
    store.commit(2, obs0, cov.filter("false"), smp.filter("false"))
    assert(freqKey(store.serve())(("1", 5000L, "A", "C"))._1 == 6L)
  }

  test("reopening a store with a different constructor modulus uses the committed one") {
    import spark.implicits._
    val dir = tmpDir("fqs_modulus")
    val obs = Seq(("1", 5000L, "A", "C", 3), ("1", 90000L, "A", "G", 1),
      ("2", 700L, "G", "T", 2)).toDF(
      "chromosome", "position", "reference", "observed", "support")
    val cov = Seq((1L, "1", 4000L, 6000L, 1L, 2)).toDF(
      "region_id", "chromosome", "begin_pos", "end_pos", "sample_id", "pool_size")
    val smp = Seq((1L, 2, true), (2L, 7, false)).toDF(
      "sample_id", "pool_size", "has_coverage")
    new FreqStore(spark, dir, nBuckets = 4).commit(0, obs, cov, smp)
    // the round-8 bug: reopening with the DEFAULT modulus (16) silently
    // mis-bucketed pruned reads; the log now carries the modulus
    val reopened = new FreqStore(spark, dir)
    assert(reopened.nBkts == 4, "modulus not read back from the commit log")
    reopened.commit(1, obs.limit(1), cov.filter("false"), smp.filter("false"))
    val expected = freqKey(VardaOps.frequencyFrom(
      obs.unionByName(obs.limit(1)), cov, smp, withZyg = false))
    assert(freqKey(reopened.serve()) == expected)
  }

  test("split compaction doubles the modulus; folds and serving stay exact and O(batch)") {
    import spark.implicits._
    val dir = tmpDir("fqs_split")
    val store = new FreqStore(spark, dir, nBuckets = 2)
    val obs0 = (0 until 64).map(i =>
      ("1", 1000L + i * 4096L, "A", "C", 1)).toDF(
      "chromosome", "position", "reference", "observed", "support")
    val cov0 = (0 until 150).map(i =>
      (i.toLong, "1", i * 2000L, i * 2000L + 1999L, 1L, 2)).toDF(
      "region_id", "chromosome", "begin_pos", "end_pos", "sample_id", "pool_size")
    val smp0 = Seq((1L, 2, true), (9L, 3, false)).toDF(
      "sample_id", "pool_size", "has_coverage")
    store.commit(0, obs0, cov0, smp0)
    val before = freqKey(store.serve())

    // every bucket exceeds a 1-byte threshold → the snapshot re-buckets
    store.compact(splitThreshold = Some(1L))
    assert(store.nBkts == 4, "split compaction must double the modulus")
    assert(freqKey(store.serve()) == before, "split changed served state")

    // a post-split single-point batch still overlays exactly one (finer)
    // bucket, and the fold stays correct
    val obs1 = Seq(("1", 1000L, "A", "C", 5)).toDF(
      "chromosome", "position", "reference", "observed", "support")
    store.commit(1, obs1, cov0.filter("false"), smp0.filter("false"))
    val gen1Bkts = Files.list(Paths.get(dir, "gen-1/comp=numer")).toArray
      .map(_.toString).filter(_.contains("bkt="))
    assert(gen1Bkts.length == 1,
      s"post-split commit not O(batch): ${gen1Bkts.toSeq}")
    val expected = freqKey(VardaOps.frequencyFrom(
      obs0.unionByName(obs1), cov0, smp0, withZyg = false))
    assert(freqKey(store.serve()) == expected)
  }

  test("a crash between a split snapshot's write and its bless is invisible " +
      "and replayable") {
    // round-12 VERDICT #7: the modulus-doubling snapshot writes its
    // whole re-bucketed generation dir BEFORE the commit marker. A
    // crash in that window leaves an UNBLESSED gen dir (possibly torn)
    // on disk. The contract: readers never see it (live() is marker-
    // driven), and a replayed compact overwrites it wholesale
    // (writeGen deletes a pre-existing dir first).
    import spark.implicits._
    val dir = tmpDir("fqs_splitcrash")
    val store = new FreqStore(spark, dir, nBuckets = 2)
    val obs0 = (0 until 64).map(i =>
      ("1", 1000L + i * 4096L, "A", "C", 1)).toDF(
      "chromosome", "position", "reference", "observed", "support")
    val cov0 = (0 until 150).map(i =>
      (i.toLong, "1", i * 2000L, i * 2000L + 1999L, 1L, 2)).toDF(
      "region_id", "chromosome", "begin_pos", "end_pos", "sample_id", "pool_size")
    val smp0 = Seq((1L, 2, true), (9L, 3, false)).toDF(
      "sample_id", "pool_size", "has_coverage")
    store.commit(0, obs0, cov0, smp0)
    store.commit(1, Seq(("1", 1000L, "A", "C", 5)).toDF(
      "chromosome", "position", "reference", "observed", "support"),
      cov0.filter("false"), smp0.filter("false"))
    val before = freqKey(store.serve())

    // fabricate the crash window: the split snapshot dir (gen-1.1 —
    // maxGen=1, newV=1) exists with TORN content and NO marker
    val torn = Paths.get(dir, "gen-1.1")
    Files.createDirectories(torn.resolve("comp=numer/bkt=0"))
    Files.write(torn.resolve("comp=numer/bkt=0/part-torn.parquet"),
      "not parquet".getBytes("UTF-8"))

    // pre-split state serves as if the crash never happened — a fresh
    // reader instance must plan only blessed generations
    val reader = new FreqStore(spark, dir)
    assert(reader.nBkts == 2, "unblessed snapshot leaked into the modulus")
    assert(freqKey(reader.serve()) == before,
      "unblessed split snapshot leaked into a read")
    assert(freqKey(reader.lookup("1", 1000L)) ==
      before.filter { case ((c, p, _, _), _) => c == "1" && p == 1000L },
      "bucket-pruned lookup diverged under the torn dir")

    // replay: the maintenance compact overwrites the torn dir and
    // blesses; state unchanged, modulus doubled
    val replayed = new FreqStore(spark, dir)
    replayed.compact(splitThreshold = Some(1L))
    assert(replayed.nBkts == 4, "replayed split did not double the modulus")
    assert(freqKey(replayed.serve()) == before, "replayed split changed state")
    assert(!Files.exists(torn.resolve("comp=numer/bkt=0/part-torn.parquet")),
      "replay left the torn attempt's debris in the blessed dir")
    // and the store keeps working: a post-recovery commit folds exactly
    replayed.commit(2, Seq(("1", 1000L, "A", "C", 2)).toDF(
      "chromosome", "position", "reference", "observed", "support"),
      cov0.filter("false"), smp0.filter("false"))
    val expected = freqKey(VardaOps.frequencyFrom(
      obs0.unionByName(Seq(("1", 1000L, "A", "C", 5), ("1", 1000L, "A", "C", 2))
        .toDF("chromosome", "position", "reference", "observed", "support")),
      cov0, smp0, withZyg = false))
    assert(freqKey(new FreqStore(spark, dir).serve()) == expected)
  }

  test("retractSamples needs only sample rows: observations come off the obslog") {
    import org.apache.spark.sql.functions.col
    val dir = tmpDir("fqs_rmlog")
    val store = new FreqStore(spark, dir, nBuckets = 4)
    val obs = Seq(
      ("1", 5000L, "A", "C", 1L, 3), ("X", 5000L, "A", "C", 2L, 1))
      .toDF("chromosome", "position", "reference", "observed",
        "sample_id", "support")
    val cov = Seq(
      (10L, "1", 4000L, 6000L, 1L, 2), (12L, "X", 4000L, 6000L, 2L, 5))
      .toDF("region_id", "chromosome", "begin_pos", "end_pos",
        "sample_id", "pool_size")
    val smp = Seq((1L, 2, true), (2L, 5, true), (3L, 7, false))
      .toDF("sample_id", "pool_size", "has_coverage")
    store.commit(0, obs, cov, smp)

    val gone = Seq(1L, 3L)
    store.retractSamples(1, smp.filter(col("sample_id").isin(gone: _*)))
    val expected = freqKey(VardaOps.frequencyFrom(
      obs.filter(!col("sample_id").isin(gone: _*)),
      cov.filter(!col("sample_id").isin(gone: _*)),
      smp.filter(!col("sample_id").isin(gone: _*)), withZyg = false))
    assert(freqKey(store.serve()) == expected)

    // retracting the SAME samples again subtracts nothing — their obslog
    // rows net to zero against the tombstones
    store.retractSamples(2, smp.filter(col("sample_id").isin(gone: _*)))
    assert(freqKey(store.serve()) == expected, "second retraction double-subtracted")

    // re-import restores, and compaction (which folds tombstones away)
    // leaves the served state untouched
    store.commit(3,
      obs.filter(col("sample_id").isin(gone: _*)),
      cov.filter(col("sample_id").isin(gone: _*)),
      smp.filter(col("sample_id").isin(gone: _*)))
    val full = freqKey(VardaOps.frequencyFrom(obs, cov, smp, withZyg = false))
    assert(freqKey(store.serve()) == full)
    store.compact()
    assert(freqKey(store.serve()) == full)
    // …and the restored sample is retractable AFTER compaction too
    store.retractSamples(4, smp.filter(col("sample_id") === 1L))
    val minusOne = freqKey(VardaOps.frequencyFrom(
      obs.filter(col("sample_id") =!= 1L), cov.filter(col("sample_id") =!= 1L),
      smp.filter(col("sample_id") =!= 1L), withZyg = false))
    assert(freqKey(store.serve()) == minusOne)
  }

  test("point lookup reads one bucket directory and matches the full serve") {
    import spark.implicits._
    val dir = tmpDir("fqs_lookup")
    val store = new FreqStore(spark, dir, nBuckets = 8)
    val obs = (0 until 64).map(i =>
      ("1", 1000L + i * 4096L, "A", "C", 1 + i % 3)).toDF(
      "chromosome", "position", "reference", "observed", "support")
    val cov = (0 until 150).map(i =>
      (i.toLong, "1", i * 2000L, i * 2000L + 1999L, 1L, 2)).toDF(
      "region_id", "chromosome", "begin_pos", "end_pos", "sample_id", "pool_size")
    val smp = Seq((1L, 2, true), (9L, 3, false)).toDF(
      "sample_id", "pool_size", "has_coverage")
    store.commit(0, obs, cov, smp)

    val served = store.serve().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3)) ->
        ((r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    val probe = store.lookup("1", 1000L + 17 * 4096L)
    val got = probe.collect()
    assert(got.length == 1)
    val r = got.head
    assert(served((r.getString(0), r.getLong(1), r.getString(2), r.getString(3)))
      == ((r.getLong(4), r.getLong(5), r.getLong(6))))

    // the lookup is ONE store scan that touches exactly the probe's
    // bucket; the full serve touches many (the layout's serving-side
    // payoff)
    val probeBkt = FreqStore.pointBucket(1000L + 17 * 4096L, store.nBkts)
    assert(graft.sources.FreqStoreDataSource.lastPlannedBuckets ==
      Some(Set(probeBkt)))
    val (lookupBkts, nScans) = scannedBuckets(probe)
    assert(nScans == 1 && lookupBkts == Set(probeBkt),
      s"lookup read buckets $lookupBkts in $nScans scans")
    def bktsOf(files: Seq[String]) = files
      .filter(f => f.contains("comp=numer") || f.contains("comp=denom"))
      .flatMap("bkt=([0-9]+)".r.findFirstMatchIn(_)).map(_.group(1)).toSet
    assert(bktsOf(store.serve().inputFiles.toSeq).size > 2,
      "fixture must spread buckets for the pruning assertion to mean anything")

    // multi-point probes prune to the probe set's buckets and agree row-wise
    val pts = Seq(("1", 1000L), ("1", 1000L + 5 * 4096L))
    val multi = store.lookupPoints(pts).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(6)).toMap
    for ((c, p) <- pts)
      assert(multi((c, p)) == served.collect {
        case ((`c`, `p`, _, _), v) => v._3 }.head)

    // a LARGE probe set (> 64 probes, the size the old OR-chain form
    // stopped at) takes the same per-chromosome IN-list scan and must
    // equal the full serve over the probed keys
    val allPts = (0 until 64).map(i => ("1", 1000L + i * 4096L)) ++
      (0 until 10).map(i => ("2", 5000L + i * 4096L)) // absent points
    val big = store.lookupPoints(allPts).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3)) ->
        ((r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(big == served, "large-probe lookup diverged from serve()")
  }

  test("point and range lookups are one store scan row-equal to serve()") {
    import graft.sources.{FreqStoreDataSource, FreqStoreScanBuilder}
    import org.apache.parquet.filter2.compat.FilterCompat.FilterPredicateCompat
    val dir = tmpDir("fqs_lookup_scan")
    val store = new FreqStore(spark, dir, nBuckets = 4)
    val chroms = Seq("1", "2", "X")
    val obs = (for (c <- chroms; i <- 0 until 40)
      yield (c, 700L + i * 1531L, "A", "G", 1 + i % 4)).toDF(
      "chromosome", "position", "reference", "observed", "support")
    val cov = (for ((c, j) <- chroms.zipWithIndex; i <- 0 until 30)
      yield (j * 100L + i, c, i * 2000L, i * 2000L + 1999L, 1L + i % 2, 2)).toDF(
      "region_id", "chromosome", "begin_pos", "end_pos", "sample_id", "pool_size")
    val smp = Seq((1L, 2, true), (2L, 3, true), (5L, 4, false)).toDF(
      "sample_id", "pool_size", "has_coverage")
    store.commit(0, obs, cov, smp)
    // a second generation overlays some buckets: the scan must resolve
    // the newest generation per bucket, as serve() does
    store.commit(1, Seq(("1", 700L, "A", "G", 5), ("2", 2231L, "A", "T", 1))
      .toDF("chromosome", "position", "reference", "observed", "support"),
      cov.filter("false"), smp.filter("false"))
    val present = obs.select("chromosome", "position").as[(String, Long)]
      .collect().toSeq.sorted
    val pointCases = Seq(
      "1 point" -> Seq(("2", 2231L)),
      "4 points over 3 chromosomes" ->
        Seq(("1", 700L), ("1", 3762L), ("X", 5293L), ("2", 700L + 39 * 1531L)),
      "> 64 points with absent probes" -> (present ++
        (0 until 10).map(i => ("2", 999999L + i)) :+ ("Y", 700L)))
    assert(pointCases.last._2.size > 64)
    for (state <- Seq("two generations", "compacted")) {
      if (state == "compacted") store.compact()
      val served = freqKey(store.serve())
      for ((what, pts) <- pointCases) {
        val df = store.lookupPoints(pts)
        val got = freqKey(df)
        assert(got.nonEmpty && got == served.filter { case (k, _) =>
          pts.contains((k._1, k._2)) }, s"$what ($state) diverged from serve()")
        val (bkts, nScans) = scannedBuckets(df)
        assert(nScans == 1 && bkts.subsetOf(
          pts.map(p => FreqStore.pointBucket(p._2, store.nBkts)).toSet),
          s"$what ($state) read buckets $bkts in $nScans scans")
        // the probe set reaches the readers' parquet row-group filter
        val r = FreqStoreDataSource.lastPlannedRange
        assert(r.points.contains(pts.toSet), s"$what ($state): pushed $r")
        val pf = r.toParquetFilter.collect {
          case f: FilterPredicateCompat => f.getFilterPredicate.toString
        }.getOrElse("")
        assert(pf.contains("in(position"), s"$what ($state): parquet filter $pf")
      }
      val range = store.lookupRange("2", 5000L, 40000L)
      val want = served.filter { case (k, _) =>
        k._1 == "2" && k._2 >= 5000L && k._2 <= 40000L }
      assert(want.nonEmpty && freqKey(range) == want,
        s"range ($state) diverged from serve()")
      assert(scannedBuckets(range)._2 == 1)
      assert(FreqStoreDataSource.lastPlannedRange ==
        FreqStoreScanBuilder.PushedRange(Some("2"), Some(5000L), Some(40000L)))
    }
  }

  test("expression-filtered lookup equals the one-shot over the sample subset") {
    import org.apache.spark.sql.functions.col
    val dir = tmpDir("fqs_flt")
    val store = new FreqStore(spark, dir, nBuckets = 4)
    // sample 1 covers chr1, sample 2 covers X, sample 3 coverage-less;
    // chr1:5000 observed by samples 1 AND 2 (2 is uncovered there)
    val obs = Seq(
      ("1", 5000L, "A", "C", 1L, 3), ("1", 5000L, "A", "C", 2L, 2),
      ("X", 5000L, "A", "C", 2L, 1))
      .toDF("chromosome", "position", "reference", "observed",
        "sample_id", "support")
    val cov = Seq(
      (10L, "1", 4000L, 6000L, 1L, 2), (12L, "X", 4000L, 6000L, 2L, 5))
      .toDF("region_id", "chromosome", "begin_pos", "end_pos",
        "sample_id", "pool_size")
    val smp = Seq((1L, 2, true), (2L, 5, true), (3L, 7, false))
      .toDF("sample_id", "pool_size", "has_coverage")
    store.commit(0, obs, cov, smp)

    val pts = Seq(("1", 5000L), ("X", 5000L), ("2", 999L)) // last: absent
    def filteredOneShot(pred: Long => Boolean) = freqKey(
      VardaOps.frequencyFrom(
        obs.filter(col("sample_id").isin(Seq(1L, 2L, 3L).filter(pred): _*)),
        cov.filter(col("sample_id").isin(Seq(1L, 2L, 3L).filter(pred): _*)),
        smp.filter(col("sample_id").isin(Seq(1L, 2L, 3L).filter(pred): _*)),
        withZyg = false))
    // subset {1, 3}: drops sample 2's observations and X coverage
    val got = freqKey(store.lookupPointsFiltered(pts,
      col("sample_id").isin(1L, 3L)))
    assert(got == filteredOneShot(Set(1L, 3L)))
    // a retraction's tombstones must net out of the filtered numerators
    store.retractSamples(1, smp.filter(col("sample_id") === 1L))
    val got2 = freqKey(store.lookupPointsFiltered(pts,
      col("sample_id").isin(1L, 3L)))
    assert(got2 == filteredOneShot(Set(3L)))
  }

  test("compacted store: filtered lookups prune the obslog to the probes' buckets") {
    import org.apache.spark.sql.functions.{col, lit}
    val dir = tmpDir("fqs_obsprune")
    val store = new FreqStore(spark, dir, nBuckets = 8)
    // points spread across buckets (4096 = two 2^11 cells apart), each
    // observation sample-tagged so the obslog drives filtered lookups
    val obs = (0 until 64).map(i =>
      ("1", 1000L + i * 4096L, "A", "C", 1L + i % 3, 1 + i % 3)).toDF(
      "chromosome", "position", "reference", "observed", "sample_id", "support")
    val cov = (0 until 150).map(i =>
      (i.toLong, "1", i * 2000L, i * 2000L + 1999L, 1L + i % 3, 2)).toDF(
      "region_id", "chromosome", "begin_pos", "end_pos", "sample_id", "pool_size")
    val smp = Seq((1L, 2, true), (2L, 3, true), (3L, 4, true), (9L, 3, false))
      .toDF("sample_id", "pool_size", "has_coverage")
    store.commit(0, obs, cov, smp)
    store.compact()

    def obslogBkts(files: Seq[String]) = files
      .filter(_.contains("comp=obslog"))
      .flatMap("bkt=([0-9]+)".r.findFirstMatchIn(_)).map(_.group(1)).toSet
    val pts = Seq(("1", 1000L + 17 * 4096L))
    val pred = col("sample_id").isin(1L, 9L)
    val probe = store.lookupPointsFiltered(pts, pred)
    // the compacted obslog is bucketed under the point hash: the
    // filtered lookup's obslog read opens ONE bucket directory —
    // O(probes/nBuckets) of the store's largest component
    val read = obslogBkts(probe.inputFiles.toSeq)
    assert(read.size == 1, s"filtered lookup read obslog buckets $read")
    // …and the fixture genuinely spreads the obslog over many buckets
    // (otherwise the pruning assertion is vacuous)
    val allPts = (0 until 64).map(i => ("1", 1000L + i * 4096L))
    val unprunedRead = obslogBkts(
      store.lookupPointsFiltered(allPts, pred).inputFiles.toSeq)
    assert(unprunedRead.size > 2,
      s"fixture must spread obslog buckets, saw $unprunedRead")
    // the multi-expression lookup prunes the same way
    val multiRead = obslogBkts(store.lookupPointsMulti(pts,
      Seq("a" -> pred)).inputFiles.toSeq)
    assert(multiRead.size == 1,
      s"multi-expression lookup read obslog buckets $multiRead")

    // row parity with the one-shot over the subset, at the probe points
    def oneShotAt(points: Seq[(String, Long)]) = freqKey(
      VardaOps.frequencyFrom(obs.filter(pred), cov.filter(pred),
        smp.filter(pred), withZyg = false))
      .filter { case ((c, p, _, _), _) => points.contains((c, p)) }
    assert(freqKey(probe) == oneShotAt(pts))

    // a post-compaction commit writes an UNBUCKETED obslog delta: the
    // pruned read must still include it whole (pruning is a superset
    // hint — an unbucketed generation is always read in full)
    val obs2 = Seq(("1", pts.head._2, "A", "C", 1L, 5))
      .toDF("chromosome", "position", "reference", "observed",
        "sample_id", "support")
    store.commit(9, obs2, cov.filter(lit(false)), smp.filter(lit(false)))
    val got2 = freqKey(store.lookupPointsFiltered(pts, pred))
    val expect2 = freqKey(VardaOps.frequencyFrom(
      obs.unionByName(obs2).filter(pred), cov.filter(pred),
      smp.filter(pred), withZyg = false))
      .filter { case ((c, p, _, _), _) => pts.contains((c, p)) }
    assert(got2 == expect2,
      "mixed bucketed/unbucketed obslog generations diverged from one-shot")
  }

  test("withdrawing a wave's dependent generation hides its folds until the replay recommits") {
    import org.apache.spark.sql.functions.col
    val dir = tmpDir("fqs_wave")
    val store = new FreqStore(spark, dir, nBuckets = 4)
    val obs = Seq(("1", 5000L, "A", "C", 1L, 3), ("X", 5000L, "A", "C", 2L, 1))
      .toDF("chromosome", "position", "reference", "observed",
        "sample_id", "support")
    val cov = Seq((10L, "1", 4000L, 6000L, 1L, 2), (11L, "X", 4000L, 6000L, 2L, 5))
      .toDF("region_id", "chromosome", "begin_pos", "end_pos",
        "sample_id", "pool_size")
    val smp = Seq((1L, 2, true), (2L, 5, true))
      .toDF("sample_id", "pool_size", "has_coverage")
    // wave: import as gen 0, dependent retraction as gen 1
    store.commit(0, obs, cov, smp)
    val preWave1 = freqKey(store.serve())
    store.retractSamples(1, smp.filter(col("sample_id") === 1))
    val postWave = freqKey(store.serve())
    assert(postWave != preWave1)

    // the replay protocol: withdraw the dependent retraction BEFORE
    // refolding gen 0 — readers in the window see the consistent
    // pre-retraction state, never gen 1's folds over older buckets
    store.unmarkGeneration(1)
    assert(freqKey(store.serve()) == preWave1,
      "withdrawn dependent generation must be invisible")
    // the replayed wave reconverges
    store.commit(0, obs, cov, smp)
    store.retractSamples(1, smp.filter(col("sample_id") === 1))
    assert(freqKey(store.serve()) == postWave)
  }

  test("multi-expression lookup equals N independent filtered lookups") {
    import org.apache.spark.sql.functions.col
    val dir = tmpDir("fqs_multi")
    val store = new FreqStore(spark, dir, nBuckets = 4)
    val obs = Seq(
      ("1", 5000L, "A", "C", 1L, 3), ("X", 5000L, "A", "C", 2L, 1),
      ("2", 700L, "G", "T", 3L, 2), ("1", 5000L, "A", "G", 2L, 4))
      .toDF("chromosome", "position", "reference", "observed",
        "sample_id", "support")
    val cov = Seq(
      (10L, "1", 4000L, 6000L, 1L, 2), (11L, "X", 4000L, 6000L, 2L, 5),
      (12L, "2", 600L, 800L, 2L, 5))
      .toDF("region_id", "chromosome", "begin_pos", "end_pos",
        "sample_id", "pool_size")
    val smp = Seq((1L, 2, true), (2L, 5, true), (3L, 7, false))
      .toDF("sample_id", "pool_size", "has_coverage")
    store.commit(0, obs, cov, smp)

    val pts = Seq(("1", 5000L), ("X", 5000L), ("2", 700L))
    val exprs = Seq(
      "odd" -> (col("sample_id") % 2 === 1),
      "all" -> col("sample_id").isNotNull,
      "none" -> (col("sample_id") > 100))
    val multi = store.lookupPointsMulti(pts, exprs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3)) ->
        (r.getLong(4), r.getLong(5), r.getLong(6))).toMap

    // variant rows = the store's net variants at the probes
    assert(multi.keySet == Set(
      ("1", 5000L, "A", "C"), ("1", 5000L, "A", "G"),
      ("X", 5000L, "A", "C"), ("2", 700L, "G", "T")))

    // per-expression parity vs the single-expression serving path
    for (((nm, pred), idx) <- exprs.zipWithIndex) {
      val single = store.lookupPointsFiltered(pts, pred).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3)) ->
          (if (r.isNullAt(6)) 0L else r.getLong(6))).toMap
      for ((k, ppms) <- multi) {
        val got = ppms.productElement(idx).asInstanceOf[Long]
        assert(got == single.getOrElse(k, 0L),
          s"expr $nm variant $k: multi=$got single=${single.get(k)}")
      }
    }
  }

  test("fragment algebra: merge preserves coverage disjointly, subtract yields exactly the uncovered remainder") {
    // the whole store design rests on two algebraic facts — merged
    // fragments are disjoint per (sample, cell) and cover the same
    // positions, and batch \ store is exactly the positions the store
    // does not cover — brute-force them on randomized small domains
    val rnd2 = new Random(42)
    val store = new FreqStore(spark, tmpDir("fqs_alg"), nBuckets = 2)
    def randFrags(n: Int) = (1 to n).map { _ =>
      val cell = rnd2.nextInt(3).toLong
      val b = cell * 2048 + rnd2.nextInt(2048)
      val e = math.min(cell * 2048 + 2047, b + rnd2.nextInt(600))
      ("1", cell, b, e, 1L + rnd2.nextInt(2), 2)
    }
    def df(fr: Seq[(String, Long, Long, Long, Long, Int)]) =
      fr.toDF("chromosome", "cell", "fbegin", "fend", "sample_id", "pool_size")
    def covered(fr: Seq[(String, Long, Long, Long, Long, Int)]): Map[Long, Set[Long]] =
      fr.groupBy(_._5).view.mapValues(_.flatMap(f => f._3 to f._4).toSet).toMap
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getInt(5))).toSeq
    for (_ <- 1 to 5) {
      val raw = randFrags(12)
      val merged = rows(store.mergeFragments(df(raw))
        .select("chromosome", "cell", "fbegin", "fend", "sample_id", "pool_size"))
      assert(covered(merged) == covered(raw), "merge changed coverage")
      for (Seq(a, b) <- merged.groupBy(f => (f._5, f._2)).values
             .flatMap(_.sortBy(_._3).sliding(2)) if a != b)
        assert(a._4 + 1 < b._3, s"merged fragments not disjoint-with-gap: $a $b")

      val base = rows(store.mergeFragments(df(randFrags(10)))
        .select("chromosome", "cell", "fbegin", "fend", "sample_id", "pool_size"))
      val batch = rows(store.mergeFragments(df(randFrags(8)))
        .select("chromosome", "cell", "fbegin", "fend", "sample_id", "pool_size"))
      val sub = rows(store.subtractFragments(df(batch), df(base))
        .select("chromosome", "cell", "fbegin", "fend", "sample_id", "pool_size"))
      val want = (covered(batch).keySet ++ covered(base).keySet).map { s =>
        s -> (covered(batch).getOrElse(s, Set.empty) --
          covered(base).getOrElse(s, Set.empty))
      }.filter(_._2.nonEmpty).toMap
      assert(covered(sub).filter(_._2.nonEmpty) == want,
        "subtract is not exactly batch-minus-store")
    }
  }

  test("driver-evaluated bucket hash equals Spark's hash() for random keys") {
    // lookup pruning names bucket directories WITHOUT a Spark job; that
    // is only sound if the driver-side Murmur3 agrees with the hash()
    // expression the store was written with, bit for bit
    import org.apache.spark.sql.functions.{col, hash, lit, pmod, shiftright}
    val rnd = new Random(23)
    val rows = (1 to 200).map { _ =>
      (Seq("1", "2", "10", "X", "Y", "MT", "chr7")(rnd.nextInt(7)),
        rnd.nextLong(1L << 40))
    }
    for (n <- Seq(1, 4, 8, 16, 1 << 16)) {
      import spark.implicits._
      val viaSpark = rows.toDF("chromosome", "position")
        .select(col("chromosome"), col("position"),
          pmod(hash(shiftright(col("position"), 11)),
            lit(n)).as("bkt"))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
      for ((c, p) <- rows)
        assert(FreqStore.driverBucket(p >> 11, n) == viaSpark((c, p)),
          s"driver bucket diverged for ($c, $p, n=$n)")
    }
  }

  test("store joins plan as equi-joins — no cartesian or nested-loop fallback") {
    val store = new FreqStore(spark, tmpDir("fqs_plan"), nBuckets = 4)
    val pts = Seq(("1", 5000L)).toDF("chromosome", "position")
    val frags = Seq(("1", 2L, 4096L, 6000L, 1L, 2))
      .toDF("chromosome", "cell", "fbegin", "fend", "sample_id", "pool_size")
    for ((name, df) <- Seq(
        ("containSamples", store.containSamples(pts, frags)),
        ("subtractFragments", store.subtractFragments(frags, frags)),
        ("mergeFragments", store.mergeFragments(frags)))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct")
        && !plan.contains("BroadcastNestedLoopJoin"),
        s"$name planned a quadratic join:\n$plan")
    }
  }

  test("serving an empty store yields an empty, well-typed frame") {
    val store = new FreqStore(spark, tmpDir("fqs_empty"), nBuckets = 4)
    val out = store.serve()
    assert(out.columns.toSeq == Seq("chromosome", "position", "reference",
      "observed", "numer", "denom", "freq_ppm"))
    assert(out.count() == 0)
  }

  test("a generation without a commit-log entry is invisible to readers") {
    val dir = tmpDir("fqs_partial")
    val store = new FreqStore(spark, dir, nBuckets = 4)
    val obs = Seq(("1", 5000L, "A", "C", 3)).toDF(
      "chromosome", "position", "reference", "observed", "support")
    val cov = Seq((1L, "1", 4000L, 6000L, 1L, 2)).toDF(
      "region_id", "chromosome", "begin_pos", "end_pos", "sample_id", "pool_size")
    val smp = Seq((1L, 2, true)).toDF("sample_id", "pool_size", "has_coverage")
    store.commit(0, obs, cov, smp)
    val before = freqKey(store.serve())

    // simulate a crash mid-commit: batch 1's numer overlay landed on
    // disk (poisoned values), but the commit log never recorded gen-1
    Seq(("1", 5000L, "A", "C", 999L))
      .toDF("chromosome", "position", "reference", "observed", "numer")
      .write.parquet(s"$dir/gen-1/comp=numer/bkt=0")
    assert(freqKey(store.serve()) == before,
      "reader trusted an uncommitted generation")
    // the replayed batch commits over the debris and becomes visible
    store.commit(1, obs, cov.filter("false"), smp.filter("false"))
    assert(freqKey(store.serve())(("1", 5000L, "A", "C"))._1 == 6L)
  }

  test("arbitrary-length regions work via sequence-exploded clipped fragments") {
    import org.apache.spark.sql.functions._
    // a 150-cell region (length 300k >> the 2^11 bound the one-shot's
    // bucketedContainment documents) — the store's sequence+clip path
    // must still count it; oracle = a NAIVE range join, no binning
    val dir = tmpDir("fqs_long")
    val store = new FreqStore(spark, dir, nBuckets = 4)
    val obs = (0 until 40).map(i =>
      ("1", i * 7919L % 300000L, "A", "C", 1)).toDF(
      "chromosome", "position", "reference", "observed", "support")
    val cov = Seq((1L, "1", 10000L, 290000L, 1L, 2),
      (2L, "1", 250L, 550L, 2L, 3)).toDF(
      "region_id", "chromosome", "begin_pos", "end_pos", "sample_id", "pool_size")
    val smp = Seq((1L, 2, true), (2L, 3, true), (3L, 5, false)).toDF(
      "sample_id", "pool_size", "has_coverage")
    store.commit(0, obs, cov, smp)
    // naive oracle: denominator by direct range join, numer by group
    val pts = obs.select("chromosome", "position").distinct()
    val covered = pts.join(cov,
      pts("chromosome") === cov("chromosome")
        && pts("position") >= cov("begin_pos")
        && pts("position") <= cov("end_pos"))
      .select(pts("chromosome"), pts("position"),
        cov("sample_id"), cov("pool_size")).distinct()
      .groupBy("chromosome", "position")
      .agg(sum(col("pool_size") * 2).cast("long").as("dcov"))
    val expected = obs.groupBy("chromosome", "position", "reference", "observed")
      .agg(sum("support").cast("long").as("numer"))
      .join(covered, Seq("chromosome", "position"), "left")
      .select(col("chromosome"), col("position"), col("reference"),
        col("observed"), col("numer"),
        (coalesce(col("dcov"), lit(0L)) + 10L).as("denom"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3)) ->
        ((r.getLong(4), r.getLong(5)))).toMap
    val got = freqKey(store.serve()).view.mapValues(v => (v._1, v._2)).toMap
    assert(got == expected)
  }

  test("randomized interleavings converge to the one-shot state") {
    val rnd = new Random(11)
    val chroms = Seq("1", "2", "X", "MT")
    val nSmp = 6
    val obs = (1 to 120).map { i =>
      (chroms(rnd.nextInt(4)), (rnd.nextInt(50) * 997L) % 40000L,
        "A", if (rnd.nextBoolean()) "C" else "G", 1 + rnd.nextInt(3),
        1L + rnd.nextInt(nSmp))
    }.toDF("chromosome", "position", "reference", "observed", "support",
        "sample_id")
      .withColumn("obs_id", org.apache.spark.sql.functions
        .monotonically_increasing_id())
    val cov = (1 to 60).map { i =>
      val b = rnd.nextLong(40000L)
      val sid = 1L + rnd.nextInt(nSmp - 1)
      // pool_size is a SAMPLE attribute denormalized onto coverage rows —
      // keep it consistent per sample, as the import pipeline would
      (i.toLong, chroms(rnd.nextInt(4)), b, b + rnd.nextLong(1500L),
        sid, 1 + (sid % 4).toInt)
    }.toDF("region_id", "chromosome", "begin_pos", "end_pos",
      "sample_id", "pool_size")
    val smp = (1 to nSmp).map(s =>
      (s.toLong, 1 + s % 4, s % 3 != 0)).toDF(
      "sample_id", "pool_size", "has_coverage")

    val store = new FreqStore(spark, tmpDir("fqs_rand"), nBuckets = 4)
    for (i <- 0 until 4)
      store.commit(i,
        obs.filter(s"obs_id % 4 = $i"),
        cov.filter(s"region_id % 4 = $i"),
        smp.filter(s"sample_id % 4 = $i"))
    val expected = freqKey(VardaOps.frequencyFrom(
      obs, cov, smp, withZyg = false))
    assert(expected.nonEmpty)
    assert(freqKey(store.serve()) == expected)

    // the round-9 serving surfaces over the same randomized store:
    // expression-filtered lookup against the one-shot over the subset,
    // then a store-derived retraction against the one-shot over the
    // survivors (obs are sample-tagged, so both cut numerators too)
    import org.apache.spark.sql.functions.col
    val somePts = obs.select("chromosome", "position").distinct().limit(24)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val sub = Seq(1L, 3L, 4L)
    def oneShot(smpPred: Long => Boolean) = freqKey(VardaOps.frequencyFrom(
      obs.filter(col("sample_id").isin((1L to nSmp).filter(smpPred): _*)),
      cov.filter(col("sample_id").isin((1L to nSmp).filter(smpPred): _*)),
      smp.filter(col("sample_id").isin((1L to nSmp).filter(smpPred): _*)),
      withZyg = false))
    val lookedUp = freqKey(
      store.lookupPointsFiltered(somePts, col("sample_id").isin(sub: _*)))
    val expectSub = oneShot(sub.contains).filter { case ((c, p, _, _), _) =>
      somePts.contains((c, p)) }
    assert(lookedUp == expectSub,
      "randomized store: filtered lookup diverged from the one-shot subset")

    store.retractSamples(4, smp.filter(col("sample_id").isin(2L, 5L)))
    val afterRm = freqKey(store.serve())
    val expectedRm = oneShot(id => id != 2L && id != 5L)
    assert(afterRm == expectedRm,
      "randomized store: retraction diverged from the one-shot over survivors")
  }

  test("covidx names each sample's cover buckets; retraction reads only those and compaction rewrites exactly") {
    val dir = tmpDir("fqs_covidx")
    val n = 4
    val store = new FreqStore(spark, dir, nBuckets = n)
    // two covered samples whose regions live in DISJOINT cells (2^11
    // positions per cell): sample 1 in cells 1-2, sample 2 in cells 43-44
    val obs = Seq(
      ("1", 5000L, "A", "C", 3, 1L), ("1", 90000L, "G", "T", 2, 2L))
      .toDF("chromosome", "position", "reference", "observed", "support",
        "sample_id")
    val cov = Seq(
      (10L, "1", 4000L, 6000L, 1L, 2),
      (11L, "1", 89000L, 91000L, 2L, 5))
      .toDF("region_id", "chromosome", "begin_pos", "end_pos",
        "sample_id", "pool_size")
    val smp = Seq((1L, 2, true), (2L, 5, true)).toDF(
      "sample_id", "pool_size", "has_coverage")
    store.commit(0, obs, cov, smp)

    def cellBkts(cells: Range) =
      cells.map(c => FreqStore.driverBucket(c.toLong, n)).toSet
    val s1 = Seq(1L).toDF("sample_id")
    val s2 = Seq(2L).toDF("sample_id")
    assert(store.covBucketsOf(9, s1) == cellBkts(1 to 2))
    assert(store.covBucketsOf(9, s2) == cellBkts(43 to 44))
    // ...and the obsidx twin names each sample's obslog point bucket
    assert(store.obsBucketsOf(9, s1) ==
      Set(FreqStore.pointBucket(5000L, n)))
    assert(store.obsBucketsOf(9, s2) ==
      Set(FreqStore.pointBucket(90000L, n)))

    // the retraction through the pruned cover read still converges to
    // the one-shot over the surviving sample
    store.retractSamples(1, smp.filter($"sample_id" === 1L))
    val got = freqKey(store.serve())
    val exp = freqKey(VardaOps.frequencyFrom(
      obs.filter($"sample_id" === 2L),
      cov.filter($"sample_id" === 2L), smp.filter($"sample_id" === 2L),
      withZyg = false))
    assert(got == exp, "pruned retraction diverged from the one-shot")

    // compaction rewrites the registries EXACTLY from the consolidated
    // stores: the retracted sample's stale hints age out
    store.compact()
    assert(store.covBucketsOf(9, s1).isEmpty,
      "compaction kept the retracted sample's covidx residue")
    assert(store.covBucketsOf(9, s2) == cellBkts(43 to 44))
    assert(store.obsBucketsOf(9, s1).isEmpty,
      "compaction kept the retracted sample's obsidx residue")
    assert(store.obsBucketsOf(9, s2) ==
      Set(FreqStore.pointBucket(90000L, n)))
    // and a post-compaction retraction through the doubly-pruned reads
    // still nets the surviving sample out to an empty store
    store.retractSamples(2, smp.filter($"sample_id" === 2L))
    assert(store.serve().isEmpty,
      "post-compaction pruned retraction left residue")
  }

  test("serveAsOf pins every pre-compaction generation; compaction invalidates loudly") {
    import org.apache.spark.sql.functions.lit
    // the convergence fixture's adversarial batches: coverage arriving
    // after its point, a coverage-less sample mid-stream, haploid X
    val obsB = Seq(
      Seq(("1", 5000L, "A", "C", 3, "x"), ("X", 5000L, "A", "C", 1, "x")),
      Seq.empty[(String, Long, String, String, Int, String)],
      Seq(("2", 700L, "G", "T", 2, "x")))
      .map(_.toDF("chromosome", "position", "reference", "observed",
        "support", "ignore"))
    val covB = Seq(
      Seq((10L, "1", 4000L, 6000L, 1L, 2), (14L, "2", 600L, 800L, 2L, 5)),
      Seq((11L, "1", 4500L, 5500L, 1L, 2)),
      Seq((12L, "X", 4000L, 6000L, 2L, 5), (13L, "X", 9000L, 9500L, 1L, 2)))
      .map(_.toDF("region_id", "chromosome", "begin_pos", "end_pos",
        "sample_id", "pool_size"))
    val smpB = Seq(
      Seq((1L, 2, true)), Seq((3L, 7, false)), Seq((2L, 5, true)))
      .map(_.toDF("sample_id", "pool_size", "has_coverage"))
    val store = new FreqStore(spark, tmpDir("fqs_asof"), nBuckets = 4)
    for (i <- 0 until 3) store.commit(i, obsB(i), covB(i), smpB(i))

    // every generation's pinned read equals the one-shot over that
    // batch PREFIX — exactly the frame a contemporary reader served.
    // (null-safe key: early generations legitimately serve freq_ppm =
    // NULL — a variant observed before any covering/uncovered sample
    // registers has denominator 0, which the store's serve coalesces to
    // denom = 0 while the in-session one-shot leaves denom NULL; both
    // mean "no denominator mass yet", so the key maps NULL denom to 0)
    def freqKeyN(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3)) ->
        ((r.getLong(4),
          if (r.isNullAt(5)) 0L else r.getLong(5),
          if (r.isNullAt(6)) Long.MinValue else r.getLong(6)))).toMap
    def oneShot(g: Int) = freqKeyN(VardaOps.frequencyFrom(
      obsB.take(g + 1).reduce(_ unionByName _).withColumn("sample_id", lit(0L)),
      covB.take(g + 1).reduce(_ unionByName _),
      smpB.take(g + 1).reduce(_ unionByName _), withZyg = false))
    for (g <- 0 until 3)
      assert(freqKeyN(store.serveAsOf(g)) == oneShot(g), s"asOf=$g diverged")
    assert(freqKeyN(store.serveAsOf(2)) == freqKeyN(store.serve()),
      "asOf at the head must equal serve()")
    // a bound before the first commit has no state to serve: loud
    intercept[IllegalArgumentException](store.serveAsOf(-1L))
    // ... and a bound BEYOND the head must not silently serve the head
    // state labeled as a generation that never committed
    val eFut = intercept[IllegalArgumentException](store.serveAsOf(99L))
    assert(eFut.getMessage.contains("beyond the newest"), eFut.getMessage)

    // compaction consolidates history: pre-snapshot bounds fail loudly
    // (never a silently floored or empty frame), the head stays served
    val head = freqKeyN(store.serve())
    store.compact()
    val e = intercept[IllegalArgumentException](store.serveAsOf(1L))
    assert(e.getMessage.contains("snapshot"), e.getMessage)
    assert(freqKeyN(store.serveAsOf(2)) == head,
      "post-compaction head read diverged")
  }

  test("the writer lock makes the single-writer contract loud") {
    import org.apache.spark.sql.functions.lit
    val dir = tmpDir("fqs_wlock")
    val store = new FreqStore(spark, dir, nBuckets = 4)
    val obs = Seq(("1", 5000L, "A", "C", 3)).toDF(
      "chromosome", "position", "reference", "observed", "support")
    val cov = Seq((1L, "1", 4000L, 6000L, 1L, 2)).toDF(
      "region_id", "chromosome", "begin_pos", "end_pos", "sample_id", "pool_size")
    val smp = Seq((1L, 2, true)).toDF("sample_id", "pool_size", "has_coverage")
    store.commit(0, obs, cov, smp)
    // a successful commit releases the lock
    assert(!Files.exists(Paths.get(dir, "_writer.lock")),
      "commit left the writer lock behind")
    // a concurrent writer (simulated by a stale lock) fails fast with a
    // clear message — commit, retract and compact all guard
    Files.write(Paths.get(dir, "_writer.lock"),
      "someone-else 0 other@host".getBytes("UTF-8"))
    val e = intercept[IllegalStateException] {
      store.commit(1, obs, cov.filter(lit(false)), smp.filter(lit(false)))
    }
    assert(e.getMessage.contains("another writer"), e.getMessage)
    intercept[IllegalStateException](store.compact())
    intercept[IllegalStateException](
      store.retractSamples(2, smp.select("sample_id")))
    // the failed attempts left no blessed generation
    assert(freqKey(store.serve()).keySet == Set(("1", 5000L, "A", "C")))
    // operator crash recovery: break the lock, work resumes
    store.breakLock()
    store.commit(1, obs, cov.filter(lit(false)), smp.filter(lit(false)))
    assert(freqKey(store.serve())(("1", 5000L, "A", "C"))._1 == 6L)
    assert(!Files.exists(Paths.get(dir, "_writer.lock")))
  }

  test("lock release checks ownership: a broken+reacquired lock survives " +
      "the original writer's finally") {
    // round-12 ADVICE (medium): withWriterLock used to delete
    // _writer.lock unconditionally on exit. If an operator breaks the
    // lock while writer A still runs and writer B acquires, A's release
    // must NOT evict B — that would silently admit a third writer.
    val dir = tmpDir("fqs_wlock_own")
    val store = new FreqStore(spark, dir, nBuckets = 4)
    new java.io.File(dir).mkdirs()
    val lockPath = Paths.get(dir, "_writer.lock")
    // writer B re-creates the lock the way a real writer does — through
    // the Hadoop fs (raw-NIO writes would fail Hadoop's checksum read)
    val hfs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hLock = new org.apache.hadoop.fs.Path(s"$dir/_writer.lock")
    store.withWriterLock("ownership test") {
      // simulate: operator breaks the lock mid-run, writer B acquires
      hfs.delete(hLock, false)
      val o = hfs.create(hLock, false)
      try o.write("writer-B 123 b@host".getBytes("UTF-8")) finally o.close()
    }
    assert(Files.exists(lockPath),
      "writer A's release deleted writer B's lock")
    assert(new String(Files.readAllBytes(lockPath), "UTF-8")
      .startsWith("writer-B"), "lock content changed")
    Files.delete(lockPath)
    // the normal path still releases its own lock
    store.withWriterLock("own lock")(())
    assert(!Files.exists(lockPath), "writer failed to release its own lock")
  }

  test("unmarkGeneration holds the writer lock (commit-log mutation guard)") {
    // round-12 ADVICE: marker withdrawal is a commit-log mutation and
    // must fail fast under a foreign lock like every other mutating op.
    val dir = tmpDir("fqs_unmark_lock")
    val store = new FreqStore(spark, dir, nBuckets = 4)
    new java.io.File(dir).mkdirs()
    Files.write(Paths.get(dir, "_writer.lock"),
      "someone-else 0 other@host".getBytes("UTF-8"))
    val e = intercept[IllegalStateException](store.unmarkGeneration(0))
    assert(e.getMessage.contains("another writer"), e.getMessage)
    store.breakLock()
    store.unmarkGeneration(0) // absent marker: no-op, but lock roundtrips
    assert(!Files.exists(Paths.get(dir, "_writer.lock")))
  }

  test("appendGeneration picks its id under the lock and fails fast when held") {
    // the SQL INSERT path: id chosen UNDER the writer lock (a pre-lock
    // max+1 could overwrite a racing appender's generation); a held
    // lock fails the whole append before any id is chosen or store
    // state touched
    import org.apache.spark.sql.functions.lit
    val dir = tmpDir("fqs_append")
    val store = new FreqStore(spark, dir, nBuckets = 4)
    val obs = Seq(("1", 5000L, "A", "C", 3)).toDF(
      "chromosome", "position", "reference", "observed", "support")
    val cov = Seq((1L, "1", 4000L, 6000L, 1L, 2)).toDF(
      "region_id", "chromosome", "begin_pos", "end_pos", "sample_id", "pool_size")
    val smp = Seq((1L, 2, true)).toDF("sample_id", "pool_size", "has_coverage")
    store.commit(0, obs, cov, smp)
    // sequential appends take ids 1 then 2
    assert(store.appendGeneration(obs, cov.filter(lit(false)),
      smp.filter(lit(false))) == 1L)
    assert(store.appendGeneration(obs, cov.filter(lit(false)),
      smp.filter(lit(false))) == 2L)
    assert(store.generations.map(_._1).max == 2L)
    // a held lock fails the append loudly; nothing committed
    Files.write(Paths.get(dir, "_writer.lock"),
      "someone-else 0 other@host".getBytes("UTF-8"))
    val e = intercept[IllegalStateException] {
      store.appendGeneration(obs, cov.filter(lit(false)),
        smp.filter(lit(false)))
    }
    assert(e.getMessage.contains("another writer"), e.getMessage)
    store.breakLock()
    assert(store.generations.map(_._1).max == 2L,
      "failed append left a generation behind")
  }

  test("NULL or negative sample ids fail the commit loudly (registry encoding)") {
    // round-11 ADVICE: a NULL coverage sample_id used to pack to NULL,
    // getLong unboxed it to 0, and the TRUE bucket's cover overlay was
    // silently rewritten from batch fragments alone — dropping every
    // prior fragment in that bucket. The invariant is now guarded at
    // manifest time: commits with a NULL/negative coverage sample_id or
    // a negative observation sample_id must fail BEFORE touching store
    // state, and NULL observation sample ids stay legal (untagged rows).
    import org.apache.spark.sql.functions.{col, lit, when}
    def msgs(t: Throwable): String =
      if (t == null) "" else t.toString + "\n" + msgs(t.getCause)
    val dir = tmpDir("fqs_sidguard")
    val store = new FreqStore(spark, dir, nBuckets = 4)
    val obs = Seq(("1", 5000L, "A", "C", 3, 1L)).toDF(
      "chromosome", "position", "reference", "observed", "support", "sample_id")
    val cov = Seq((1L, "1", 4000L, 6000L, 1L, 2), (2L, "1", 8000L, 9000L, 2L, 5))
      .toDF("region_id", "chromosome", "begin_pos", "end_pos", "sample_id",
        "pool_size")
    val smp = Seq((1L, 2, true), (2L, 5, true)).toDF(
      "sample_id", "pool_size", "has_coverage")
    store.commit(0, obs, cov, smp)
    val before = freqKey(store.serve())

    // NULL coverage sample_id: loud, and the store is untouched
    val covNull = cov.withColumn("sample_id",
      when(col("region_id") === 2L, lit(null).cast("long"))
        .otherwise(col("sample_id")))
    val eNull = intercept[Exception] {
      store.commit(1, obs.filter(lit(false)), covNull, smp.filter(lit(false)))
    }
    assert(msgs(eNull).contains("sample_id must be non-null"), msgs(eNull))
    // negative coverage sample_id: same guard (it corrupts the decode)
    val eNeg = intercept[Exception] {
      store.commit(1, obs.filter(lit(false)),
        cov.withColumn("sample_id", lit(-3L)), smp.filter(lit(false)))
    }
    assert(msgs(eNeg).contains("sample_id must be non-null"), msgs(eNeg))
    // negative observation sample_id: guarded on the numerator side too
    val eObs = intercept[Exception] {
      store.commit(1, obs.withColumn("sample_id", lit(-1L)),
        cov.filter(lit(false)), smp.filter(lit(false)))
    }
    assert(msgs(eObs).contains("sample_id must be non-null"), msgs(eObs))
    // the failed commits left no blessed generation behind
    assert(freqKey(store.serve()) == before, "failed commit mutated the store")

    // untagged observations (NULL sample_id) remain legal
    val obsUntagged = obs.withColumn("sample_id", lit(null).cast("long"))
    store.commit(1, obsUntagged, cov.filter(lit(false)), smp.filter(lit(false)))
    val got = freqKey(store.serve())
    assert(got(("1", 5000L, "A", "C"))._1 == 6L,
      "untagged observation rows must still fold into the numerator")
  }
}
