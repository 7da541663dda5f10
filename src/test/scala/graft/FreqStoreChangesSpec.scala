package graft

import java.nio.file.{Files, Paths}

import graft.sources.{FreqStoreChangesOffset, FreqStoreChangesStream}
import graft.varda.FreqStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

/** The freqstore change stream (`readStream.format("freqstore-changes")`):
  * committed generations arrive as micro-batches of their obslog deltas,
  * a streamed running aggregate matches the batch store's served numer
  * state, new commits are discovered incrementally, and a generation
  * whose v0 delta was compacted away fails LOUDLY instead of silently
  * desyncing the stream. */
class FreqStoreChangesSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(Paths.get("/root/repo/target"), prefix).toString

  // the FreqStoreSpec adversarial batch shapes: sample-tagged and
  // untagged observations, coverage+points interleaved, a pure-coverage
  // batch with NO observation rows (gen 1)
  private def obsB(i: Int): DataFrame = Seq(
    Seq(("1", 5000L, "A", "C", 3), ("X", 5000L, "A", "C", 1)),
    Seq.empty[(String, Long, String, String, Int)],
    Seq(("2", 700L, "G", "T", 2)))(i)
    .toDF("chromosome", "position", "reference", "observed", "support")
  private def covB(i: Int): DataFrame = Seq(
    Seq((10L, "1", 4000L, 6000L, 1L, 2), (14L, "2", 600L, 800L, 2L, 5)),
    Seq((11L, "1", 4500L, 5500L, 1L, 2)),
    Seq((12L, "X", 4000L, 6000L, 2L, 5)))(i)
    .toDF("region_id", "chromosome", "begin_pos", "end_pos", "sample_id",
      "pool_size")
  private def smpB(i: Int): DataFrame = Seq(
    Seq((1L, 2, true)), Seq((3L, 7, false)), Seq((2L, 5, true)))(i)
    .toDF("sample_id", "pool_size", "has_coverage")

  private def build3(dir: String): FreqStore = {
    val store = new FreqStore(spark, dir, nBuckets = 4)
    for (i <- 0 until 3) store.commit(i, obsB(i), covB(i), smpB(i))
    store
  }

  private def numerKey(df: DataFrame): Map[(String, Long, String, String), Long] =
    df.select("chromosome", "position", "reference", "observed", "numer")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3)) ->
        r.getLong(4)).toMap

  test("streamed running aggregate matches the batch serve() numer state, " +
      "and new commits are discovered incrementally") {
    val dir = tmpDir("chg_parity")
    val store = build3(dir)
    val agg = spark.readStream.format("freqstore-changes").load(dir)
      .groupBy("chromosome", "position", "reference", "observed")
      .agg(org.apache.spark.sql.functions.sum("support").as("numer"),
        org.apache.spark.sql.functions.max("generation").as("hwm"))
    val q = agg.writeStream.outputMode("complete").format("memory")
      .queryName("chg_parity").start()
    try {
      q.processAllAvailable()
      val t = spark.table("chg_parity")
      assert(numerKey(t) == numerKey(store.serve()))
      // the streamed high-water mark matches the commit log's
      assert(t.select(org.apache.spark.sql.functions.max("hwm"))
        .head().getLong(0) == 2L)

      // a commit landing AFTER the stream started is picked up by the
      // next micro-batch — the poll-for-new-imports lifecycle
      store.commit(3,
        Seq(("3", 42000L, "T", "G", 5)).toDF(
          "chromosome", "position", "reference", "observed", "support"),
        covB(1).filter("false"), smpB(1).filter("false"))
      q.processAllAvailable()
      val t2 = spark.table("chg_parity")
      assert(numerKey(t2) == numerKey(store.serve()))
      assert(numerKey(t2)(("3", 42000L, "T", "G")) == 5L)
      assert(t2.select(org.apache.spark.sql.functions.max("hwm"))
        .head().getLong(0) == 3L)
    } finally q.stop()
  }

  test("rows carry their generation; an all-coverage commit is an empty " +
      "batch that still advances the offset") {
    val dir = tmpDir("chg_gens")
    build3(dir)
    val q = spark.readStream.format("freqstore-changes").load(dir)
      .writeStream.outputMode("append").format("memory")
      .queryName("chg_gens").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("chg_gens").collect()
      // gen 1 is pure coverage — observation rows come only from 0 and 2
      assert(rows.map(_.getLong(0)).toSet == Set(0L, 2L))
      // gen 0's two observations and gen 2's one, sample-untagged
      assert(rows.length == 3)
      assert(rows.forall(_.isNullAt(5)))
      // the consumed offset still covers the empty generation 1
      assert(q.lastProgress.sources.head.endOffset.contains("\"lastGen\":2"))
    } finally q.stop()
  }

  test("startingGeneration streams only the tail") {
    val dir = tmpDir("chg_tail")
    build3(dir)
    val q = spark.readStream.format("freqstore-changes")
      .option("startingGeneration", "2").load(dir)
      .writeStream.outputMode("append").format("memory")
      .queryName("chg_tail").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("chg_tail").collect()
      assert(rows.map(_.getLong(0)).toSet == Set(2L))
      assert(rows.map(r => (r.getString(1), r.getLong(2))).toSeq ==
        Seq(("2", 700L)))
    } finally q.stop()
  }

  test("a generation whose v0 delta was compacted away fails loudly, " +
      "not silently empty") {
    val dir = tmpDir("chg_compacted")
    val store = build3(dir)
    store.compact()
    val q = spark.readStream.format("freqstore-changes").load(dir)
      .writeStream.outputMode("append").format("memory")
      .queryName("chg_compacted").start()
    val ex = intercept[StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("no longer streamable")),
      s"wanted the addressability error, got: ${messages(ex)}")
  }

  test("restart from a checkpoint resumes at the stored offset — no " +
      "replays, no gaps") {
    val dir = tmpDir("chg_restart")
    val ckpt = tmpDir("chg_restart_ckpt")
    val store = build3(dir)
    // the memory sink refuses checkpoint recovery; foreachBatch is the
    // recoverable sink a real maintenance loop would use anyway
    def run(buf: scala.collection.mutable.ArrayBuffer[(Long, String, Long, Long)]) =
      spark.readStream.format("freqstore-changes").load(dir)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, _: Long) =>
          buf.synchronized {
            buf ++= df.collect().map(r =>
              (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(6)))
          }
          ()
        }.start()
    val got1 = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long, Long)]
    val q1 = run(got1)
    try {
      q1.processAllAvailable()
      assert(got1.map(_._1).toSet == Set(0L, 2L) && got1.size == 3)
    } finally q1.stop()

    // a commit landing while no stream is running
    store.commit(3,
      Seq(("9", 123000L, "A", "T", 6)).toDF(
        "chromosome", "position", "reference", "observed", "support"),
      covB(1).filter("false"), smpB(1).filter("false"))

    // the restarted query deserializes {"lastGen":2} from the checkpoint
    // and emits ONLY generation 3 — replaying 0-2 here would double-count
    // every downstream aggregate
    val got2 = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long, Long)]
    val q2 = run(got2)
    try {
      q2.processAllAvailable()
      assert(got2.map(_._1).toSet == Set(3L))
      assert(got2.toSeq == Seq((3L, "9", 123000L, 6L)))
    } finally q2.stop()
  }

  test("retraction tombstones flow through the stream: cumulative sums " +
      "net to the post-retraction serve() state") {
    val dir = tmpDir("chg_retract")
    val store = new FreqStore(spark, dir, nBuckets = 4)
    // sample-TAGGED observations (retractable by sample): sample 2
    // contributes to both variants, sample 1 to one
    val obs0 = Seq(
      ("1", 5000L, "A", "C", 3, 1L), ("1", 5000L, "A", "C", 2, 2L),
      ("2", 700L, "G", "T", 4, 2L)).toDF(
      "chromosome", "position", "reference", "observed", "support",
      "sample_id")
    val smp0 = Seq((1L, 2, true), (2L, 5, true)).toDF(
      "sample_id", "pool_size", "has_coverage")
    store.commit(0, obs0, covB(0), smp0)
    // generation 1 IS the retraction: negated obslog tombstones for
    // sample 2, appended through the same commit machinery
    store.retractSamples(1, Seq((2L, 5, true)).toDF(
      "sample_id", "pool_size", "has_coverage"))
    val agg = spark.readStream.format("freqstore-changes").load(dir)
      .groupBy("chromosome", "position", "reference", "observed")
      .agg(org.apache.spark.sql.functions.sum("support").as("net"))
    val q = agg.writeStream.outputMode("complete").format("memory")
      .queryName("chg_retract").start()
    try {
      q.processAllAvailable()
      val net = spark.table("chg_retract").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2),
          r.getString(3)) -> r.getLong(4)).toMap
      // sample 2's contributions net to zero; sample 1's survive
      assert(net(("1", 5000L, "A", "C")) == 3L, net)
      assert(net(("2", 700L, "G", "T")) == 0L, net)
      // and the non-zero streamed nets equal the store's served numer
      val served = numerKey(store.serve()).filter(_._2 != 0L)
      assert(net.filter(_._2 != 0L) == served)
    } finally q.stop()
  }

  test("randomized interleaving property: commits, retractions and a " +
      "grace-window compaction — streamed nets equal serve()") {
    val rnd = new scala.util.Random(42)
    val dir = tmpDir("chg_prop")
    val store = new FreqStore(spark, dir, nBuckets = 4)
    val chroms = Seq("1", "2", "X")
    val basesPool = Seq(("A", "C"), ("G", "T"), ("C", "A"))
    var registered = Vector.empty[Long]
    var nextId = 0L
    def emptyCov = covB(1).filter("false")
    def emptySmp = smpB(1).filter("false")
    for (g <- 0 until 7) {
      if (g == 4 && registered.nonEmpty) {
        // a retraction generation for a random registered sample
        val victim = registered(rnd.nextInt(registered.size))
        store.retractSamples(nextId, Seq((victim, 2, true)).toDF(
          "sample_id", "pool_size", "has_coverage"))
        nextId += 1
      } else if (g == 5) {
        // mid-history snapshot with a grace window wide enough to keep
        // every v0 delta addressable — the stream must keep working
        // across the snapshot floor (the density check's positive path)
        store.compact(retainGens = 100)
      } else {
        val n = 1 + rnd.nextInt(4)
        val sid: java.lang.Long =
          if (rnd.nextBoolean()) { // tagged batch registers its sample
            val s = 10L + g
            registered :+= s
            s
          } else null // untagged observations
        val rows = (0 until n).map { _ =>
          val (r, o) = basesPool(rnd.nextInt(basesPool.size))
          (chroms(rnd.nextInt(chroms.size)),
            1000L + rnd.nextInt(8) * 1000L, r, o, 1 + rnd.nextInt(3), sid)
        }
        val obs = rows.toDF("chromosome", "position", "reference",
          "observed", "support", "sample_id")
        val smp =
          if (sid != null) Seq((sid.longValue(), 2, true)).toDF(
            "sample_id", "pool_size", "has_coverage")
          else emptySmp
        store.commit(nextId, obs, emptyCov, smp)
        nextId += 1
      }
    }
    val agg = spark.readStream.format("freqstore-changes").load(dir)
      .groupBy("chromosome", "position", "reference", "observed")
      .agg(org.apache.spark.sql.functions.sum("support").as("net"))
    val q = agg.writeStream.outputMode("complete").format("memory")
      .queryName("chg_prop").start()
    try {
      q.processAllAvailable()
      val net = spark.table("chg_prop").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2),
          r.getString(3)) -> r.getLong(4)).toMap.filter(_._2 != 0L)
      val served = numerKey(store.serve()).filter(_._2 != 0L)
      assert(net == served, s"streamed=$net served=$served")
      assert(net.nonEmpty)
    } finally q.stop()
  }

  test("maxGensPerTrigger bounds each micro-batch to whole generations") {
    val dir = tmpDir("chg_throttle")
    build3(dir)
    // record (batchId -> generation set) per micro-batch
    val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Set[Long], Long)]
    val q = spark.readStream.format("freqstore-changes")
      .option("maxGensPerTrigger", "1").load(dir)
      .writeStream.outputMode("append")
      .foreachBatch { (df: DataFrame, id: Long) =>
        val rows = df.collect()
        batches.synchronized {
          batches += ((id, rows.map(_.getLong(0)).toSet, rows.length.toLong))
        }
        ()
      }.start()
    try {
      q.processAllAvailable()
      // 3 generations -> 3 micro-batches, one generation each (gen 1 is
      // the empty all-coverage batch); a row-level cap could not keep
      // the transaction boundary — the generation-unit cap must
      assert(batches.size == 3, s"got $batches")
      assert(batches.forall(_._2.size <= 1), s"got $batches")
      assert(batches.flatMap(_._2).toSet == Set(0L, 2L))
      assert(batches.map(_._3).sum == 3L)
    } finally q.stop()
  }

  test("Trigger.AvailableNow drains to the pinned target and terminates") {
    val dir = tmpDir("chg_availnow")
    val store = build3(dir)
    def drain(name: String): Seq[Long] = {
      val gens = scala.collection.mutable.ArrayBuffer.empty[Long]
      val q = spark.readStream.format("freqstore-changes")
        .option("maxGensPerTrigger", "1").load(dir)
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$dir/_ckpt_$name")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (df: DataFrame, _: Long) =>
          gens.synchronized { gens ++= df.collect().map(_.getLong(0)) }
          ()
        }.start()
      // the trigger's contract IS self-termination — no stop() call
      assert(q.awaitTermination(120000), "AvailableNow query did not terminate")
      gens.toSeq
    }
    assert(drain("a").sorted == Seq(0L, 0L, 2L))
    // a commit landing between runs is the next run's work
    store.commit(3,
      Seq(("5", 77000L, "G", "C", 2)).toDF(
        "chromosome", "position", "reference", "observed", "support"),
      covB(1).filter("false"), smpB(1).filter("false"))
    assert(drain("b").sorted == Seq(0L, 0L, 2L, 3L))
  }

  test("compact(retainGens) keeps the grace window streamable — the " +
      "documented lag-tolerance contract") {
    val dir = tmpDir("chg_grace")
    val store = build3(dir)
    // the sweep's own victims are protected unconditionally under a
    // grace policy, markers included — so a stream lagging behind the
    // compaction still addresses every generation's v0 delta
    store.compact(retainGens = 3)
    val q = spark.readStream.format("freqstore-changes").load(dir)
      .writeStream.outputMode("append").format("memory")
      .queryName("chg_grace").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("chg_grace").collect()
      assert(rows.map(_.getLong(0)).toSet == Set(0L, 2L))
      assert(rows.length == 3)
    } finally q.stop()
  }

  test("a generation swept OUT of the log entirely still fails loudly — " +
      "never a silently empty batch") {
    // the adversarial shape: gens 0-1's markers are erased outright
    // while the snapshot head's own v0 survives in the grace window, so
    // a live listing alone would intersect an already-pinned (lo=-1,
    // hi=1] batch down to NOTHING and silently skip two generations.
    // The density check below the snapshot floor must fail instead.
    val dir = tmpDir("chg_swept")
    val store = build3(dir)
    store.compact(retainGens = 1)  // snapshot (2,1); grace keeps all v0s
    store.compact(retainGens = 1)  // ages out (0,0),(1,0); keeps (2,0)
    assert(store.obslogDeltaFiles(2L).isDefined)   // head v0 addressable
    assert(store.obslogDeltaFiles(0L).isEmpty)     // history erased
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    val stream = new FreqStoreChangesStream(dir, None)
    val ex = intercept[RuntimeException] {
      stream.planInputPartitions(
        FreqStoreChangesOffset(-1L), FreqStoreChangesOffset(1L))
    }
    assert(ex.getMessage.contains("no longer streamable"), ex.getMessage)
  }

  test("SPARSE generation ids stream fine below a grace-kept snapshot " +
      "floor — the wave-ingest allocation (2b, conditional 2b+1)") {
    // the ingest loop commits gen 2b always and 2b+1 only when
    // retractions exist, so odd-id gaps are NORMAL; a dense-id
    // reconstruction would declare gen 1/3 "no longer streamable" on a
    // perfectly healthy compacted store. The completeness rule is the
    // sweep's oldest-first erasure: the range is provably complete iff
    // it starts at or above the OLDEST SURVIVING v0 delta.
    val dir = tmpDir("chg_sparse")
    val store = new FreqStore(spark, dir, nBuckets = 4)
    for (i <- 0 until 3)
      store.commit(2L * i, obsB(if (i == 1) 0 else i % 3), covB(i), smpB(i))
    store.compact(retainGens = 100) // snapshot floor; all v0s survive
    val q = spark.readStream.format("freqstore-changes").load(dir)
      .writeStream.outputMode("append").format("memory")
      .queryName("chg_sparse").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("chg_sparse").collect()
      assert(rows.map(_.getLong(0)).toSet == Set(0L, 2L, 4L))
      assert(rows.length == 5) // 2 + 2 + 1 observation rows
    } finally q.stop()
  }

  test("a generation withdrawn between offset pinning and planning fails " +
      "loudly — the ingest wave-replay unmark window") {
    val dir = tmpDir("chg_unmark")
    val store = build3(dir)
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    val stream = new FreqStoreChangesStream(dir, None)
    // the offset pinned hi=2 while gen 2 was committed; the crash
    // replay then withdraws its marker before refolding — planning the
    // batch without it would advance the offset past a generation the
    // replay is about to RECOMMIT (silent permanent skip)
    store.unmarkGeneration(2L)
    val ex = intercept[RuntimeException] {
      stream.planInputPartitions(
        FreqStoreChangesOffset(-1L), FreqStoreChangesOffset(2L))
    }
    assert(ex.getMessage.contains("withdrawn"), ex.getMessage)
    assert(ex.getMessage.contains("not lost"), ex.getMessage)
  }

  test("the checkpoint offset wins over startingGeneration on restart — " +
      "no silent generation skips") {
    val dir = tmpDir("chg_ckptwins")
    val store = build3(dir)
    store.commit(3,
      Seq(("4", 8000L, "A", "G", 1)).toDF(
        "chromosome", "position", "reference", "observed", "support"),
      covB(1).filter("false"), smpB(1).filter("false"))
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    // restarted with a HIGHER startingGeneration than the checkpoint:
    // the option seeds initialOffset only — latestOffset must resume
    // from the checkpoint's lastGen=2 and emit generation 3, not skip
    // to the option's floor
    val stream = new FreqStoreChangesStream(dir, Some(5L))
    val next = stream.latestOffset(FreqStoreChangesOffset(2L),
      org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
    assert(next.asInstanceOf[FreqStoreChangesOffset].lastGen == 3L)
    // while a FRESH start (no checkpoint) honors the option's floor
    assert(stream.initialOffset()
      .asInstanceOf[FreqStoreChangesOffset].lastGen == 4L)
  }

  // ---- the DENOMINATOR side (round 16): components=obslog,cover,registry

  private def freqKey(df: DataFrame): Set[(String, Long, String, String,
      Long, Long, Any)] =
    df.select("chromosome", "position", "reference", "observed", "numer",
        "denom", "freq_ppm")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3),
        r.getLong(4), r.getLong(5), if (r.isNullAt(6)) null else r.getLong(6)))
      .toSet

  test("a foreachBatch consumer of the multiplexed feed reconstructs " +
      "serve() frequency state bit-exactly — retraction wave included") {
    val dir = tmpDir("chg_freq")
    val store = new FreqStore(spark, dir, nBuckets = 4)
    // adversarial shapes: tagged + untagged observations, coverage
    // overlapping ACROSS batches (gen 1's fragment is inside gen 0's, so
    // its covlog delta must be EMPTY), a coverage-less sample feeding
    // the uncov pool, then a retraction wave for a sample whose merged
    // fragment coalesced two commits' pieces
    val obs0 = Seq(
      ("1", 5000L, "A", "C", 3, 1L), ("1", 5000L, "A", "C", 2, 2L),
      ("2", 700L, "G", "T", 4, 2L)).toDF(
      "chromosome", "position", "reference", "observed", "support",
      "sample_id")
    store.commit(0, obs0, covB(0),
      Seq((1L, 2, true), (2L, 5, true)).toDF(
        "sample_id", "pool_size", "has_coverage"))
    store.commit(1, obsB(1), covB(1), smpB(1)) // pure coverage + uncov sample
    store.commit(2, obsB(2), covB(2), smpB(2))
    // the retraction WAVE: sample 2 held coverage and observations
    store.retractSamples(3, Seq((2L, 5, true)).toDF(
      "sample_id", "pool_size", "has_coverage"))

    // the streamed consumer: foreachBatch (the recoverable sink a real
    // maintenance loop uses), accumulating the feed — then the rebuild
    // is ONE refold over the accumulated deltas, no store read anywhere
    val got = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    val q = spark.readStream.format("freqstore-changes")
      .option("components", "all").load(dir)
      .writeStream.outputMode("append")
      .foreachBatch { (df: DataFrame, _: Long) =>
        got.synchronized { got ++= df.collect() }
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()

    val feed = spark.createDataFrame(
      spark.sparkContext.parallelize(got.toSeq),
      graft.sources.FreqStoreChangesSource.wideSchema)
    val rebuilt = FreqStore.refoldChanges(feed)
    assert(freqKey(rebuilt) == freqKey(store.serve()))
    assert(rebuilt.count() > 0)

    // covlog shape pins: gen 1's cover delta is EMPTY (its fragment is
    // strictly inside gen 0's stored coverage — the subtraction
    // invariant), and gen 3's retraction emits NEGATIVE fragments that
    // net sample 2's measure to zero
    val cover = feed.filter(org.apache.spark.sql.functions
      .col("component") === "cover").collect()
    assert(!cover.exists(r => r.getLong(0) == 1L))
    val s2net = cover.filter(_.getLong(6) == 2L)
      .map(r => (r.getLong(9) to r.getLong(10)).length * r.getLong(11)).sum
    assert(s2net == 0L, s"sample 2's signed coverage measure must net to " +
      s"zero after retraction, got $s2net")
    // the registry streamed the uncov sample (gen 1: sample 3, pool 7,
    // has_coverage=false) — the denominators' uncov-pool side
    val reg = feed.filter(org.apache.spark.sql.functions
      .col("component") === "registry").collect()
    assert(reg.exists(r => r.getLong(6) == 3L && r.getLong(11) == 7L
      && !r.getBoolean(12)))
  }

  test("the multiplexed feed keeps frequency parity at EVERY prefix — a " +
      "consumer is never mid-generation inconsistent") {
    val dir = tmpDir("chg_freq_prefix")
    val store = new FreqStore(spark, dir, nBuckets = 4)
    val obs0 = Seq(("1", 5000L, "A", "C", 3, 1L)).toDF(
      "chromosome", "position", "reference", "observed", "support", "sample_id")
    store.commit(0, obs0, covB(0),
      Seq((1L, 2, true), (2L, 5, true)).toDF(
        "sample_id", "pool_size", "has_coverage"))
    store.commit(1, obsB(1), covB(1), smpB(1))
    store.commit(2, obsB(2), covB(2), smpB(2))
    // one generation per micro-batch: after batch k the accumulated
    // feed must refold to serveAsOf(k) — the transactional-batch
    // contract (a row-capped source could not hold this)
    val perBatch = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Seq[org.apache.spark.sql.Row])]
    val q = spark.readStream.format("freqstore-changes")
      .option("components", "obslog,cover,registry")
      .option("maxGensPerTrigger", "1").load(dir)
      .writeStream.outputMode("append")
      .foreachBatch { (df: DataFrame, _: Long) =>
        val rows = df.collect()
        perBatch.synchronized {
          if (rows.nonEmpty)
            perBatch += ((rows.map(_.getLong(0)).max, rows.toSeq))
        }
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(perBatch.map(_._1).toSeq == Seq(0L, 1L, 2L))
    var acc = Seq.empty[org.apache.spark.sql.Row]
    for ((g, rows) <- perBatch) {
      acc ++= rows
      val feed = spark.createDataFrame(
        spark.sparkContext.parallelize(acc),
        graft.sources.FreqStoreChangesSource.wideSchema)
      assert(freqKey(FreqStore.refoldChanges(feed)) ==
        freqKey(store.serveAsOf(g)),
        s"prefix through generation $g diverged from serveAsOf($g)")
    }
  }

  test("END-TO-END: the typed-inbox ingest loop's waves stream a " +
      "frequency-complete feed — refold == serve() through the REAL " +
      "write path, sparse wave ids and retraction included") {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val base = JFiles.createTempDirectory(
      JPaths.get("/root/repo/target"), "chg_e2e")
    val (src, store, ckpt) = (s"$base/src", s"$base/store", s"$base/ckpt")
    JFiles.createDirectories(JPaths.get(src))
    def put(name: String, rows: Seq[String]): Unit =
      JFiles.write(JPaths.get(s"$src/$name"),
        String.join("\n", rows: _*).getBytes)
    // wave 1 (gens 2b/2b+1 allocation — SPARSE ids are normal): imports
    // with coverage + an uncovered sample; wave 2 carries BOTH a new
    // import and a deactivation (the reference's normal lifecycle)
    put("a.obs", Seq("1;1;5000;A;C;3;1", "2;X;5000;A;C;1;2"))
    put("a.bed", Seq("10;1;4000;6000;1;2", "12;X;4000;6000;2;5"))
    put("a.smp", Seq("1;2;true", "2;5;true", "3;7;false"))
    graft.streaming.Ingest.startFreqStoreMaintenance(spark, src, store, ckpt)
      .awaitTermination()
    put("b.obs", Seq("3;X;5000;A;C;2;2"))
    put("b.rm", Seq("1;2;true", "3;7;false"))
    graft.streaming.Ingest.startFreqStoreMaintenance(spark, src, store, ckpt)
      .awaitTermination()

    val got = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    val q = spark.readStream.format("freqstore-changes")
      .option("components", "all").load(store)
      .writeStream.outputMode("append")
      .foreachBatch { (df: DataFrame, _: Long) =>
        got.synchronized { got ++= df.collect() }
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    val feed = spark.createDataFrame(
      spark.sparkContext.parallelize(got.toSeq),
      graft.sources.FreqStoreChangesSource.wideSchema)
    val st = new FreqStore(spark, store)
    assert(freqKey(FreqStore.refoldChanges(feed)) == freqKey(st.serve()))
    // the retraction wave's -fragments flowed: sample 1's coverage nets
    // to zero in the feed's signed measure
    val s1 = feed.filter(org.apache.spark.sql.functions
        .col("component") === "cover")
      .filter(org.apache.spark.sql.functions.col("sample_id") === 1L)
      .collect()
    assert(s1.nonEmpty && s1.map(r =>
      (r.getLong(10) - r.getLong(9) + 1) * r.getLong(11)).sum == 0L)
  }

  test("the components option is case-insensitive — a miscased key must " +
      "not silently fall back to the narrow feed") {
    val dir = tmpDir("chg_case")
    build3(dir)
    // round-16 review: getTable used to read the ORIGINAL-CASE
    // properties map, so option("Components", …) silently served the
    // legacy obslog-only schema — the exact numerator-without-
    // denominator desync the covlog guard fails loudly to prevent
    val df = spark.readStream.format("freqstore-changes")
      .option("Components", "ALL").load(dir)
    assert(df.schema == graft.sources.FreqStoreChangesSource.wideSchema,
      s"miscased components option fell back to ${df.schema.simpleString}")
  }

  test("the wide feed restarts from its checkpoint: accumulated rows " +
      "across two runs refold to the post-commit serve()") {
    val dir = tmpDir("chg_wide_restart")
    val ckpt = tmpDir("chg_wide_restart_ckpt")
    val store = new FreqStore(spark, dir, nBuckets = 4)
    val obs0 = Seq(("1", 5000L, "A", "C", 3, 1L)).toDF(
      "chromosome", "position", "reference", "observed", "support", "sample_id")
    store.commit(0, obs0, covB(0),
      Seq((1L, 2, true), (2L, 5, true)).toDF(
        "sample_id", "pool_size", "has_coverage"))
    val got = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    def drain(): Unit = {
      val q = spark.readStream.format("freqstore-changes")
        .option("components", "all").load(dir)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, _: Long) =>
          got.synchronized { got ++= df.collect() }
          ()
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    drain()
    val afterFirst = got.size
    // a commit landing while no stream runs; the restarted query must
    // resume at the checkpoint offset — re-emitting gen 0's deltas here
    // would double every component in the refold below
    store.commit(1, obsB(2), covB(2), smpB(2))
    drain()
    assert(got.size > afterFirst, "the restart must emit only the tail")
    val feed = spark.createDataFrame(
      spark.sparkContext.parallelize(got.toSeq),
      graft.sources.FreqStoreChangesSource.wideSchema)
    assert(freqKey(FreqStore.refoldChanges(feed)) == freqKey(store.serve()))
  }

  test("a component SUBSET streams without the others — obslog+registry " +
      "works on a store whose covlog was never written") {
    val dir = tmpDir("chg_subset")
    build3(dir)
    // strip every covlog (a pre-round-16 store): the subset that does
    // not ask for cover must still stream fine
    def rm(x: java.io.File): Unit = {
      Option(x.listFiles()).getOrElse(Array.empty).foreach(rm)
      x.delete(); ()
    }
    for (g <- 0 until 3) rm(new java.io.File(s"$dir/gen-$g/comp=covlog"))
    val q = spark.readStream.format("freqstore-changes")
      .option("components", "obslog,registry").load(dir)
      .writeStream.outputMode("append").format("memory")
      .queryName("chg_subset").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("chg_subset").collect()
      val comps = rows.map(_.getString(1)).toSet
      assert(comps == Set("obs", "registry"), s"got components $comps")
      // all three generations' registry rows arrived (one sample each)
      assert(rows.count(_.getString(1) == "registry") == 3)
      assert(rows.count(_.getString(1) == "obs") == 3)
    } finally q.stop()
  }

  test("components=cover on a generation written without a covlog fails " +
      "loudly — never a silently incomplete generation") {
    val dir = tmpDir("chg_precovlog")
    build3(dir)
    // simulate a pre-round-16 store: erase one generation's covlog dir
    def rm(x: java.io.File): Unit = {
      Option(x.listFiles()).getOrElse(Array.empty).foreach(rm)
      x.delete(); ()
    }
    rm(new java.io.File(s"$dir/gen-1/comp=covlog"))
    val q = spark.readStream.format("freqstore-changes")
      .option("components", "all").load(dir)
      .writeStream.outputMode("append").format("memory")
      .queryName("chg_precovlog").start()
    val ex = intercept[StreamingQueryException] { q.processAllAvailable() }
    q.stop()
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("covlog")),
      s"wanted the covlog-upgrade error, got: ${messages(ex)}")
  }

  test("a compacted store's covlog snapshot is the netted coverage " +
      "measure (retraction +/- pairs cancel)") {
    val dir = tmpDir("chg_freq_compact")
    val store = new FreqStore(spark, dir, nBuckets = 4)
    val obs0 = Seq(("1", 5000L, "A", "C", 3, 1L)).toDF(
      "chromosome", "position", "reference", "observed", "support", "sample_id")
    store.commit(0, obs0, covB(0),
      Seq((1L, 2, true), (2L, 5, true)).toDF(
        "sample_id", "pool_size", "has_coverage"))
    store.retractSamples(1, Seq((2L, 5, true)).toDF(
      "sample_id", "pool_size", "has_coverage"))
    store.compact()
    // post-snapshot: the netted covlog must hold sample 1's fragments
    // only (sample 2's +/- pairs cancelled as a measure)
    val snapDir = new java.io.File(s"$dir/gen-1.1/comp=covlog")
    assert(snapDir.exists, "compaction must write the netted covlog")
    val snap = spark.read.parquet(snapDir.toString)
    assert(snap.select("sample_id").distinct().collect()
      .map(_.getLong(0)).toSet == Set(1L))
    assert(snap.agg(org.apache.spark.sql.functions.min("pool_size"))
      .head().getInt(0) > 0, "a netted snapshot carries no negative rows")
  }

  test("LATE-ATTACH COMPOSITION: bootstrapChanges() + the streamed tail " +
      "refold serve() bit-exactly on a compacted store, and match an " +
      "uncompacted twin's full-feed refold") {
    val dir = tmpDir("chg_boot")
    val twinDir = tmpDir("chg_boot_twin")
    // adversarial history: tagged + untagged observations, a pure-
    // coverage commit whose covlog delta is empty, an uncov-pool sample,
    // a FULL retraction of sample 2 — then compaction sweeps it all into
    // a snapshot — then a tail that RE-IMPORTS the retracted sample
    def history(store: FreqStore): Unit = {
      val obs0 = Seq(
        ("1", 5000L, "A", "C", 3, 1L), ("1", 5000L, "A", "C", 2, 2L),
        ("2", 700L, "G", "T", 4, 2L)).toDF(
        "chromosome", "position", "reference", "observed", "support",
        "sample_id")
      store.commit(0, obs0, covB(0),
        Seq((1L, 2, true), (2L, 5, true)).toDF(
          "sample_id", "pool_size", "has_coverage"))
      store.commit(1, obsB(1), covB(1), smpB(1))
      store.retractSamples(2, Seq((2L, 5, true)).toDF(
        "sample_id", "pool_size", "has_coverage"))
    }
    def tail(store: FreqStore): Unit = {
      store.commit(3, obsB(2), covB(2), smpB(2))
      store.commit(4,
        Seq(("4", 8000L, "A", "G", 1)).toDF(
          "chromosome", "position", "reference", "observed", "support"),
        covB(1).filter("false"), smpB(1).filter("false"))
    }
    val store = new FreqStore(spark, dir, nBuckets = 4)
    history(store)
    store.compact() // snapshot gen-2.1: generations 0-2's v0 deltas sweep
    tail(store)
    val twin = new FreqStore(spark, twinDir, nBuckets = 4)
    history(twin); tail(twin)

    def drainAll(d: String, from: Option[Long]): DataFrame = {
      val got = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.spark.sql.Row]
      val reader = spark.readStream.format("freqstore-changes")
        .option("components", "all")
      from.foreach(g => reader.option("startingGeneration", g.toString))
      val q = reader.load(d)
        .writeStream.outputMode("append")
        .foreachBatch { (df: DataFrame, _: Long) =>
          got.synchronized { got ++= df.collect() }
          ()
        }.start()
      try q.processAllAvailable() finally q.stop()
      spark.createDataFrame(
        spark.sparkContext.parallelize(got.toSeq),
        graft.sources.FreqStoreChangesSource.wideSchema)
    }

    // the late-attaching consumer reconstructs state as it MUST: the
    // snapshot's netted components as the initial feed, the REAL stream
    // from the floor for the rest
    val (boot, from) = store.bootstrapChanges()
    assert(from == 3L, s"tail must start above the gen-2 snapshot, got $from")
    val tailFeed = drainAll(dir, Some(from))
    assert(tailFeed.select("generation").collect()
      .forall(_.getLong(0) >= from), "the tail leaked pre-floor generations")
    val composed = FreqStore.refoldChanges(boot.unionByName(tailFeed))
    assert(freqKey(composed) == freqKey(store.serve()),
      "bootstrap + tail diverged from serve()")
    assert(composed.count() > 0)
    // the same state a from-the-beginning consumer of the UNCOMPACTED
    // twin reconstructs — the snapshot bootstrap is indistinguishable
    // from having drained the swept history
    val twinFeed = drainAll(twinDir, None)
    assert(freqKey(composed) == freqKey(FreqStore.refoldChanges(twinFeed)),
      "bootstrap composition diverged from the uncompacted twin's refold")
    // a never-compacted store bootstraps EMPTY and tails from the start
    val (eboot, efrom) = twin.bootstrapChanges()
    assert(eboot.count() == 0L && efrom == 0L)
    assert(freqKey(FreqStore.refoldChanges(eboot.unionByName(twinFeed)))
      == freqKey(twin.serve()))
  }

  test("above the snapshot floor the stream works again (post-compaction " +
      "tail commits)") {
    val dir = tmpDir("chg_floor")
    val store = build3(dir)
    store.compact()
    // a fresh import AFTER the snapshot: its v0 delta is addressable
    store.commit(3,
      Seq(("7", 9000L, "C", "A", 4)).toDF(
        "chromosome", "position", "reference", "observed", "support"),
      covB(1).filter("false"), smpB(1).filter("false"))
    val q = spark.readStream.format("freqstore-changes")
      .option("startingGeneration", "3").load(dir)
      .writeStream.outputMode("append").format("memory")
      .queryName("chg_floor").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("chg_floor").collect()
      assert(rows.map(_.getLong(0)).toSet == Set(3L))
      assert(rows.map(r => (r.getString(1), r.getLong(2), r.getLong(6))).toSeq ==
        Seq(("7", 9000L, 4L)))
    } finally q.stop()
  }
}
