package graft

import java.nio.file.{Files, Paths}

import graft.sources.{FreqStoreDataSource, FreqStoreScanBuilder}
import graft.varda.{FreqStore, VardaOps}
import org.apache.spark.sql.{DataFrame, sources}
import org.apache.spark.sql.functions.{count, lit, max, min, sum, when}
import org.scalatest.funsuite.AnyFunSuite

/** The DataSource V2 serving surface: `spark.read.format("freqstore")`
  * must be row-identical to `FreqStore.serve()`, and point predicates
  * from plain `spark.sql` must prune the scan to the probes' buckets
  * via the same driver-side hash the API lookup uses. */
class FreqStoreDsv2Spec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(Paths.get("/root/repo/target"), prefix).toString

  private def rowSet(df: DataFrame) = df.collect()
    .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3),
      r.getLong(4), r.getLong(5),
      if (r.isNullAt(6)) Long.MinValue else r.getLong(6))).toSet

  private def builtStore(): (FreqStore, String) = {
    val dir = tmpDir("fqs_dsv2")
    val store = new FreqStore(spark, dir, nBuckets = 4)
    val obs = Seq(
      ("1", 5000L, "A", "C", 3), ("X", 5000L, "A", "C", 1),
      ("2", 700L, "G", "T", 2), ("7", 91000L, "T", "G", 4))
      .toDF("chromosome", "position", "reference", "observed", "support")
    val cov = Seq(
      (10L, "1", 4000L, 6000L, 1L, 2), (14L, "2", 600L, 800L, 2L, 5),
      (11L, "1", 4500L, 5500L, 1L, 2), (12L, "X", 4000L, 6000L, 2L, 5),
      (15L, "7", 90000L, 95000L, 1L, 2))
      .toDF("region_id", "chromosome", "begin_pos", "end_pos",
        "sample_id", "pool_size")
    val smp = Seq((1L, 2, true), (2L, 5, true), (3L, 7, false))
      .toDF("sample_id", "pool_size", "has_coverage")
    store.commit(0, obs, cov, smp)
    // a second generation so the scan exercises newest-gen resolution
    store.commit(1,
      Seq(("1", 5000L, "A", "C", 2)).toDF(
        "chromosome", "position", "reference", "observed", "support"),
      cov.filter("false"), smp.filter("false"))
    (store, dir)
  }

  test("full freqstore read is row-identical to serve()") {
    val (store, dir) = builtStore()
    val viaSql = spark.read.format("freqstore").load(dir)
    assert(viaSql.schema.fieldNames.toSeq ==
      Seq("chromosome", "position", "reference", "observed",
        "numer", "denom", "freq_ppm"))
    assert(rowSet(viaSql) == rowSet(store.serve()))
    assert(graft.sources.FreqStoreDataSource.lastPlannedBuckets.isEmpty,
      "an unfiltered scan must not prune")
  }

  test("the scan reads COLUMNAR: ColumnarToRow sits above the batch scan") {
    // round-12 VERDICT #1: the full-store read path must be vectorized
    // ColumnarBatches (Spark's parquet decoder), not per-row
    // GenericInternalRow boxing. Pin the plan shape so a regression to
    // row reads is loud — for the full projection (derived columns
    // computed per-batch) AND a pruned one.
    val (store, dir) = builtStore()
    for (df <- Seq(
        spark.read.format("freqstore").load(dir),
        spark.read.format("freqstore").load(dir)
          .select("chromosome", "position", "numer"))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("ColumnarToRow"),
        s"freqstore scan is not columnar:\n$plan")
    }
    // row-identity of the columnar read is covered by the parity test
    // above; also pin the derived-column math through a projection that
    // forces the per-batch compute loop
    def ppmDenom(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (if (r.isNullAt(0)) Long.MinValue else r.getLong(0), r.getLong(1)))
      .toSeq.sorted
    val derived = spark.read.format("freqstore").load(dir)
      .select("freq_ppm", "denom")
    val expected = store.serve().select("freq_ppm", "denom")
    assert(ppmDenom(derived) == ppmDenom(expected))
  }

  test("a zero-column scan reads columnar and counts serve()'s rows") {
    // select(lit(1)) projects no store column, and a limit between the
    // scan and the count blocks the footer COUNT(*) pushdown, so both
    // plan an empty-projection scan: column-less batches that carry
    // only their row counts
    val (store, dir) = builtStore()
    def check(stage: String): Unit = {
      val ones = spark.read.format("freqstore").load(dir).select(lit(1))
      val expected = store.serve().count()
      assert(expected > 2, s"$stage: fixture must exceed the limit")
      assert(ones.collect().length == expected, stage)
      assert(graft.sources.FreqStoreDataSource.lastPlannedColumns.isEmpty,
        s"$stage: select(lit(1)) must plan an empty projection")
      assert(spark.read.format("freqstore").load(dir).limit(2).count() == 2,
        stage)
      val limited = spark.read.format("freqstore").load(dir).limit(2)
        .agg(count(lit(1)))
      assert(limited.collect()(0).getLong(0) == 2L, stage)
      for (df <- Seq(ones, limited)) {
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("ColumnarToRow"),
          s"$stage: zero-column freqstore scan is not columnar:\n$plan")
      }
    }
    check("two generations")
    store.compact()
    check("compacted")
  }

  test("asOfGeneration option time-travels the scan; invalid bounds fail at plan time") {
    val (store, dir) = builtStore()
    // pinned at generation 0: row-identical to serveAsOf(0) — the frame
    // a contemporary reader saw before generation 1 committed
    val at0 = spark.read.format("freqstore")
      .option("asOfGeneration", "0").load(dir)
    assert(rowSet(at0) == rowSet(store.serveAsOf(0L)))
    assert(rowSet(at0) != rowSet(store.serve()),
      "fixture must distinguish the generations")
    // the head bound equals the plain read
    val at1 = spark.read.format("freqstore")
      .option("asOfGeneration", "1").load(dir)
    assert(rowSet(at1) == rowSet(store.serve()))
    // COUNT(*) footer pushdown respects the pinned manifest
    assert(at0.count() == store.serveAsOf(0L).count())
    // a bound below the store's history fails at PLAN time, loudly
    val e = intercept[Exception] {
      spark.read.format("freqstore").option("asOfGeneration", "-1")
        .load(dir).collect()
    }
    assert(e.getMessage.contains("oldest committed generation"), e.getMessage)
    // ... and compaction invalidates pre-snapshot bounds the same way
    store.compact()
    val e2 = intercept[Exception] {
      spark.read.format("freqstore").option("asOfGeneration", "0")
        .load(dir).collect()
    }
    assert(e2.getMessage.contains("snapshot"), e2.getMessage)
  }

  test("the store registers through SQL DDL: CREATE TABLE ... USING freqstore") {
    val (store, dir) = builtStore()
    spark.sql("DROP TABLE IF EXISTS freq_ddl")
    // the full lifecycle surface in pure SQL: a named catalog table over
    // the committed store (the TableProvider resolves via its
    // DataSourceRegister short name), point query pruning included
    spark.sql(s"CREATE TABLE freq_ddl USING freqstore OPTIONS (path '$dir')")
    try {
      val got = spark.sql("SELECT * FROM freq_ddl")
      assert(rowSet(got) == rowSet(store.serve()))
      val pt = spark.sql(
        "SELECT * FROM freq_ddl WHERE chromosome = '1' AND position = 5000")
      assert(pt.count() == 1)
      assert(graft.sources.FreqStoreDataSource.lastPlannedBuckets.exists(_.size == 1),
        "DDL-registered table lost point-predicate bucket pruning")
    } finally spark.sql("DROP TABLE freq_ddl")
  }

  test("asOfGeneration composes with point-predicate bucket pruning") {
    val (store, dir) = builtStore()
    // a time-travelled POINT query: the pinned manifest plans only
    // generation-0 files AND the pushed point predicate prunes them to
    // the probe's bucket — the flagship lookup, one generation back
    val got = spark.read.format("freqstore").option("asOfGeneration", "0")
      .load(dir)
      .filter("chromosome = '1' AND position = 5000")
    val expected = store.serveAsOf(0L)
      .filter("chromosome = '1' AND position = 5000")
    assert(rowSet(got) == rowSet(expected))
    assert(got.count() == 1)
    assert(graft.sources.FreqStoreDataSource.lastPlannedBuckets.exists(_.size == 1),
      "time-travelled point query must still prune to one bucket")
    // the generation-1 overlay (numer 3+2=5) must NOT leak into the
    // pinned read (generation 0 serves numer 3)
    val numer = got.collect().head.getAs[Long]("numer")
    assert(numer == 3L, s"generation 1 leaked into the asOf=0 read: numer=$numer")
  }

  test("a spark.sql point predicate prunes the scan to one bucket") {
    val (store, dir) = builtStore()
    spark.read.format("freqstore").load(dir).createOrReplaceTempView("freq")
    val got = spark.sql(
      "SELECT * FROM freq WHERE chromosome = '1' AND position = 5000")
    val expected = store.serve()
      .filter("chromosome = '1' AND position = 5000")
    assert(rowSet(got) == rowSet(expected))
    assert(got.count() == 1)
    val pruned = graft.sources.FreqStoreDataSource.lastPlannedBuckets
    assert(pruned.exists(_.size == 1),
      s"point predicate must prune to one bucket, planned: $pruned")

    // an OR of two probes prunes to (at most) their two buckets
    val got2 = spark.sql(
      """SELECT * FROM freq WHERE (chromosome = '1' AND position = 5000)
           OR (chromosome = '7' AND position = 91000)""")
    assert(rowSet(got2) == rowSet(store.serve()
      .filter("(chromosome = '1' AND position = 5000) OR (chromosome = '7' AND position = 91000)")))
    assert(graft.sources.FreqStoreDataSource.lastPlannedBuckets.exists(_.size <= 2))

    // position IN (...) with one chromosome prunes too
    val got3 = spark.sql(
      "SELECT * FROM freq WHERE chromosome = '1' AND position IN (5000, 5001)")
    assert(rowSet(got3) == rowSet(store.serve()
      .filter("chromosome = '1' AND position IN (5000, 5001)")))
    assert(graft.sources.FreqStoreDataSource.lastPlannedBuckets.exists(_.size <= 2))

    // a predicate that does NOT determine the point set must not prune
    val got4 = spark.sql("SELECT * FROM freq WHERE chromosome = '1'")
    assert(rowSet(got4) == rowSet(store.serve().filter("chromosome = '1'")))
    assert(graft.sources.FreqStoreDataSource.lastPlannedBuckets.isEmpty,
      "chromosome alone cannot name a bucket — no pruning allowed")
  }

  test("a range predicate pushes into the parquet reads and stays row-correct") {
    val (store, dir) = builtStore()
    // compacted: the sorted-within-bucket layout the range pushdown's
    // row-group statistics lean on (parity must hold either way — the
    // record-level filter is exact)
    store.compact()
    spark.read.format("freqstore").load(dir).createOrReplaceTempView("freqr")
    val got = spark.sql(
      "SELECT * FROM freqr WHERE chromosome = '1' AND position BETWEEN 4000 AND 6000")
    assert(rowSet(got) == rowSet(store.serve()
      .filter("chromosome = '1' AND position BETWEEN 4000 AND 6000")))
    val r = graft.sources.FreqStoreDataSource.lastPlannedRange
    assert(r.chromosome.contains("1") && r.posLower.contains(4000L) &&
      r.posUpper.contains(6000L), s"range not captured: $r")
    // round-12 single-column layout: the range NAMES its buckets (cells
    // 4000>>11 .. 6000>>11 hashed) and the scan opens only those
    assert(graft.sources.FreqStoreDataSource.lastPlannedBuckets ==
      FreqStore.rangeBuckets(4000L, 6000L, store.nBkts),
      s"range should prune to its cells' buckets, planned: " +
        s"${graft.sources.FreqStoreDataSource.lastPlannedBuckets}")

    // strict bounds normalize to inclusive ones (GT/LT → +1/-1)
    val got2 = spark.sql(
      "SELECT * FROM freqr WHERE chromosome = '1' AND position > 4999 AND position < 5001")
    assert(rowSet(got2) == rowSet(store.serve()
      .filter("chromosome = '1' AND position = 5000")))
    val r2 = graft.sources.FreqStoreDataSource.lastPlannedRange
    assert(r2.posLower.contains(5000L) && r2.posUpper.contains(5000L),
      s"strict bounds not normalized: $r2")

    // an out-of-range window reads empty, not wrong
    assert(spark.sql(
      "SELECT * FROM freqr WHERE position > 1000000").count() == 0)
  }

  test("LIMIT pushes a per-partition row cap into the scan") {
    val (store, dir) = builtStore()
    val got = spark.read.format("freqstore").load(dir).limit(2)
    assert(got.count() == 2)
    assert(graft.sources.FreqStoreDataSource.lastPlannedLimit.contains(2),
      "limit not captured by the scan")
    // rows served under the cap are real served rows
    assert(rowSet(got).subsetOf(rowSet(store.serve())))
    // a limit past the store size returns everything
    val all = spark.read.format("freqstore").load(dir).limit(1000)
    assert(rowSet(all) == rowSet(store.serve()))
    // a limit UNDER a residual filter must not fire per-partition (the
    // filter blocks the pushdown) — row-correctness is the assertion
    val filtered = spark.read.format("freqstore").load(dir)
      .filter("numer >= 2").limit(10)
    assert(rowSet(filtered) == rowSet(store.serve().filter("numer >= 2")))
  }

  test("COUNT(*) is answered from the numer footers alone") {
    val (store, dir) = builtStore()
    val cnt = spark.read.format("freqstore").load(dir).count()
    assert(cnt == store.serve().count())
    assert(graft.sources.FreqStoreDataSource.lastPushedCountStar,
      "bare count(*) must push to the footer scan")
    // a FILTERED count must NOT push (the residual filter blocks the
    // aggregate from sitting on the scan) and must stay row-correct
    val fcnt = spark.read.format("freqstore").load(dir)
      .filter("chromosome = '1'").count()
    assert(fcnt == store.serve().filter("chromosome = '1'").count())
    assert(!graft.sources.FreqStoreDataSource.lastPushedCountStar,
      "a filtered count must not use the footer path")
    // the pushed count tracks the store through another commit
    store.commit(7,
      Seq(("12", 77777L, "A", "T", 1)).toDF(
        "chromosome", "position", "reference", "observed", "support"),
      Seq.empty[(Long, String, Long, Long, Long, Int)].toDF(
        "region_id", "chromosome", "begin_pos", "end_pos",
        "sample_id", "pool_size"),
      Seq.empty[(Long, Int, Boolean)].toDF(
        "sample_id", "pool_size", "has_coverage"))
    assert(spark.read.format("freqstore").load(dir).count() == cnt + 1)
  }

  test("MIN/MAX(position) aggregates are answered from footer statistics") {
    val (store, dir) = builtStore()
    val exp = store.serve()
      .agg(min("position").as("lo"), max("position").as("hi"),
        count(lit(1)).as("n")).collect().head
    // the combined form pushes partially: one stats row per bucket from
    // the numer footers, Spark's final aggregate merges
    val got = spark.read.format("freqstore").load(dir)
      .agg(min("position"), max("position"), count(lit(1))).collect().head
    assert(got.getLong(0) == exp.getLong(0) &&
      got.getLong(1) == exp.getLong(1) && got.getLong(2) == exp.getLong(2))
    assert(graft.sources.FreqStoreDataSource.lastPushedAggs ==
      Seq("min(position)", "max(position)", "count(*)"),
      graft.sources.FreqStoreDataSource.lastPushedAggs.toString)
    // a FILTERED min/max must not use the footer path (residual filters
    // block aggregate pushdown) and must stay row-correct
    val fgot = spark.read.format("freqstore").load(dir)
      .filter("chromosome = '1'").agg(min("position")).collect().head
    assert(fgot.getLong(0) == store.serve()
      .filter("chromosome = '1'").agg(min("position")).collect().head.getLong(0))
    assert(graft.sources.FreqStoreDataSource.lastPushedAggs.isEmpty,
      "a filtered min must not use the footer path")
    // an aggregate the footers cannot answer (sum over a computed
    // column) falls back to the row scan and stays correct
    val sgot = spark.read.format("freqstore").load(dir)
      .agg(sum("numer"), min("position")).collect().head
    val sexp = store.serve().agg(sum("numer"), min("position")).collect().head
    assert(sgot.getLong(0) == sexp.getLong(0) &&
      sgot.getLong(1) == sexp.getLong(1))
    assert(graft.sources.FreqStoreDataSource.lastPushedAggs.isEmpty)
    // the stats scan tracks the store through compaction (footers are
    // re-read per plan, never cached across generations)
    store.compact()
    val afterGot = spark.read.format("freqstore").load(dir)
      .agg(min("position"), max("position")).collect().head
    assert(afterGot.getLong(0) == exp.getLong(0) &&
      afterGot.getLong(1) == exp.getLong(1))
  }

  test("column pruning reaches the scan; a denom-free projection skips the denom side") {
    val (store, dir) = builtStore()
    val pruned = spark.read.format("freqstore").load(dir)
      .select("chromosome", "position", "numer")
    val got = pruned.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val expected = store.serve().select("chromosome", "position", "numer")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected)
    assert(graft.sources.FreqStoreDataSource.lastPlannedColumns ==
      Seq("chromosome", "position", "numer"),
      "the projection must reach the scan, not be applied after a full read")
    // a projection that needs freq_ppm still computes it correctly
    val withPpm = spark.read.format("freqstore").load(dir)
      .select("chromosome", "position", "freq_ppm")
    assert(withPpm.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2))).toSet ==
      store.serve().select("chromosome", "position", "freq_ppm").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet)
  }

  test("the scan reports its size, so SQL joins broadcast a small serving table") {
    val (_, dir) = builtStore()
    val freq = spark.read.format("freqstore").load(dir)
    val sz = freq.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(sz > 0 && sz < 10L * 1024 * 1024,
      s"scan must report its planned bytes, got $sz")
    // the annotate shape from SQL: input ⟕ freq — the small store side
    // must broadcast, not sort-merge
    val input = (1 to 50).map(i => ("1", 5000L + i)).toDF("chromosome", "position")
    val joined = input.join(freq, Seq("chromosome", "position"), "left")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected the serving table to broadcast:\n$plan")
  }

  test("an empty or never-committed store reads as an empty, well-typed frame") {
    val dir = tmpDir("fqs_dsv2_empty")
    val df = spark.read.format("freqstore").load(dir)
    assert(df.schema == graft.sources.FreqStoreDataSource.schema)
    assert(df.count() == 0)
    // the footer-stats aggregate over an empty store: COUNT must be 0
    // (not NULL — the merged sum-of-partials needs the zero row the
    // file-less partition emits) and min/max NULL
    val ag = spark.read.format("freqstore").load(dir)
      .agg(min("position"), max("position"), count(lit(1))).collect().head
    assert(ag.isNullAt(0) && ag.isNullAt(1) && ag.getLong(2) == 0L,
      ag.toString)
    // a generation without a commit marker stays invisible through SQL too
    val store = new FreqStore(spark, dir, nBuckets = 4)
    store.commit(0, Seq(("1", 5000L, "A", "C", 3)).toDF(
        "chromosome", "position", "reference", "observed", "support"),
      Seq.empty[(Long, String, Long, Long, Long, Int)].toDF(
        "region_id", "chromosome", "begin_pos", "end_pos",
        "sample_id", "pool_size"),
      Seq((3L, 7, false)).toDF("sample_id", "pool_size", "has_coverage"))
    new java.io.File(s"$dir/_commits/gen-0").delete()
    assert(spark.read.format("freqstore").load(dir).count() == 0,
      "an unblessed generation leaked into the SQL read")
  }

  test("a SQL join against the store runtime-prunes the scan to the probed buckets") {
    val (store, dir) = builtStore()
    graft.sources.FreqStoreDataSource.lastRuntimeBuckets = None
    val freq = spark.read.format("freqstore").load(dir)
    // the idiomatic serving join: a small probe/annotation frame joined
    // on the point key. The `tag` filter is the selective predicate
    // dynamic pruning requires on the filtering side; the store side
    // broadcasts the probes' key values into Scan.filter() at runtime.
    // range-derived (NOT a Seq.toDF LocalRelation: the optimizer folds
    // a filter into a LocalRelation, and dynamic pruning requires a
    // surviving selective predicate on the filtering side)
    val probes = spark.range(0, 3).select(
        when($"id" === 2, "9").otherwise("1").as("chromosome"),
        when($"id" === 0, 5000L).when($"id" === 1, 4999L).otherwise(123L)
          .as("position"),
        when($"id" === 2, "decoy").otherwise("probe").as("tag"))
      .filter($"tag" === "probe")
    // broadcast() pins the PROBE side as the build side — the at-scale
    // shape (a 100-TB store never broadcasts; at fixture scale Spark
    // would otherwise broadcast the store and prune nothing)
    val joined = org.apache.spark.sql.functions.broadcast(probes)
      .join(freq, Seq("chromosome", "position"))
    val got = joined.select("chromosome", "position", "numer", "denom")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val expected = store.serve()
      .filter("chromosome = '1' AND position IN (5000, 4999)")
      .select("chromosome", "position", "numer", "denom")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got == expected, "runtime-pruned join diverged from serve()")
    // both probes live in cell 2 (position >> 11) → one bucket; the
    // runtime re-prune must have fired and kept only it
    val rb = graft.sources.FreqStoreDataSource.lastRuntimeBuckets
    assert(rb.exists(_.size == 1),
      s"join must runtime-prune to the probes' one bucket, got: $rb")
    assert(rb.get == Set(FreqStore.pointBucket(5000L, store.nBkts)))
  }

  test("the annotation lifecycle runs through the public SQL surface end to end") {
    import org.apache.spark.sql.functions.col
    // the reference's write_annotation flow [U varda/tasks.py]: an input
    // variant list annotated with (a) the full-universe frequency and
    // (b) a sample-query-restricted frequency — here composed ENTIRELY
    // from public SQL views: the DSv2 store read, an ExprLang-compiled
    // filtered lookup registered as a view, and one LEFT JOIN.
    val dir = tmpDir("fqs_sqlstory")
    val store = new FreqStore(spark, dir, nBuckets = 4)
    val obs = Seq(
      ("1", 5000L, "A", "C", 3, 1L), ("1", 5000L, "A", "C", 2, 2L),
      ("7", 91000L, "T", "G", 4, 1L))
      .toDF("chromosome", "position", "reference", "observed", "support",
        "sample_id")
    val cov = Seq(
      (10L, "1", 4000L, 6000L, 1L, 2), (11L, "7", 90000L, 95000L, 1L, 2),
      (12L, "1", 4500L, 5500L, 2L, 5))
      .toDF("region_id", "chromosome", "begin_pos", "end_pos",
        "sample_id", "pool_size")
    val smp = Seq((1L, 2, true), (2L, 5, true), (3L, 7, false))
      .toDF("sample_id", "pool_size", "has_coverage")
    store.commit(0, obs, cov, smp)

    val input = Seq(("1", 5000L, "A", "C"), ("1", 4999L, "A", "C"),
        ("7", 91000L, "T", "G"))
      .toDF("chromosome", "position", "reference", "observed")
    input.createOrReplaceTempView("annot_input")
    spark.read.format("freqstore").load(dir).createOrReplaceTempView("freq_all")
    // the sample query, compiled by ExprLang and served from the store
    // at the input's points (probe-sized, bucket-pruned)
    val tags = Map("s1" -> (col("sample_id") === 1L))
    val pts = input.select("chromosome", "position").distinct()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    store.lookupPointsFiltered(pts,
        graft.varda.ExprLang.parse("NOT s1", tags))
      .createOrReplaceTempView("freq_not_s1")

    val got = spark.sql(
      """SELECT i.chromosome, i.position, i.reference, i.observed,
                coalesce(a.freq_ppm, 0) AS vf,
                coalesce(e.freq_ppm, 0) AS vf_not_s1
           FROM annot_input i
           LEFT JOIN freq_all a
             USING (chromosome, position, reference, observed)
           LEFT JOIN freq_not_s1 e
             USING (chromosome, position, reference, observed)""")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getLong(4), r.getLong(5))).toSet

    // expected: the one-shot frequency over everything / over NOT s1,
    // left-joined to the input with null → 0 (the annotate convention)
    def ppmOf(df: DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3))
        -> (if (r.isNullAt(6)) 0L else r.getLong(6))).toMap
    val all = ppmOf(VardaOps.frequencyFrom(obs, cov, smp, withZyg = false))
    val notS1 = ppmOf(VardaOps.frequencyFrom(
      obs.filter("sample_id <> 1"), cov.filter("sample_id <> 1"),
      smp.filter("sample_id <> 1"), withZyg = false))
    val expected = input.collect().map { r =>
      val k = (r.getString(0), r.getLong(1), r.getString(2), r.getString(3))
      (k._1, k._2, k._3, k._4,
        all.getOrElse(k, 0L), notS1.getOrElse(k, 0L))
    }.toSet
    assert(got == expected, "SQL-composed annotation diverged from the one-shot")
    // the unknown input point annotates 0/0, and the sample query
    // actually bit: the two columns differ at the shared point
    assert(got.exists(t => t._2 == 4999L && t._5 == 0L && t._6 == 0L))
    assert(got.exists(t => t._2 == 5000L && t._5 != t._6))
  }

  test("the scan tracks the store through retraction and compaction") {
    val (store, dir) = builtStore()
    store.retractSamples(2, Seq((2L, 5, true))
      .toDF("sample_id", "pool_size", "has_coverage"))
    assert(rowSet(spark.read.format("freqstore").load(dir)) ==
      rowSet(store.serve()))
    store.compact()
    assert(rowSet(spark.read.format("freqstore").load(dir)) ==
      rowSet(store.serve()))
  }

  /** A two-generation store with every probe position on three
    * chromosomes, two alleles at one point, and coverage on two of them,
    * so random predicates select from several rows in every bucket. */
  private def spreadStore(): (FreqStore, String) = {
    val dir = tmpDir("fqs_exact")
    val store = new FreqStore(spark, dir, nBuckets = 4)
    val obs = (for ((c, ci) <- Seq("1", "2", "X").zipWithIndex;
                    (p, pi) <- spreadPositions.zipWithIndex)
      yield (c, p, "A", if ((ci + pi) % 2 == 0) "C" else "G",
        1 + (ci + pi) % 4)) :+ ("1", 5000L, "A", "T", 2)
    val cov = Seq((10L, "1", 1L, 10000L, 1L, 2), (11L, "X", 1L, 50000L, 2L, 5))
      .toDF("region_id", "chromosome", "begin_pos", "end_pos",
        "sample_id", "pool_size")
    val smp = Seq((1L, 2, true), (2L, 5, true), (3L, 7, false))
      .toDF("sample_id", "pool_size", "has_coverage")
    val obsCols = Seq("chromosome", "position", "reference", "observed", "support")
    store.commit(0, obs.toDF(obsCols: _*), cov, smp)
    store.commit(1, Seq(("2", 1500L, "A", "G", 3), ("X", 91000L, "T", "A", 1))
      .toDF(obsCols: _*), cov.filter("false"), smp.filter("false"))
    (store, dir)
  }
  private val spreadPositions =
    Seq(700L, 1500L, 5000L, 5001L, 9000L, 40000L, 91000L)

  test("pushed predicates are enforced exactly: random filters equal serve().filter") {
    val (store, dir) = spreadStore()
    val rnd = new scala.util.Random(13)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    val chroms = Seq("1", "2", "X", "7")
    val poss = spreadPositions ++ Seq(123L, 4999L)
    // up to 12 values: past 10 Spark plans an InSet, which also pushes
    def posList = Seq.fill(1 + rnd.nextInt(12))(pick(poss)).mkString(", ")
    def point = if (rnd.nextBoolean())
      s"(chromosome = '${pick(chroms)}' AND position = ${pick(poss)})"
    else s"(position IN ($posList) AND chromosome = '${pick(chroms)}')"
    def term: String = rnd.nextInt(9) match {
      case 0 => s"chromosome = '${pick(chroms)}'"
      case 1 => s"position = ${pick(poss)}"
      case 2 => s"position IN ($posList)"
      case 3 => s"position ${pick(Seq(">", ">=", "<", "<="))} ${pick(poss)}"
      case 4 => s"position BETWEEN ${pick(poss)} AND ${pick(poss)}"
      case 5 => Seq.fill(1 + rnd.nextInt(3))(point).mkString("(", " OR ", ")")
      case 6 => s"numer >= ${1 + rnd.nextInt(4)}"
      // a mixed OR and a point OR carrying another column stay residual
      case 7 => s"(chromosome = '${pick(chroms)}' OR numer >= 3)"
      case _ => s"($point OR ($point AND numer >= 2))"
    }
    val fixed = Seq(
      "chromosome = '1' AND chromosome = 'X'",
      "chromosome = '1' AND position >= 0 AND (chromosome = 'X' OR numer >= 100)",
      "chromosome = '1' AND position IN (5000, 9000) AND numer >= 2",
      "(chromosome = '1' AND position = 5000) OR (chromosome = 'X' AND position IN (700, 91000))",
      "position > 9223372036854775807",
      "chromosome = '2' AND position <= 9223372036854775807")
    val projections = Seq(FreqStoreDataSource.schema.fieldNames.toSeq,
      Seq("numer"), Seq("reference", "freq_ppm"), Seq("denom", "chromosome"))
    def rows(df: DataFrame, cols: Seq[String]) =
      df.select(cols.map(org.apache.spark.sql.functions.col): _*)
        .collect().map(_.toString).sorted.toSeq
    for (state <- Seq("two generations", "compacted")) {
      if (state == "compacted") store.compact()
      val served = store.serve()
      var pushedCases = 0
      for (e <- fixed ++ Seq.fill(36)(
          Seq.fill(1 + rnd.nextInt(3))(term).mkString(" AND "))) {
        val cols = pick(projections)
        FreqStoreDataSource.lastPlannedRange = FreqStoreScanBuilder.PushedRange.empty
        val got = rows(spark.read.format("freqstore").load(dir).filter(e), cols)
        if (!FreqStoreDataSource.lastPlannedRange.isEmpty) pushedCases += 1
        assert(got == rows(served.filter(e), cols),
          s"$state: '$e' over ${cols.mkString(",")} diverged from serve()")
      }
      assert(pushedCases > 20, s"$state: only $pushedCases cases pushed a predicate")
    }

    // a second, different chromosome conjunct is not consumed
    val (r, consumed) = FreqStoreScanBuilder.rangeOf(Array(
      sources.EqualTo("chromosome", "1"), sources.EqualTo("chromosome", "X"),
      sources.IsNotNull("chromosome"), sources.GreaterThan("numer", 1L)))
    assert(r.chromosome.contains("1") &&
      consumed.toSeq == Seq(sources.EqualTo("chromosome", "1")), s"$r $consumed")

    // a pushed LIMIT counts rows that passed the pushed predicate: the
    // OR of points leaves no residual filter, so Spark pushes the limit
    val pts = "(chromosome = '1' AND position IN (700, 5000, 9000, 91000)) OR " +
      "(chromosome = 'X' AND position IN (1500, 40000))"
    val want = rows(store.serve().filter(pts), Seq("chromosome", "position"))
    assert(want.size > 2)
    val lim = rows(spark.read.format("freqstore").load(dir).filter(pts).limit(2),
      Seq("chromosome", "position"))
    assert(FreqStoreDataSource.lastPlannedLimit.contains(2),
      "the limit over pushed points was not pushed")
    assert(lim.size == 2 && lim.forall(want.contains), s"limit gave $lim")
    // a range keeps its literal-free isnotnull residual: limit stays on top
    val range = "chromosome = '1' AND position BETWEEN 1000 AND 60000"
    val inRange = rows(store.serve().filter(range), Seq("chromosome", "position"))
    val limR = rows(spark.read.format("freqstore").load(dir).filter(range).limit(2),
      Seq("chromosome", "position"))
    assert(limR.size == 2 && limR.forall(inRange.contains), s"range limit gave $limR")

    // a filtered count / min(position) never reaches the footers, even
    // when no residual filter blocks Spark from offering the aggregate
    val cnt = spark.read.format("freqstore").load(dir).filter(pts).count()
    assert(cnt == want.size && !FreqStoreDataSource.lastPushedCountStar,
      "a pushed-filter count must not use the footer path")
    val lo = spark.read.format("freqstore").load(dir).filter(pts)
      .agg(min("position")).collect().head.getLong(0)
    assert(lo == store.serve().filter(pts).agg(min("position")).collect().head.getLong(0))
    assert(FreqStoreDataSource.lastPushedAggs.isEmpty,
      "a pushed-filter min must not use the footer path")
  }

}
