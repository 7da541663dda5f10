package graft

import java.nio.file.{Files, Paths}

import graft.streaming.Ingest
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end file-stream ingestion: line files land in a watched dir, the
  * streaming query parses and appends them to partitioned parquet, and a
  * restart picks up only new files (checkpointed exactly-once). */
class IngestSpec extends AnyFunSuite {
  import TestSpark._

  test("observation line files stream into chromosome-partitioned parquet") {
    val base = Files.createTempDirectory(Paths.get("/root/repo/target"), "ingest")
    val (src, dest, ckpt) = (s"$base/src", s"$base/dest", s"$base/ckpt")
    Files.createDirectories(Paths.get(src))

    def lines(path: String, rows: Seq[String]): Unit =
      Files.write(Paths.get(path), String.join("\n", rows: _*).getBytes)

    lines(s"$src/batch1.txt", Seq(
      "1;1;1000;A;T;1", "2;1;2000;C;G;2", "3;2;1500;G;A;1"))
    val q1 = Ingest.startObservationIngest(spark, src, dest, ckpt)
    q1.awaitTermination()

    val after1 = Ingest.readIngested(spark, dest)
    assert(after1.count() == 3)
    assert(after1.schema.fieldNames.contains("chromosome"))
    // partition pruning works on the layout
    assert(after1.filter(after1("chromosome") === "1").count() == 2)

    // new file arrives; restart processes ONLY the new one (checkpoint)
    lines(s"$src/batch2.txt", Seq("4;2;1700;T;C;2"))
    val q2 = Ingest.startObservationIngest(spark, src, dest, ckpt)
    q2.awaitTermination()

    val after2 = Ingest.readIngested(spark, dest)
    assert(after2.count() == 4)
    val row4 = after2.filter(after2("obs_id") === 4).collect()
    assert(row4.length == 1 && row4(0).getAs[String]("chromosome") == "2"
      && row4(0).getAs[Long]("position") == 1700L)
  }

  test("streamed HLL partials: per-batch generations merge to the exact " +
      "single-pass estimates, serving never rescans the event history") {
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory(Paths.get("/root/repo/target"), "hllm")
    val (src, tbl, ckpt) = (s"$base/src", s"$base/tbl", s"$base/ckpt")
    Files.createDirectories(Paths.get(src))
    val ev = Tables.events(spark, sf0001)
      .select(col("event_id"), col("event_type"), col("ts").cast("string"))
    // two ingest slices → two micro-batches → two batch= generations
    for (par <- Seq(0, 1)) {
      val rows = ev.filter(col("event_id") % 2 === par)
        .select(concat_ws(";", col("event_id"), col("event_type"),
          col("ts"))).collect().map(_.getString(0))
      Files.write(Paths.get(s"$src/slice$par.txt"),
        String.join("\n", rows: _*).getBytes)
    }
    val q = Ingest.startHllPartialsMaintenance(spark, src, tbl, ckpt,
      maxFilesPerTrigger = Some(1))
    q.awaitTermination()
    // one generation per micro-batch landed
    val gens = spark.read.parquet(tbl).select("batch").distinct().count()
    assert(gens == 2, s"expected 2 batch generations, got $gens")
    // PARITY: the streamed partials' served estimates == a single-pass
    // build over the same events (HLL union is register-max, so the
    // batch split must be invisible)
    val streamed = Ingest.readHllDayCounts(spark, tbl).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val batch = Tables.events(spark, sf0001)
      .select(date_format(col("ts"), "yyyy-MM").as("month"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .groupBy("month")
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(day, 12))").as("n_days"))
      .orderBy("month").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(streamed == batch,
      s"streamed partials diverged from the single-pass build")
    // NO-RESCAN plan pin: serving scans the partials table alone,
    // never the event history (the agg_hll_partials pin, extended to
    // the STREAM-maintained table; plan string because AQE wraps the
    // scan nodes out of collectLeaves' reach)
    val plan = Ingest.readHllDayCounts(spark, tbl)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("events.parquet"),
      "the serving query rescanned the events history")
    assert(plan.contains("hllm"),
      "the serving query did not read the streamed partials table")
  }

  test("hll partials compaction: fold+sweep bounds the generation count, " +
      "estimates stay bit-identical through the crash window, and the " +
      "stream keeps writing after a compaction") {
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory(Paths.get("/root/repo/target"), "hllc")
    val (src, tbl, ckpt) = (s"$base/src", s"$base/tbl", s"$base/ckpt")
    Files.createDirectories(Paths.get(src))
    val ev = Tables.events(spark, sf0001)
      .select(col("event_id"), col("event_type"), col("ts").cast("string"))
    def slice(name: String, par: Int): Unit = {
      val rows = ev.filter(col("event_id") % 3 === par)
        .select(concat_ws(";", col("event_id"), col("event_type"),
          col("ts"))).collect().map(_.getString(0))
      Files.write(Paths.get(s"$src/$name"),
        String.join("\n", rows: _*).getBytes)
    }
    for (par <- Seq(0, 1, 2)) slice(s"slice$par.txt", par)
    Ingest.startHllPartialsMaintenance(spark, src, tbl, ckpt,
      maxFilesPerTrigger = Some(1)).awaitTermination()
    def gens = new java.io.File(tbl).list().toSeq
      .filter(_.startsWith("batch=")).sorted
    def est = Ingest.readHllDayCounts(spark, tbl).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(gens.size == 3, s"expected 3 stream generations, got $gens")
    val before = est
    // CRASH WINDOW between fold and sweep: the snapshot COEXISTS with
    // every generation it folded — register-max idempotence must make
    // the double representation invisible to the served estimates
    val folded = Ingest.foldHllPartials(spark, tbl)
    assert(folded.size == 3, s"folded $folded")
    assert(gens.size == 4, s"snapshot did not land: $gens")
    assert(est == before,
      "snapshot+parts coexistence changed the served estimates")
    // sweep: the table is bounded at ONE generation, estimates intact
    Ingest.sweepHllPartials(spark, tbl, folded)
    assert(gens.size == 1 && gens.head.startsWith("batch=-"),
      s"post-sweep generations: $gens")
    assert(est == before, "sweep changed the served estimates")
    // the stream keeps writing after compaction (checkpoint untouched);
    // a re-delivered slice adds no new days, so estimates must hold —
    // and the second compaction folds snapshot + new batch together
    slice("slice0redeliver.txt", 0)
    Ingest.startHllPartialsMaintenance(spark, src, tbl, ckpt,
      maxFilesPerTrigger = Some(1)).awaitTermination()
    assert(gens.size == 2, s"post-compaction batch missing: $gens")
    assert(est == before, "idempotent re-delivery changed estimates")
    assert(Ingest.compactHllPartials(spark, tbl) == 2)
    assert(gens.size == 1, s"second compaction left $gens")
    assert(est == before, "second compaction changed estimates")
    // a lone snapshot is already compact: no-op
    assert(Ingest.compactHllPartials(spark, tbl) == 0)
  }

  test("real multi-sample VCF files stream through the library parser with normalization") {
    val base = Files.createTempDirectory(Paths.get("/root/repo/target"), "ingvcf")
    val (src, dest, ckpt) = (s"$base/src", s"$base/dest", s"$base/ckpt")
    Files.createDirectories(Paths.get(src))

    // a genuine VCF: ## metadata, #CHROM header naming two samples,
    // chr-prefixed + mitochondrial chromosomes, a multi-ALT record, an
    // un-normalized indel (common prefix AND suffix), and a no-call cell
    val vcf1 = Seq(
      "##fileformat=VCFv4.2",
      "##INFO=<ID=SUP,Number=1,Type=Integer,Description=\"support\">",
      "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"Genotype\">",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tNA1\tNA2",
      "chr1\t1000\tv1\tCAT\tCAG\t.\tPASS\tSUP=3\tGT\t0/1\t./.",
      "chr1\t2000\tv2\tA\tT,G\t.\tPASS\tSUP=2\tGT\t1/2\t1/1",
      "chrM\t50\tv3\tG\tA\t.\tPASS\tSUP=1\tGT\t./.\t1/1")
    Files.write(Paths.get(s"$src/a.vcf"), String.join("\n", vcf1: _*).getBytes)
    graft.streaming.Ingest.startVcfIngest(spark, src, dest, ckpt)
      .awaitTermination()

    val got = graft.streaming.Ingest.readVcfIngested(spark, dest)
    // streamed rows == batch parse + normalize of the same file (the
    // library parser is ONE surface for both paths)
    val batch = graft.varda.Vcf.normalized(
      graft.varda.Vcf.parseVcfLines(spark.read.text(src)))
    val key = (df: org.apache.spark.sql.DataFrame) => df
      .select("chromosome", "position", "vcf_id", "reference", "alt_index",
        "observed", "sample_name", "gt", "zygosity")
      .collect().map(_.toSeq).toSet
    val n1 = got.count()
    assert(key(got) == key(batch) && n1 == batch.count())

    // normalization applied in-path: chr stripped, M -> MT, CAT>CAG
    // trimmed to T>G at pos+2
    val r1 = got.filter(got("vcf_id") === "v1").collect()
    assert(r1.length == 1, "no-call ./ . cell must not produce a row")
    assert(r1(0).getAs[String]("chromosome") == "1"
      && r1(0).getAs[Long]("position") == 1002L
      && r1(0).getAs[String]("reference") == "T"
      && r1(0).getAs[String]("observed") == "G"
      && r1(0).getAs[String]("sample_name") == "NA1"
      && r1(0).getAs[String]("zygosity") == "heterozygous")
    assert(got.filter(got("vcf_id") === "v3").collect()
      .forall(r => r.getAs[String]("chromosome") == "MT"
        && r.getAs[String]("sample_name") == "NA2"
        && r.getAs[String]("zygosity") == "homozygous"))
    // multi-ALT fan-out: v2 has 2 alts x 2 called samples = 4 rows
    assert(got.filter(got("vcf_id") === "v2").count() == 4)

    // a SECOND file with a DIFFERENT sample column set arrives; restart
    // ingests only it (checkpoint) and binds ITS header's names
    val vcf2 = Seq(
      "##fileformat=VCFv4.2",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tNB7",
      "2\t300\tv4\tT\tC\t.\tPASS\tSUP=5\tGT\t1/1")
    Files.write(Paths.get(s"$src/b.vcf"), String.join("\n", vcf2: _*).getBytes)
    graft.streaming.Ingest.startVcfIngest(spark, src, dest, ckpt)
      .awaitTermination()
    val after2 = graft.streaming.Ingest.readVcfIngested(spark, dest)
    assert(after2.count() == n1 + 1)
    val r4 = after2.filter(after2("vcf_id") === "v4").collect()
    assert(r4.length == 1 && r4(0).getAs[String]("sample_name") == "NB7"
      && r4(0).getAs[String]("chromosome") == "2"
      && r4(0).getAs[Map[String, String]]("info")("SUP") == "5")
  }

  test("annotated VCF write-back re-imports through the streaming VCF ingest") {
    import org.apache.spark.sql.functions.col
    val base = Files.createTempDirectory(Paths.get("/root/repo/target"), "reimport")
    val (src, dest, ckpt) = (s"$base/src", s"$base/dest", s"$base/ckpt")
    // the reference's full loop: annotate → emit VCF → import it back
    graft.varda.Annotate.writeAnnotatedVcf(spark, sf0001, src)
    graft.streaming.Ingest.startVcfIngest(spark, src, dest, ckpt)
      .awaitTermination()
    val got = graft.streaming.Ingest.readVcfIngested(spark, dest)
    val batch = graft.varda.Vcf.normalized(
      graft.varda.Vcf.parseVcfLines(spark.read.text(src)))
    assert(got.count() > 0 && got.count() == batch.count())
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("chromosome", "position", "reference", "observed")
        .collect().map(_.toSeq).toSet
    assert(key(got) == key(batch))
    // sites-only rows: no sample bindings, and the INFO field survived
    assert(got.filter(col("sample_name").isNotNull
      || col("gt").isNotNull || col("sample_slot").isNotNull).isEmpty)
    assert(got.filter(col("info")("FREQ_PPM").isNull).isEmpty,
      "FREQ_PPM must survive the round trip")
  }

  test("ingested observations feed the frequency computation end-to-end") {
    import spark.implicits._
    val base = Files.createTempDirectory(Paths.get("/root/repo/target"), "ingfrq")
    val (src, dest, ckpt) = (s"$base/src", s"$base/dest", s"$base/ckpt")
    Files.createDirectories(Paths.get(src))
    Files.write(Paths.get(s"$src/b1.txt"), String.join("\n",
      "1;1;1000;A;T;1", "2;1;1000;A;T;2", "3;2;1500;G;A;1").getBytes)
    Ingest.startObservationIngest(spark, src, dest, ckpt).awaitTermination()

    // the reference's lifecycle: import task (above) → frequency query —
    // sample 1 covers chr1:1000 (pool 3), sample 2 has no coverage
    // profile (pool 4, covers everything)
    val cov = Seq((10L, "1", 900L, 1100L, 1L, 3))
      .toDF("region_id", "chromosome", "begin_pos", "end_pos",
        "sample_id", "pool_size")
    val smp = Seq((1L, 3, true), (2L, 4, false))
      .toDF("sample_id", "pool_size", "has_coverage")
    val freq = graft.varda.VardaOps.frequencyFrom(
        Ingest.readIngested(spark, dest), cov, smp, withZyg = false)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // chr1:1000 A>T — numer 1+2=3; denom 3×2 (covering) + 4×2 (uncovered
    // sample counts everywhere) = 14
    assert(freq(("1", 1000L)) == ((3L, 14L, 3L * 1000000 / 14)))
    // chr2:1500 — only the coverage-less sample contributes: denom 8
    assert(freq(("2", 1500L)) == ((1L, 8L, 1L * 1000000 / 8)))
  }

  test("incremental folds over streamed imports converge to the one-shot state") {
    // the reference's continuous lifecycle end-to-end: each import batch
    // streams in, its partial aggregates fold into the running store via
    // the merge_upsert shape, and after every batch the store equals a
    // one-shot aggregate over everything ingested so far
    val base = Files.createTempDirectory(Paths.get("/root/repo/target"), "ingfold")
    val (src, dest, ckpt) = (s"$base/src", s"$base/dest", s"$base/ckpt")
    Files.createDirectories(Paths.get(src))
    val batches = Seq(
      Seq("1;1;1000;A;T;1", "2;1;1000;A;T;2", "3;2;1500;G;A;1"),
      Seq("4;1;1000;A;T;2", "5;2;1500;G;C;1"),
      Seq("6;2;1500;G;A;3"))
    var store: Option[org.apache.spark.sql.DataFrame] = None
    var ingestedSoFar = 0L
    for ((rows, i) <- batches.zipWithIndex) {
      Files.write(Paths.get(s"$src/b$i.txt"),
        String.join("\n", rows: _*).getBytes)
      Ingest.startObservationIngest(spark, src, dest, ckpt).awaitTermination()
      val all = Ingest.readIngested(spark, dest)
      // fold ONLY the newly-arrived rows (checkpointed ingest means the
      // store never re-reads history)
      val fresh = all.filter(all("obs_id") > ingestedSoFar)
      ingestedSoFar += rows.size
      val empty = fresh.filter(fresh("obs_id") < 0)
        .groupBy("chromosome", "position", "reference", "observed")
        .agg(org.apache.spark.sql.functions.sum("support")
          .cast("long").as("numer"))
      store = Some(graft.varda.VardaOps.foldNumer(store.getOrElse(empty), fresh))
      val got = store.get.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3)) -> r.getLong(4))
        .toMap
      val oneShot = all.groupBy("chromosome", "position", "reference", "observed")
        .agg(org.apache.spark.sql.functions.sum("support").as("n")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3)) -> r.getLong(4))
        .toMap
      assert(got == oneShot, s"after batch $i: $got != $oneShot")
    }
  }

  test("full-state streaming maintenance serves frequencies from committed stores") {
    import spark.implicits._
    val base = Files.createTempDirectory(Paths.get("/root/repo/target"), "ingfull")
    val (src, store, ckpt) = (s"$base/src", s"$base/store", s"$base/ckpt")
    Files.createDirectories(Paths.get(src))
    def put(name: String, rows: Seq[String]): Unit =
      Files.write(Paths.get(s"$src/$name"), String.join("\n", rows: _*).getBytes)

    def freqKey(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3)) ->
        ((r.getLong(4), r.getLong(5), r.getLong(6)))).toMap

    // wave 1: typed import files land in ONE inbox — observations,
    // BED coverage, sample registrations (sample 2 has no profile)
    put("a.obs", Seq("1;1;5000;A;C;3", "2;X;5000;A;C;1"))
    put("a.bed", Seq("10;1;4000;6000;1;2"))
    put("a.smp", Seq("1;2;true", "2;7;false"))
    Ingest.startFreqStoreMaintenance(spark, src, store, ckpt)
      .awaitTermination()
    val got1 = freqKey(Ingest.readFreqStore(spark, store))
    // chr1:5000 — numer 3, denom = covered 2×2 + uncovered 7×2 = 18;
    // X:5000 (haploid) — only the coverage-less sample: 7×1
    assert(got1(("1", 5000L, "A", "C")) == ((3L, 18L, 3L * 1000000 / 18)))
    assert(got1(("X", 5000L, "A", "C")) == ((1L, 7L, 1L * 1000000 / 7)))

    // wave 2 after restart: an overlapping region of the SAME sample
    // (still counts once), X coverage arriving late (existing point
    // gains denominator), one new observation for an existing variant
    put("b.obs", Seq("3;1;5000;A;C;2"))
    put("b.bed", Seq("11;1;4500;5500;1;2", "12;X;4000;6000;3;5"))
    put("b.smp", Seq("3;5;true"))
    Ingest.startFreqStoreMaintenance(spark, src, store, ckpt)
      .awaitTermination()
    val got2 = freqKey(Ingest.readFreqStore(spark, store))
    assert(got2(("1", 5000L, "A", "C")) == ((5L, 18L, 5L * 1000000 / 18)))
    assert(got2(("X", 5000L, "A", "C")) == ((1L, 12L, 1L * 1000000 / 12)))

    // and the whole stream equals the one-shot over everything imported
    val obs = Seq(("1", 5000L, "A", "C", 3), ("X", 5000L, "A", "C", 1),
      ("1", 5000L, "A", "C", 2))
      .toDF("chromosome", "position", "reference", "observed", "support")
    val cov = Seq((10L, "1", 4000L, 6000L, 1L, 2),
      (11L, "1", 4500L, 5500L, 1L, 2), (12L, "X", 4000L, 6000L, 3L, 5))
      .toDF("region_id", "chromosome", "begin_pos", "end_pos",
        "sample_id", "pool_size")
    val smp = Seq((1L, 2, true), (2L, 7, false), (3L, 5, true))
      .toDF("sample_id", "pool_size", "has_coverage")
    assert(got2 == freqKey(
      graft.varda.VardaOps.frequencyFrom(obs, cov, smp, withZyg = false)))
  }

  test("sample retraction streams through the typed inbox as .rm files") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = Files.createTempDirectory(Paths.get("/root/repo/target"), "ingrm")
    val (src, store, ckpt) = (s"$base/src", s"$base/store", s"$base/ckpt")
    Files.createDirectories(Paths.get(src))
    def put(name: String, rows: Seq[String]): Unit =
      Files.write(Paths.get(s"$src/$name"), String.join("\n", rows: _*).getBytes)
    def freqKey(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3)) ->
        ((r.getLong(4), r.getLong(5), r.getLong(6)))).toMap

    // wave 1: sample-tagged observations (7-field lines), coverage,
    // registrations — samples 1 and 2 covered, 3 coverage-less
    put("a.obs", Seq("1;1;5000;A;C;3;1", "2;X;5000;A;C;1;2"))
    put("a.bed", Seq("10;1;4000;6000;1;2", "12;X;4000;6000;2;5"))
    put("a.smp", Seq("1;2;true", "2;5;true", "3;7;false"))
    Ingest.startFreqStoreMaintenance(spark, src, store, ckpt)
      .awaitTermination()

    // wave 2: one micro-batch carrying BOTH a new import (sample 2 adds
    // support on the X point) AND the deactivation of samples 1 and 3 —
    // the reference's normal lifecycle, not an offline admin op
    put("b.obs", Seq("3;X;5000;A;C;2;2"))
    put("b.rm", Seq("1;2;true", "3;7;false"))
    Ingest.startFreqStoreMaintenance(spark, src, store, ckpt)
      .awaitTermination()

    val obs = Seq(("1", 5000L, "A", "C", 1L, 3), ("X", 5000L, "A", "C", 2L, 1),
      ("X", 5000L, "A", "C", 2L, 2))
      .toDF("chromosome", "position", "reference", "observed",
        "sample_id", "support")
    val cov = Seq((10L, "1", 4000L, 6000L, 1L, 2),
      (12L, "X", 4000L, 6000L, 2L, 5))
      .toDF("region_id", "chromosome", "begin_pos", "end_pos",
        "sample_id", "pool_size")
    val smp = Seq((1L, 2, true), (2L, 5, true), (3L, 7, false))
      .toDF("sample_id", "pool_size", "has_coverage")
    val gone = Seq(1L, 3L)
    val expected = freqKey(graft.varda.VardaOps.frequencyFrom(
      obs.filter(!col("sample_id").isin(gone: _*)),
      cov.filter(!col("sample_id").isin(gone: _*)),
      smp.filter(!col("sample_id").isin(gone: _*)), withZyg = false))
    val got = freqKey(Ingest.readFreqStore(spark, store))
    assert(got == expected)
    // the variant observed only by the retracted sample is gone; the
    // same-wave import landed before the deactivation applied
    assert(!got.contains(("1", 5000L, "A", "C")))
    assert(got(("X", 5000L, "A", "C")) == ((3L, 5L, 3L * 1000000 / 5)))
  }

  test("in-loop compaction bounds generations without changing served state") {
    import spark.implicits._
    val base = Files.createTempDirectory(Paths.get("/root/repo/target"), "ingcomp")
    val (src, store, ckpt) = (s"$base/src", s"$base/store", s"$base/ckpt")
    Files.createDirectories(Paths.get(src))
    def put(name: String, rows: Seq[String]): Unit =
      Files.write(Paths.get(s"$src/$name"), String.join("\n", rows: _*).getBytes)
    // splitThreshold=1 byte: every cadence snapshot also doubles the
    // bucket modulus — the in-loop re-bucketing path must leave served
    // state exact through repeated splits. retainGens=0 (no grace):
    // this test pins the tightest generation BOUND; the default grace
    // is exercised by the in-loop grace test below
    def run() = Ingest.startFreqStoreMaintenance(spark, src, store, ckpt,
      compactEvery = Some(1), splitThreshold = Some(1L), retainGens = 0)
      .awaitTermination()

    put("a.obs", Seq("1;1;5000;A;C;3;1"))
    put("a.bed", Seq("10;1;4000;6000;1;2"))
    put("a.smp", Seq("1;2;true", "2;7;false", "4;3;false"))
    run()
    put("b.obs", Seq("2;1;5000;A;C;2;1", "3;2;700;G;T;1;1"))
    put("b.bed", Seq("11;2;600;800;1;2"))
    run()
    // a retraction wave interleaved with the compaction cadence: the
    // coverage-less sample 4 deactivates; its registry tombstone must
    // survive (then fold away through) the in-loop snapshots
    put("c.obs", Seq("4;2;700;G;T;4;1"))
    put("c.rm", Seq("4;3;false"))
    run()
    put("d.obs", Seq("5;2;700;G;T;1;1"))
    run()

    // every batch ≥ 1 compacted its history first: at most the snapshot
    // generation plus the newest batch's generations survive
    val gens = new java.io.File(store).listFiles()
      .filter(_.getName.startsWith("gen-")).map(_.getName).sorted.toSeq
    assert(gens.length <= 2, s"gens not bounded: $gens")
    // and the served state equals the one-shot over everything imported
    // minus the retracted sample 4
    val obs = Seq(("1", 5000L, "A", "C", 3), ("1", 5000L, "A", "C", 2),
      ("2", 700L, "G", "T", 1), ("2", 700L, "G", "T", 4),
      ("2", 700L, "G", "T", 1))
      .toDF("chromosome", "position", "reference", "observed", "support")
    val cov = Seq((10L, "1", 4000L, 6000L, 1L, 2), (11L, "2", 600L, 800L, 1L, 2))
      .toDF("region_id", "chromosome", "begin_pos", "end_pos",
        "sample_id", "pool_size")
    val smp = Seq((1L, 2, true), (2L, 7, false))
      .toDF("sample_id", "pool_size", "has_coverage")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3)) ->
        ((r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(key(Ingest.readFreqStore(spark, store)) ==
      key(graft.varda.VardaOps.frequencyFrom(obs, cov, smp, withZyg = false)))
  }

  test("in-loop compaction default grace: a frame planned before the sweep still executes") {
    import spark.implicits._
    val base = Files.createTempDirectory(Paths.get("/root/repo/target"), "inggrace")
    val (src, store, ckpt) = (s"$base/src", s"$base/store", s"$base/ckpt")
    Files.createDirectories(Paths.get(src))
    def put(name: String, rows: Seq[String]): Unit =
      Files.write(Paths.get(s"$src/$name"), String.join("\n", rows: _*).getBytes)
    // the DEFAULT retainGens: the streamed cadence must carry the
    // cross-process grace without the caller asking for it
    def run() = Ingest.startFreqStoreMaintenance(spark, src, store, ckpt,
      compactEvery = Some(1)).awaitTermination()
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3)) ->
        ((r.getLong(4), r.getLong(5), r.getLong(6)))).toMap

    put("a.obs", Seq("1;1;5000;A;C;3;1"))
    put("a.bed", Seq("10;1;4000;6000;1;2"))
    put("a.smp", Seq("1;2;true", "2;7;false"))
    run()
    put("b.obs", Seq("2;2;700;G;T;1;1"))
    run()
    // another process's API server: its frame pins the CURRENT file
    // listing at plan time and is not executed until after the next
    // cadence sweep supersedes those generations
    val planned = Ingest.readFreqStore(spark, store)
    val expected = key(Ingest.readFreqStore(spark, store))
    put("c.obs", Seq("3;2;700;G;T;2;1"))
    run() // batch 2 compacts before=4 — everything `planned` listed
    assert(key(planned) == expected,
      "a pre-sweep frame must survive the in-loop compaction's delete phase")
    // and the store itself moved on: the new import is served
    val now = key(Ingest.readFreqStore(spark, store))
    assert(now(("2", 700L, "G", "T"))._1 == 3L)
  }
}
