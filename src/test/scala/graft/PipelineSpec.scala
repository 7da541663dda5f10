package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic checks for the round-7 training-data pipeline composition
  * operators (ops/Pipeline.scala). Value-level oracle parity is the
  * DuckDB gate (tools/check.py); these assert the PROPERTIES each
  * operator promises — decontamination completeness, packing budget
  * bounds, mixture balance, Z-order file disjointness — which a
  * hash-match alone wouldn't explain. */
class PipelineSpec extends AnyFunSuite {
  import TestSpark._

  // localMaxBytes=0: at sf0.001 the default would run the very window
  // this compares against, so force the chunked form it is meant to check
  test("withGlobalRunningSum equals the single-partition global window") {
    withLocalMaxBytes(0L) {
      val df = Tables.lineitem(spark, sf0001)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("long").as("v"))
        .withColumn("k", col("l_orderkey") * 10 + col("l_linenumber"))
      val dist = ops.GlobalRank
        .withGlobalRunningSum(df, Seq(col("k"), col("v")), col("v"), "run")
      val naive = df.withColumn("run",
        sum(col("v")).over(Window.orderBy(col("k"), col("v"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      assert(dist.select("k", "v", "run").except(naive.select("k", "v", "run"))
        .isEmpty && naive.select("k", "v", "run")
        .except(dist.select("k", "v", "run")).isEmpty)
    }
  }

  test("pack_sequences: bins are contiguous and hold <= budget + one straddler") {
    val out = ops.Pipeline.packSequences(spark, sf0001)
      .collect().sortBy(_.getAs[Long]("doc_id"))
    val budget = 256L
    // bin ids nondecreasing in doc order (offset packing is monotone)
    val bins = out.map(_.getAs[Long]("bin_id"))
    assert(bins.zip(bins.tail).forall { case (a, b) => a <= b })
    // a doc's first token lands inside its bin: prefix div budget
    var prefix = 0L
    out.foreach { r =>
      assert(r.getAs[Long]("bin_id") == prefix / budget)
      prefix += r.getAs[Long]("n_tokens")
    }
  }

  test("text_decontaminate: survivors share < 2 distinct shingles with benchmark") {
    val docs = Tables.documents(spark, sf0001)
    val sh = ops.Llm.shingles(docs)
    val benchSh = sh.join(docs.filter(col("doc_id") % 10 === 7), "doc_id")
      .select("shingle").distinct()
    val overlap = sh.join(docs.filter(col("doc_id") % 10 =!= 7), "doc_id")
      .join(benchSh, "shingle")
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
    val survivors = ops.Pipeline.textDecontaminate(spark, sf0001)
    // no survivor is a benchmark doc
    assert(survivors.filter(col("doc_id") % 10 === 7).isEmpty)
    // every survivor overlaps the benchmark in at most 1 distinct shingle
    val bad = survivors.join(overlap, "doc_id").filter(col("n") >= 2)
    assert(bad.isEmpty)
    // completeness: survivors + contaminated = the whole train slice
    val nTrain = docs.filter(col("doc_id") % 10 =!= 7).count()
    val nCont = overlap.filter(col("n") >= 2).count()
    assert(survivors.count() == nTrain - nCont)
  }

  test("sample_mixture: every language contributes exactly the min-language count") {
    val perLang = ops.Pipeline.sampleMixture(spark, sf0001)
      .groupBy("lang").count().collect()
    val quota = Tables.documents(spark, sf0001)
      .groupBy("lang").count().agg(min("count")).head.getLong(0)
    assert(perLang.nonEmpty)
    assert(perLang.forall(_.getAs[Long]("count") == quota))
    // rerun-stable (content-hash order, no RNG)
    val a = ops.Pipeline.sampleMixture(spark, sf0001).collect().toSeq
    val b = ops.Pipeline.sampleMixture(spark, sf0001).collect().toSeq
    assert(a == b)
  }

  test("dedup_incremental: survivors are novel vs store and unique in batch") {
    val docs = Tables.documents(spark, sf0001)
    val survivors = ops.Pipeline.dedupIncremental(spark, sf0001)
    val withDigest = docs.withColumn("digest", sha2(col("text"), 256))
    val storeD = withDigest.filter(col("doc_id") % 5 =!= 0).select("digest")
    val sd = survivors.join(withDigest, "doc_id").select("doc_id", "digest")
    // no survivor digest exists in the store
    assert(sd.join(storeD, "digest").isEmpty)
    // one survivor per digest
    val dup = sd.groupBy("digest").count().filter(col("count") > 1)
    assert(dup.isEmpty)
    // all survivors come from the batch slice
    assert(survivors.filter(col("doc_id") % 5 =!= 0).isEmpty)
  }

  test("sink_zorder: per-file z-ranges are pairwise disjoint (data-skipping layout)") {
    ops.Pipeline.sinkZorder(spark, sf0001).count()
    val dest = ops.Scans.scratch(spark, "zorder_dst", sf0001)
    val ranges = spark.read.parquet(dest)
      .select(input_file_name().as("f"), col("z"))
      .groupBy("f").agg(min("z").as("lo"), max("z").as("hi"))
      .collect().map(r => (r.getAs[Long]("lo"), r.getAs[Long]("hi")))
      .sortBy(_._1)
    assert(ranges.length > 1, "expected multiple output files")
    ranges.zip(ranges.tail).foreach { case ((_, hi), (lo2, _)) =>
      assert(hi <= lo2, s"file z-ranges overlap: hi=$hi lo2=$lo2")
    }
  }

  test("sample_temperature: per-language counts equal min(integer quota, n_lang)") {
    val docs = Tables.documents(spark, sf0001)
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("n")).toMap
    val sw = counts.view.mapValues(n => math.sqrt(n.toDouble).floor.toLong).toMap
    val s = sw.values.sum
    val b = counts.values.sum / 2
    val got = ops.Pipeline.sampleTemperature(spark, sf0001)
      .groupBy("lang").count().collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("count")).toMap
    counts.keys.foreach { lang =>
      val quota = b * sw(lang) / s
      assert(got.getOrElse(lang, 0L) == math.min(quota, counts(lang)),
        s"$lang: got ${got.get(lang)}, quota=$quota n=${counts(lang)}")
    }
    // the α=0.5 curve flattens: sampled share of the smallest language
    // exceeds its corpus share (that is the point of temperature sampling)
    val minLang = counts.minBy(_._2)._1
    val sampledTot = got.values.sum.toDouble
    assert(got(minLang) / sampledTot > counts(minLang).toDouble / counts.values.sum)
  }

  test("embed_quantize: int8 range, max-abs element hits ±127, reconstruction bounded") {
    val out = ops.Pipeline.embedQuantize(spark, sf0001).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val qMin = r.getAs[Long]("q_min"); val qMax = r.getAs[Long]("q_max")
      assert(qMin >= -127 && qMax <= 127, s"int8 range violated: $qMin..$qMax")
      // the max-|x| element quantizes to an endpoint (floor(±127.0))
      assert(qMax == 127 || qMin == -127 || r.getAs[Long]("scale_q20") == 0,
        s"no endpoint hit: $qMin..$qMax")
    }
  }

  test("dedup_incremental_near: survivors have no qualifying pair; restricted == filtered full") {
    val docs = Tables.documents(spark, sf0001)
    val full = ops.Llm.jaccardPairs(docs).select("d1", "d2")
    // the pushed-down pair predicate must equal filtering the full pair set
    val restricted = ops.Llm.jaccardPairs(docs,
      pairPred = col("p.d1") % 5 === 0 || col("p.d2") % 5 === 0)
      .select("d1", "d2")
    val fullFiltered = full.filter(col("d1") % 5 === 0 || col("d2") % 5 === 0)
    assert(restricted.except(fullFiltered).isEmpty
      && fullFiltered.except(restricted).isEmpty)
    val survivors = ops.Pipeline.dedupIncrementalNear(spark, sf0001)
    assert(survivors.filter(col("doc_id") % 5 =!= 0).isEmpty)
    // no survivor pairs with a store doc or an earlier batch doc
    val s2 = survivors.select(col("doc_id").as("b"))
    // d2 = survivor ⇒ the d1 partner has a smaller id (store OR batch,
    // both disqualify under greedy first-wins), so ANY such pair is a bug
    val viaD2 = full.join(s2, full("d2") === s2("b"))
    assert(viaD2.isEmpty, "survivor has a pair with a smaller-id doc")
    val viaD1 = full.join(s2, full("d1") === s2("b"))
      .filter(col("d2") % 5 =!= 0)
    assert(viaD1.isEmpty, "survivor has a pair with a store doc")
  }

  test("dq_audit: clean constraints report zero, domain/length checks count violators") {
    val docs = Tables.documents(spark, sf0001)
    val got = ops.Pipeline.dqAudit(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("doc_id_complete") == 0L && got("doc_id_unique") == 0L
      && got("n_chars_consistent") == 0L && got("text_nonempty") == 0L)
    assert(got("lang_in_domain") ==
      docs.filter(col("lang") === "zh").count())
    assert(got("min_length_100") ==
      docs.filter(col("n_chars") < 100).count())
  }

  test("text_repetition: ppm signals are in range and detect planted repetition") {
    val out = ops.Pipeline.textRepetition(spark, sf0001).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val t = r.getAs[Long]("top2_ppm"); val d = r.getAs[Long]("dup3_ppm")
      assert(t >= 0 && t <= 1000000 && d >= 0 && d <= 1000000)
    }
    // planted check: a fully repetitive doc scores 1e6-ish on both
    import spark.implicits._
    val planted = Seq((1L, ("ab cd " * 50).trim)).toDF("doc_id", "text")
    val sh = planted.select(col("doc_id"),
      split(col("text"), " ").as("ws"))
    // reuse the declared op's arithmetic via a one-table temp view swap
    val g2 = sh.select(col("doc_id"), explode(expr(
      """transform(sequence(0, size(ws) - 2),
         i -> concat_ws(' ', ws[i], ws[i+1]))""")).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("top2"), sum("c").as("tot2"))
      .select(expr("(1000000 * top2) div tot2").as("ppm")).head.getLong(0)
    assert(g2 > 490000, s"planted repetition not detected: $g2")
  }

  test("text_line_dedup: exactly the injected boilerplate line is removed") {
    val out = ops.Pipeline.textLineDedup(spark, sf0001).collect()
    val origMd5 = Tables.documents(spark, sf0001)
      .select(col("doc_id"), md5(col("text")).as("m")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("m")).toMap
    assert(out.nonEmpty)
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val injected = id % 7 == 0 || id % 7 == 3
      val delta = r.getAs[Long]("n_lines") - r.getAs[Long]("kept_lines")
      assert(delta == (if (injected) 1L else 0L),
        s"doc $id: removed $delta lines, injected=$injected")
      // surviving text re-joins to EXACTLY the original document: chunking
      // partitions the words and only the prepended 10-word line is hot
      assert(r.getAs[String]("clean_md5") == origMd5(id), s"doc $id digest")
    }
  }

  test("text_span_dedup: planted boiler spans surface at token " +
      "resolution, at both placements, and span arithmetic is exact") {
    val out = ops.Pipeline.textSpanDedup(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_end"), r.getAs[Long]("span_tokens")))
    assert(out.nonEmpty)
    // arithmetic invariants: spans are [start, end] token ranges of at
    // least w + minRun - 1 = 15 tokens
    out.foreach { case (id, a, b, n) =>
      assert(n == b - a + 1, s"doc $id: span ($a,$b) claims $n tokens")
      assert(n >= 15, s"doc $id: span of $n tokens below the floor")
    }
    val spans = out.groupBy(_._1)
    val nTokens = Tables.documents(spark, sf0001)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // every PREPENDED doc (id % 9 = 0) carries a span starting at
    // token 0 covering at least the 20-token boiler; every APPENDED
    // doc (id % 9 = 4) carries one ending at its last token
    for (id <- nTokens.keys) {
      if (id % 9 == 0)
        assert(spans.get(id).exists(_.exists(s => s._2 == 0L && s._3 >= 19L)),
          s"doc $id: prepended boiler span missing (${spans.get(id)})")
      if (id % 9 == 4) {
        val last = nTokens(id) + 20 - 1 // boiler appended after the text
        assert(spans.get(id).exists(_.exists(s =>
            s._3 == last && s._3 - s._2 >= 19L)),
          s"doc $id: appended boiler span missing (${spans.get(id)})")
      }
    }
  }

  test("span dedup's min!=max shared-shingle rewrite equals count_distinct>=2") {
    // the r19 rewrite: "shingle occurs in >= 2 distinct docs" as
    // min(doc_id) != max(doc_id) instead of count_distinct(doc_id) >= 2.
    // Fixture covers: a shingle duplicated ACROSS docs, one repeated
    // WITHIN one doc only (count(*) >= 2 but distinct = 1 — the case a
    // plain count would get wrong), single-occurrence shingles, and
    // null doc_ids (ignored identically by count_distinct and min/max;
    // a null-only shingle excludes under both because null != null is
    // null, hence filtered).
    import spark.implicits._
    val sh = Seq[(java.lang.Long, String)](
      (1L, "shared across docs"), (2L, "shared across docs"),
      (3L, "shared across docs"),
      (4L, "repeated within one doc"), (4L, "repeated within one doc"),
      (5L, "unique to doc five"),
      (6L, "pair shingle"), (7L, "pair shingle"),
      (null, "null plus doc eight"), (8L, "null plus doc eight"),
      (null, "null only shingle"), (null, "null only shingle")
    ).toDF("doc_id", "sg")
    val viaMinMax = sh.groupBy("sg")
      .agg(min(col("doc_id")).as("d_lo"), max(col("doc_id")).as("d_hi"))
      .filter(col("d_lo") =!= col("d_hi")).select("sg")
    val viaCountDistinct = sh.groupBy("sg")
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2).select("sg")
    assert(viaMinMax.except(viaCountDistinct).isEmpty &&
      viaCountDistinct.except(viaMinMax).isEmpty)
    assert(viaMinMax.collect().map(_.getString(0)).toSet ==
      Set("shared across docs", "pair shingle"))
  }

  test("text_quality_filter: mask bits recompute from the signals") {
    val out = ops.Pipeline.textQualityFilter(spark, sf0001).collect()
    assert(out.exists(_.getAs[Boolean]("keep")) &&
      out.exists(!_.getAs[Boolean]("keep")), "filter must split the corpus")
    out.foreach { r =>
      val m = r.getAs[Long]("reason_mask"); val n = r.getAs[Long]("n_tok")
      assert(((m & 1) == 1) == (n < 20))
      assert(((m & 2) == 2) == (n > 80))
      assert(r.getAs[Boolean]("keep") == (m == 0))
    }
  }

  test("moments and quartiles agree: min <= p25 <= p50 <= p75 <= max") {
    val mo = ops.Aggs.aggMoments(spark, sf0001).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("min_e4"), r.getAs[Long]("max_e4"))).toMap
    val qu = ops.Aggs.aggQuartiles(spark, sf0001).collect()
    assert(qu.nonEmpty)
    qu.foreach { r =>
      val (mn, mx) = mo(r.getAs[String]("event_type"))
      val (p25, p50, p75) = (r.getAs[Long]("p25_e4"),
        r.getAs[Long]("p50_e4"), r.getAs[Long]("p75_e4"))
      assert(mn <= p25 && p25 <= p50 && p50 <= p75 && p75 <= mx)
    }
  }
}
