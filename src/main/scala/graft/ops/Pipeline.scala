package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Training-data pipeline COMPOSITION operators (round 7) — the steps a
  * real 100 TB pretraining-data build runs between the per-document
  * analysis ops ([[Analysis]]) and the dedup/similarity kernels ([[Llm]]):
  *
  *   - benchmark decontamination (`text_decontaminate`)
  *   - incremental corpus-delta dedup (`dedup_incremental`)
  *   - domain/language mixture resampling (`sample_mixture`)
  *   - token-budget sequence packing (`pack_sequences`)
  *   - repetition-based quality signals (`text_repetition`)
  *   - Z-order clustered writes for data-skipping (`sink_zorder`)
  *
  * Same hash-match discipline as everywhere else (SURVEY.md §0): integer
  * ppm ratios, exact integer hashes, a total order on every output.
  */
object Pipeline {

  /** Benchmark decontamination: drop from the training corpus every
    * document sharing >= 2 distinct 3-word shingles with the held-out
    * benchmark set (here the deterministic slice doc_id % 10 == 7 — in a
    * real build, the eval suites). The benchmark shingle set is tiny
    * relative to the corpus (eval suites are MBs, the corpus is TBs), so
    * it rides a broadcast and the corpus is scanned exactly once; the
    * only shuffle carries matched (doc_id, shingle) hits, not documents.
    */
  val textDecontaminate: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val bench = docs.filter(col("doc_id") % 10 === 7)
    val train = docs.filter(col("doc_id") % 10 =!= 7)
    val benchShingles = Llm.shingles(bench).select("shingle").distinct()
    // Llm.shingles emits DISTINCT shingles per doc, so this count is the
    // distinct-overlap size, matching the oracle's semantics exactly.
    val contaminated = Llm.shingles(train)
      .join(broadcast(benchShingles), "shingle")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") >= 2)
    train.join(contaminated, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  /** Incremental corpus-delta dedup: the store (docs already imported —
    * deterministic slice doc_id % 5 != 0) is represented ONLY by its
    * persisted sha-256 digest set; the new batch (doc_id % 5 == 0) keeps
    * one survivor (min doc_id) per digest not already in the store. At
    * 100 TB this is the shape that matters: each import shuffles 32-byte
    * digests, never document text, and never rescans stored documents —
    * the digest table is the corpus's standing fingerprint index, the
    * same incremental-maintenance contract as `varda_freq_incremental`.
    */
  val dedupIncremental: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val storeDigests = docs.filter(col("doc_id") % 5 =!= 0)
      .select(sha2(col("text"), 256).as("digest")).distinct()
    docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), sha2(col("text"), 256).as("digest"))
      .join(storeDigests, Seq("digest"), "left_anti")
      .groupBy("digest").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
      .orderBy("doc_id")
  }

  /** Equal-share language mixture: downsample every language to the size
    * of the smallest one, picking each language's quota by a
    * content-derived hash order (md5(text|doc_id), doc_id) — a
    * deterministic, rerun-stable "random" sample, the same leakage-safe
    * trick as `sample_stratified`. The quota is a 1-row broadcast; the
    * per-language rank is [[GlobalRank.withGroupedRowNumber]] (languages
    * are FEW and huge — a plain per-lang window would sort each whole
    * language in one task at corpus scale; the hash-prefix chunk key
    * splits every language into uniformly-filled chunks instead). */
  val sampleMixture: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val quota = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      .agg(min(col("n")).as("__quota"))
    rankedByContentHash(docs)
      .crossJoin(broadcast(quota))
      .filter(col("rn") <= col("__quota"))
      .select("doc_id", "lang")
      .orderBy("doc_id")
  }

  /** Shared per-language content-hash rank: md5 order, doc_id tiebreak,
    * distributed via the grouped two-pass rank. The chunk key is the
    * hash's first 15 hex digits as a number — monotone in the hex string
    * (lowercase fixed-width hex sorts like its value) and uniform, so
    * chunks fill evenly by construction. */
  private def rankedByContentHash(docs: DataFrame): DataFrame = {
    // Hash once, then materialize the NARROW (doc_id, lang, 32-hex)
    // projection: the grouped two-pass rank references its input three
    // times (chunk bounds, local window, offsets), and without the cut
    // each reference re-scans the corpus text and re-hashes it. The
    // checkpointed frame is ~50 bytes/row vs the KB-scale text column —
    // at any corpus size this is the cheap side of the trade.
    val hashed = docs.select(col("doc_id"), col("lang"),
        md5(concat_ws("|", col("text"), col("doc_id"))).as("h"))
      .localCheckpoint()
    GlobalRank.withGroupedRowNumber(hashed,
      Seq("lang"), Seq(col("h"), col("doc_id")), "rn",
      chunkKey = Some(conv(substring(col("h"), 1, 15), 16, 10)))
  }

  /** Temperature-scaled language mixture (α = 0.5, the multilingual
    * up/down-sampling curve): each language's share of the sample budget
    * is proportional to n_lang^α instead of n_lang, flattening the
    * head-language dominance without equalizing outright (the
    * [[sampleMixture]] extreme). All arithmetic after the one
    * `floor(sqrt(n))` is INTEGER — weights s_l = ⌊√n_l⌋, budget
    * B = ⌊Σn/2⌋, quota_l = ⌊B·s_l / Σs⌋ — so both engines agree
    * bit-for-bit (IEEE sqrt is correctly rounded; everything else is
    * exact). Selection within a language is the same content-hash order
    * as [[sampleMixture]]: deterministic, rerun-stable, leakage-safe,
    * and distributed through the same grouped two-pass rank (no whole-
    * language single-task sort). The quota table is languages-sized →
    * broadcast. */
  val sampleTemperature: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      .withColumn("sw", expr("CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT)"))
    val tot = counts.agg(sum(col("sw")).as("S"), expr("sum(n) div 2").as("B"))
    val quotas = counts.crossJoin(broadcast(tot))
      .select(col("lang"), expr("(B * sw) div S").as("quota"))
    rankedByContentHash(docs)
      .join(broadcast(quotas), "lang")
      .filter(col("rn") <= col("quota"))
      .select("doc_id", "lang")
      .orderBy("doc_id")
  }

  /** Symmetric int8 embedding quantization — the storage/serving
    * compression every vector index applies before ANN (4× smaller than
    * f32, dot products in integer SIMD). Per vector: scale = max |x_i|,
    * q_i = ⌊x_i·127 / scale⌋ ∈ [-127, 127]. The declared output is the
    * quantized digest tier (Σq, min q, max q, ⌊scale·2^20⌋) — integer
    * columns both engines hash identically; the float steps are the
    * fixed-order IEEE double ops the multimodal digests already proved
    * cross-engine-exact. Zero vectors quantize to zeros (no 0/0). Pure
    * per-row codegen'd array expressions: no shuffle at all before the
    * declared ORDER BY, so the op is embarrassingly parallel at any
    * scale. */
  val embedQuantize: Q = (s, d) =>
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))")
          .as("sc"))
      .select(col("vec_id"), col("sc"),
        expr("""CASE WHEN sc = 0D THEN transform(embedding, x -> 0L)
                ELSE transform(embedding, x ->
                  CAST(floor((CAST(x AS DOUBLE) * 127.0) / sc) AS BIGINT))
                END""").as("ql"))
      .select(col("vec_id"),
        expr("aggregate(ql, 0L, (a, x) -> a + x)").as("q_sum"),
        expr("array_min(ql)").as("q_min"),
        expr("array_max(ql)").as("q_max"),
        expr("CAST(floor(sc * 1048576.0) AS BIGINT)").as("scale_q20"))
      .orderBy("vec_id")

  /** Incremental NEAR-dedup of a corpus delta — the composition of
    * [[dedupIncremental]]'s store/batch contract with the exact
    * jaccard-pair machinery ([[Llm.jaccardPairs]]): a new-batch document
    * (doc_id % 5 == 0) is dropped iff it has shingle-Jaccard >= 0.5 with
    * ANY stored document or with an earlier (smaller doc_id) batch
    * document — the greedy first-wins rule, pairwise like
    * `dedup_near_jaccard`, no transitive closure. The pair predicate is
    * pushed into the posting-list enumeration, so store×store pairs are
    * pruned BEFORE the pair shuffle: each import pays for pairs touching
    * its delta, never for re-verifying the standing corpus against
    * itself — the incremental contract that makes repeated imports
    * affordable at 100 TB. The shingle index itself is the SHARED
    * standing index ([[Llm.jaccardIndexShared]] — persisted per session
    * here, a maintained table at scale): the import probes it, it is
    * not rebuilt per import. */
  val dedupIncrementalNear: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val pairs = Llm.jaccardPairsIndexed(s, d,
      pairPred = col("p.d1") % 5 === 0 || col("p.d2") % 5 === 0)
    val dropped = pairs.filter(col("d2") % 5 === 0)
        .select(col("d2").as("doc_id"))
      .unionByName(pairs.filter(col("d1") % 5 === 0 && col("d2") % 5 =!= 0)
        .select(col("d1").as("doc_id")))
      .distinct()
    docs.filter(col("doc_id") % 5 === 0)
      .join(dropped, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  /** Data-quality audit — the Deequ-style constraint report every
    * pipeline run gates on before training data ships: completeness,
    * uniqueness, domain membership, derived-column consistency, length
    * floors. ONE scan computes every check as a conditional aggregate
    * (the uniqueness check rides the same pass as a distinct count);
    * the result is a constraint × violation-count report, O(checks)
    * rows from any corpus size. */
  val dqAudit: Q = (s, d) =>
    Tables.documents(s, d).agg(
      sum(when(col("doc_id").isNull, 1L).otherwise(0L)).as("c1"),
      (count(lit(1)) - countDistinct(col("doc_id"))).as("c2"),
      sum(when(!col("lang").isin("en", "de", "fr", "es"), 1L)
        .otherwise(0L)).as("c3"),
      sum(when(col("n_chars") =!= length(col("text")), 1L)
        .otherwise(0L)).as("c4"),
      sum(when(col("text").isNull || length(col("text")) === 0, 1L)
        .otherwise(0L)).as("c5"),
      sum(when(col("n_chars") < 100, 1L).otherwise(0L)).as("c6"))
    .select(expr("""stack(6,
        'doc_id_complete', c1,
        'doc_id_unique', c2,
        'lang_in_domain', c3,
        'n_chars_consistent', c4,
        'text_nonempty', c5,
        'min_length_100', c6) AS (check_name, violations)"""))
    .orderBy("check_name")

  /** Token budget per packed training sequence. */
  private val PackBudget = 256L

  /** Offset-based sequence packing: documents in doc_id order form one
    * token stream; a document's bin is the PackBudget-token chunk its
    * first token lands in (bin = prefix-token-count div budget) — the
    * standard concat-then-chunk packing a pretraining loader performs.
    * The prefix sum is [[GlobalRank.withGlobalRunningSum]]: per-chunk
    * local running sums + an O(chunks) offset broadcast, so there is no
    * single-partition global window even at fact-table width. */
  val packSequences: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("n_tokens"))
      // narrow (id, count) rows; the running sum references its input
      // three times, and re-tokenizing the text column per reference is
      // the expensive side at corpus scale
      .localCheckpoint()
    GlobalRank.withGlobalRunningSum(docs, Seq(col("doc_id")),
        col("n_tokens"), "run")
      .select(col("doc_id"), col("n_tokens"),
        expr(s"(run - n_tokens) div $PackBudget").as("bin_id"))
      .orderBy("doc_id")
  }

  /** Gopher-style repetition signals, integer ppm: the fraction of a
    * document's 2-grams taken by its single most frequent 2-gram, and the
    * fraction of 3-gram occurrences that are repeats of an earlier
    * 3-gram. Sliding n-grams come from one array transform per doc;
    * counting happens in a partitioned aggregate (explode → groupBy), so
    * a pathological single document never becomes a task-level hotspot.
    * Documents shorter than 3 tokens have no 3-grams and drop out — same
    * rule in the oracle. */
  val textRepetition: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    def grams(n: Int) = expr(
      s"""CASE WHEN size(ws) < $n THEN array()
          ELSE transform(sequence(0, size(ws) - $n),
                         i -> concat_ws(' ', ${(0 until n).map(j => s"ws[i+$j]").mkString(", ")}))
          END""")
    val top2 = docs.select(col("doc_id"), explode(grams(2)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max(col("c")).as("top2"), sum(col("c")).as("tot2"))
    val dup3 = docs.select(col("doc_id"), explode(grams(3)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(sum(col("c")).as("tot3"),
        count(lit(1)).as("distinct3"))
    top2.join(dup3, "doc_id")
      .select(col("doc_id"),
        expr("(1000000 * top2) div tot2").as("top2_ppm"),
        expr("(1000000 * (tot3 - distinct3)) div tot3").as("dup3_ppm"))
      .orderBy("doc_id")
  }

  /** Bits per dimension in the Z-value interleave. 24 bits covers key
    * spaces to 16M; the interleaved value stays well inside BIGINT. Must
    * match the oracle's arithmetic exactly. */
  private val ZBits = 24

  /** Morton/Z-value bit interleave of two BIGINT dimensions, emitted for
    * both dialects from one generator (the SimHash pattern —
    * [[Analysis]]): z = Σ_k ((x>>k & 1) << 2k) + ((y>>k & 1) << 2k+1). */
  private def zValueSql(x: String, y: String,
      shl: (String, Int) => String, shr: (String, Int) => String): String =
    (0 until ZBits).map { k =>
      s"(${shl(s"(${shr(x, k)} & 1)", 2 * k)} + ${shl(s"(${shr(y, k)} & 1)", 2 * k + 1)})"
    }.mkString("(", " + ", ")")

  private[ops] def zValueSpark(x: String, y: String): String =
    zValueSql(x, y,
      (e, n) => s"shiftleft($e, $n)", (e, n) => s"shiftright($e, $n)")

  private[graft] def zValueDuck(x: String, y: String): String =
    zValueSql(x, y, (e, n) => s"($e << $n)", (e, n) => s"($e >> $n)")

  /** Z-order clustered sink: rewrite lineitem's (l_orderkey, l_partkey)
    * projection range-partitioned AND sorted by the Morton-interleaved
    * Z-value, then read it back. Each parquet file then covers a tight
    * Z-range — a rectangle in (orderkey, partkey) space — so a range scan
    * on EITHER dimension (or both) prunes by footer min/max instead of
    * reading the table: the lakehouse data-skipping layout, paid for with
    * one range shuffle at write time. PipelineSpec asserts the per-file
    * Z-ranges are pairwise disjoint; the oracle hash-checks the cycle
    * lossless (it computes the same rows straight from the source). */
  val sinkZorder: Q = (s, d) => {
    val dest = Scans.scratch(s, "zorder_dst", d)
    val z = Tables.lineitem(s, d).select(
      col("l_orderkey"), col("l_partkey"),
      col("l_linenumber").cast(LongType).as("line_no"),
      expr(zValueSpark("l_orderkey", "l_partkey")).as("z"))
    // explicit file count: at 100 TB this is total_bytes / target_file_size
    // (a write-time layout choice, not something AQE should coalesce away)
    z.repartitionByRange(s.sessionState.conf.numShufflePartitions, col("z"), col("l_orderkey"), col("l_partkey"),
        col("line_no"))
      .sortWithinPartitions("z", "l_orderkey", "l_partkey", "line_no")
      .write.mode("overwrite").parquet(dest)
    s.read.parquet(dest)
      .orderBy("z", "l_orderkey", "l_partkey", "line_no")
      .select("l_orderkey", "l_partkey", "line_no", "z")
  }

  /** CCNet-style boilerplate LINE removal: treat every consecutive
    * 10-word chunk as a "line", drop every line whose exact text occurs
    * in more than 5% of documents (the cookie-banner / nav-footer pass
    * every web-corpus build runs before dedup), and re-emit each doc's
    * surviving text as an md5 digest. Scale shape: document-frequency
    * counting groups by the LINE ITSELF only long enough to aggregate —
    * the shuffle carries (line, doc_id) once, the resulting hot list is
    * tiny by construction (a line in >5% of a 100 TB corpus is a handful
    * of distinct strings) and rides a broadcast anti-join, so the second
    * corpus pass never shuffles. The 5% threshold is relative (df·20 >
    * ndocs) — scale-free, no magic absolute count. The corpus fixture
    * carries no natural repeated lines (31-word vocab, max exact-dup text
    * count 2), so deterministic boilerplate headers are injected on two
    * doc_id classes, exactly 10 words each to preserve chunk alignment of
    * the original text. */
  val textLineDedup: Q = (s, d) => {
    val b1 = "cookie policy accept all terms to continue reading this site"
    val b2 = "subscribe to our newsletter for daily updates delivered every morning"
    val docs = Tables.documents(s, d).withColumn("t2",
      when(col("doc_id") % 7 === 0, concat(lit(b1 + " "), col("text")))
        .when(col("doc_id") % 7 === 3, concat(lit(b2 + " "), col("text")))
        .otherwise(col("text")))
    val lines = docs
      .withColumn("ws", split(col("t2"), " "))
      .select(col("doc_id"), posexplode(expr(
        """transform(sequence(0, (size(ws) - 1) div 10),
                     p -> array_join(slice(ws, p * 10 + 1, 10), ' '))"""))
        .as(Seq("pos", "line")))
    val ndocs = Tables.documents(s, d).select(count(lit(1)).as("ndocs"))
    val hot = lines.groupBy("line")
      .agg(count_distinct(col("doc_id")).as("df"))
      .crossJoin(broadcast(ndocs))
      .filter(col("df") * 20 > col("ndocs"))
      .select("line")
    val kept = lines.join(broadcast(hot), Seq("line"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("kept_raw"),
        md5(array_join(
          transform(sort_array(collect_list(struct(col("pos"), col("line")))),
            x => x.getField("line")), " ")).as("clean_md5"))
    lines.groupBy("doc_id").agg(count(lit(1)).as("n_lines"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        coalesce(col("kept_raw"), lit(0L)).as("kept_lines"), col("clean_md5"))
      .orderBy("doc_id")
  }

  /** Substring-level duplicated-SPAN detection (round 19 — the
    * published exact-substring dedup step for pretraining corpora:
    * remove any span whose every `SpanW`-gram occurs elsewhere in the
    * corpus, the criterion suffix-array pipelines implement; here the
    * shingle-run formulation that fits the existing inverted-index
    * machinery). Doc-level dedup keeps or drops whole documents;
    * boilerplate licenses, disclaimers and copied paragraphs INSIDE
    * otherwise-unique documents survive it — this key flags them at
    * token resolution:
    *
    *  1. every doc explodes to its `SpanW`-token shingles with start
    *     positions (one pass, O(tokens) rows);
    *  2. a shingle VALUE occurring in ≥ 2 distinct docs is "shared" —
    *     a plain group-by inverted index, NO doc-pair join anywhere
    *     (a hot boilerplate shingle in a million docs costs one
    *     aggregate row, not 10^12 pairs);
    *  3. per doc, maximal runs of CONSECUTIVE shared positions
    *     (gaps-and-islands over a per-doc window — partitioned by
    *     doc_id, so the window state is bounded by document length)
    *     become spans; runs of ≥ `SpanMinRun` shingles (≥ 15 tokens)
    *     are emitted as (span_start, span_end, span_tokens).
    *
    * A planted 20-token license boiler (prepended to doc_id % 9 = 0,
    * appended to % 9 = 4) exercises both span placements at every
    * scale. Consecutive shared positions need not share ONE partner
    * doc — exactly the published criterion (every window of the span
    * is duplicated somewhere). Integer span arithmetic end to end, so
    * the oracle hash-matches. */
  private val SpanW = 8
  private val SpanMinRun = 8
  private val spanBoiler = "limited liability clause the software is " +
    "provided as is without warranty of any kind either express or " +
    "implied stated herein"
  val textSpanDedup: Q = (s, d) => {
    val docs = Tables.documents(s, d).withColumn("t2",
      when(col("doc_id") % 9 === 0, concat(lit(spanBoiler + " "), col("text")))
        .when(col("doc_id") % 9 === 4, concat(col("text"), lit(" " + spanBoiler)))
        .otherwise(col("text")))
    val sh = docs
      .withColumn("ws", split(col("t2"), " "))
      .filter(size(col("ws")) >= SpanW)
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, size(ws) - $SpanW),
                      p -> array_join(slice(ws, p + 1, $SpanW), ' '))"""))
        .as(Seq("pos", "sg")))
      // referenced by the inverted-index aggregate AND the probe side of
      // the semi join: materialize the shingle table once instead of
      // re-running the slice/array_join explosion over the whole corpus
      // per reference (r19 plan: two Generate+FileScan subtrees) — the
      // same one-pass shingle-table materialization suffix-array dedup
      // pipelines do. SIZE BOUND (r19 verdict item 7): this is the one
      // checkpointed frame that is NOT change-point-sized — ~w tokens per
      // document means the shingle table is ~8× the tokenized corpus in
      // (pos, 8-gram string) rows. localCheckpoint stores at
      // MEMORY_AND_DISK, so blocks SPILL to executor-local disk rather
      // than OOM; the honest at-scale comparison is one spill-backed
      // write + two reads of 8× corpus vs re-running the explode + its
      // full corpus scan twice — the same trade a suffix-array pipeline
      // makes when it materializes its shingle table. Deployments that
      // cannot spare the executor storage set
      // spark.graft.checkpoint=reliable ([[graft.util.Ckpt]]) and pay a
      // durable write instead.
      .transform(graft.util.Ckpt.narrow(_))
    // "occurs in ≥ 2 distinct docs" ⟺ min(doc_id) ≠ max(doc_id): same
    // predicate, but min/max are plain map-side-combinable aggregates —
    // count_distinct planned a (sg, doc_id) distinct pre-aggregate whose
    // exchange re-shuffled every 8-gram STRING a second time (r19,
    // guide §2.3 "shuffle fewer bytes"; the exact df count is never used)
    val shared = sh.groupBy("sg")
      .agg(min(col("doc_id")).as("d_lo"), max(col("doc_id")).as("d_hi"))
      .filter(col("d_lo") =!= col("d_hi"))
      .select("sg")
    val win = Window.partitionBy("doc_id").orderBy("pos")
    sh.join(shared, Seq("sg"), "left_semi")
      .withColumn("grp", col("pos") - row_number().over(win))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("a"), max(col("pos")).as("b"),
        count(lit(1)).as("nsh"))
      .filter(col("nsh") >= SpanMinRun)
      .select(col("doc_id"),
        col("a").cast(LongType).as("span_start"),
        (col("b") + (SpanW - 1)).cast(LongType).as("span_end"),
        (col("b") + SpanW - col("a")).cast(LongType).as("span_tokens"))
      .orderBy("doc_id", "span_start")
  }

  private val stopListSql = "('the','a','of','and','to','in','is','it')"

  /** Reason-coded quality filter — the C4/Gopher-style keep/drop decision
    * composed from the per-document signals [[Analysis.textQuality]]
    * measures: token-count floor and ceiling, stopword-ratio floor
    * (gibberish/listing pages), distinct-token-ratio floor (repetition).
    * Emits a bitmask of FAILED rules per document (bit 0 = too short,
    * 1 = too long, 2 = low stopword ratio, 3 = low diversity) plus the
    * keep verdict, so downstream mixture building can both filter and
    * report per-rule loss. One scan, zero shuffles, all integer ppm
    * arithmetic — at 100 TB this runs at read bandwidth and the reason
    * histogram is a free rollup of the output. */
  val textQualityFilter: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("ws", split(col("text"), " "))
      .withColumn("n_tok", size(col("ws")).cast(LongType))
      .withColumn("stop_ppm", expr(
        s"cast((1000000 * size(filter(ws, t -> t IN $stopListSql))) div size(ws) as bigint)"))
      .withColumn("distinct_ppm", expr(
        "cast((1000000 * size(array_distinct(ws))) div size(ws) as bigint)"))
      .withColumn("reason_mask",
        (when(col("n_tok") < 20, 1L).otherwise(0L)
          + when(col("n_tok") > 80, 2L).otherwise(0L)
          + when(col("stop_ppm") < 30000, 4L).otherwise(0L)
          + when(col("distinct_ppm") < 300000, 8L).otherwise(0L)))
      .select(col("doc_id"), col("n_tok"), col("reason_mask"),
        (col("reason_mask") === 0).as("keep"))
      .orderBy("doc_id")

  val queries: Map[String, Q] = Map(
    "text_line_dedup" -> textLineDedup,
    "text_span_dedup" -> textSpanDedup,
    "text_quality_filter" -> textQualityFilter,
    "text_decontaminate" -> textDecontaminate,
    "dedup_incremental" -> dedupIncremental,
    "sample_mixture" -> sampleMixture,
    "sample_temperature" -> sampleTemperature,
    "embed_quantize" -> embedQuantize,
    "dq_audit" -> dqAudit,
    "dedup_incremental_near" -> dedupIncrementalNear,
    "pack_sequences" -> packSequences,
    "text_repetition" -> textRepetition,
    "sink_zorder" -> sinkZorder)

  private val shingleSqlDuck =
    """SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(ws) - 1),
           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
       FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) w"""

  val oracle: Map[String, String] = Map(
    "text_span_dedup" ->
      s"""WITH d0 AS (SELECT doc_id,
               CASE WHEN doc_id % 9 = 0 THEN '$spanBoiler' || ' ' || text
                    WHEN doc_id % 9 = 4 THEN text || ' ' || '$spanBoiler'
                    ELSE text END AS t2
             FROM documents),
          w AS (SELECT doc_id, string_split(t2, ' ') AS ws FROM d0),
          px AS (SELECT doc_id, ws,
                        unnest(range(0, len(ws) - ${SpanW - 1})) AS pos
                 FROM w WHERE len(ws) >= $SpanW),
          sgs AS (SELECT doc_id, pos,
                         array_to_string(ws[pos + 1 : pos + $SpanW], ' ') AS sg
                  FROM px),
          shared AS (SELECT sg FROM sgs
                     GROUP BY sg HAVING count(DISTINCT doc_id) >= 2),
          f AS (SELECT doc_id, pos FROM sgs
                WHERE sg IN (SELECT sg FROM shared)),
          r AS (SELECT doc_id, pos,
                       pos - row_number() OVER
                         (PARTITION BY doc_id ORDER BY pos) AS grp
                FROM f),
          sp AS (SELECT doc_id, min(pos) AS a, max(pos) AS b,
                        count(*) AS nsh
                 FROM r GROUP BY doc_id, grp)
       SELECT doc_id, CAST(a AS BIGINT) AS span_start,
              CAST(b + ${SpanW - 1} AS BIGINT) AS span_end,
              CAST(b + $SpanW - a AS BIGINT) AS span_tokens
       FROM sp WHERE nsh >= $SpanMinRun
       ORDER BY doc_id, span_start""",
    "text_line_dedup" ->
      """WITH d0 AS (SELECT doc_id,
               CASE WHEN doc_id % 7 = 0 THEN
                 'cookie policy accept all terms to continue reading this site ' || text
               WHEN doc_id % 7 = 3 THEN
                 'subscribe to our newsletter for daily updates delivered every morning ' || text
               ELSE text END AS t2
             FROM documents),
            w AS (SELECT doc_id, string_split(t2, ' ') AS ws FROM d0),
            lx AS (SELECT doc_id, ws,
                          unnest(range(0, (len(ws) - 1) // 10 + 1)) AS pos
                   FROM w),
            l AS (SELECT doc_id, pos,
                         array_to_string(ws[pos*10+1 : pos*10+10], ' ') AS line
                  FROM lx),
            nd AS (SELECT count(*) AS ndocs FROM documents),
            hot AS (SELECT line FROM l, nd
                    GROUP BY line, ndocs
                    HAVING count(DISTINCT doc_id) * 20 > ndocs),
            kept AS (SELECT doc_id, pos, line FROM l
                     WHERE line NOT IN (SELECT line FROM hot)),
            tot AS (SELECT doc_id, count(*) AS n_lines FROM l GROUP BY 1)
         SELECT t.doc_id, t.n_lines,
                count(k.line) AS kept_lines,
                md5(string_agg(k.line, ' ' ORDER BY k.pos)) AS clean_md5
         FROM tot t LEFT JOIN kept k USING (doc_id)
         GROUP BY t.doc_id, t.n_lines
         ORDER BY t.doc_id""",
    "text_quality_filter" ->
      """WITH q AS (SELECT doc_id,
               CAST(len(ws) AS BIGINT) AS n_tok,
               (1000000 * len(list_filter(ws,
                  t -> t IN ('the','a','of','and','to','in','is','it'))))
                 // len(ws) AS stop_ppm,
               (1000000 * len(list_distinct(ws))) // len(ws) AS distinct_ppm
             FROM (SELECT doc_id, string_split(text, ' ') AS ws
                   FROM documents) t)
         SELECT doc_id, n_tok,
                CAST(CASE WHEN n_tok < 20 THEN 1 ELSE 0 END
                   + CASE WHEN n_tok > 80 THEN 2 ELSE 0 END
                   + CASE WHEN stop_ppm < 30000 THEN 4 ELSE 0 END
                   + CASE WHEN distinct_ppm < 300000 THEN 8 ELSE 0 END
                  AS BIGINT) AS reason_mask,
                (CASE WHEN n_tok < 20 THEN 1 ELSE 0 END
                   + CASE WHEN n_tok > 80 THEN 2 ELSE 0 END
                   + CASE WHEN stop_ppm < 30000 THEN 4 ELSE 0 END
                   + CASE WHEN distinct_ppm < 300000 THEN 8 ELSE 0 END) = 0
                  AS keep
         FROM q ORDER BY doc_id""",
    "text_decontaminate" ->
      s"""WITH sh AS ($shingleSqlDuck),
            bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 = 7),
            cont AS (SELECT doc_id FROM sh JOIN bench USING (shingle)
                     WHERE doc_id % 10 <> 7
                     GROUP BY doc_id HAVING count(*) >= 2)
          SELECT doc_id, lang, source FROM documents
          WHERE doc_id % 10 <> 7
            AND doc_id NOT IN (SELECT doc_id FROM cont)
          ORDER BY doc_id""",
    "dedup_incremental" ->
      """WITH store AS (SELECT DISTINCT sha256(text) AS digest
                        FROM documents WHERE doc_id % 5 <> 0),
            batch AS (SELECT doc_id, sha256(text) AS digest
                      FROM documents WHERE doc_id % 5 = 0)
         SELECT min(doc_id) AS doc_id FROM batch
         WHERE digest NOT IN (SELECT digest FROM store)
         GROUP BY digest ORDER BY doc_id""",
    "dq_audit" ->
      """WITH m AS (SELECT
            sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS c1,
            count(*) - count(DISTINCT doc_id) AS c2,
            sum(CASE WHEN lang NOT IN ('en','de','fr','es') THEN 1 ELSE 0 END) AS c3,
            sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END) AS c4,
            sum(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END) AS c5,
            sum(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END) AS c6
          FROM documents)
         SELECT 'doc_id_complete' AS check_name, CAST(c1 AS BIGINT) AS violations FROM m
         UNION ALL SELECT 'doc_id_unique', CAST(c2 AS BIGINT) FROM m
         UNION ALL SELECT 'lang_in_domain', CAST(c3 AS BIGINT) FROM m
         UNION ALL SELECT 'n_chars_consistent', CAST(c4 AS BIGINT) FROM m
         UNION ALL SELECT 'text_nonempty', CAST(c5 AS BIGINT) FROM m
         UNION ALL SELECT 'min_length_100', CAST(c6 AS BIGINT) FROM m
         ORDER BY check_name""",
    "sample_temperature" ->
      """WITH c AS (SELECT lang, count(*) AS n,
                      CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS sw
                    FROM documents GROUP BY 1),
            t AS (SELECT sum(sw) AS S, sum(n) // 2 AS B FROM c),
            q AS (SELECT lang, (B * sw) // S AS quota FROM c, t),
            r AS (SELECT doc_id, lang,
                    row_number() OVER (PARTITION BY lang
                      ORDER BY md5(text || '|' || CAST(doc_id AS VARCHAR)),
                               doc_id) AS rn
                  FROM documents)
         SELECT doc_id, lang FROM r JOIN q USING (lang)
         WHERE rn <= quota ORDER BY doc_id""",
    "embed_quantize" ->
      """WITH e AS (SELECT vec_id, embedding,
                      list_max(list_transform(embedding,
                        x -> abs(CAST(x AS DOUBLE)))) AS sc
                    FROM embeddings),
            q AS (SELECT vec_id, sc,
                    CASE WHEN sc = 0 THEN
                      list_transform(embedding, x -> CAST(0 AS BIGINT))
                    ELSE
                      list_transform(embedding, x ->
                        CAST(floor((CAST(x AS DOUBLE) * 127.0) / sc) AS BIGINT))
                    END AS ql
                  FROM e)
         SELECT vec_id,
           CAST(list_sum(ql) AS BIGINT) AS q_sum,
           CAST(list_min(ql) AS BIGINT) AS q_min,
           CAST(list_max(ql) AS BIGINT) AS q_max,
           CAST(floor(sc * 1048576.0) AS BIGINT) AS scale_q20
         FROM q ORDER BY vec_id""",
    "dedup_incremental_near" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            sh AS (SELECT DISTINCT doc_id,
                     unnest(list_transform(range(1, len(ws) - 1),
                       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
                   FROM w),
            sz AS (SELECT doc_id, count(*) AS s FROM sh GROUP BY doc_id),
            pr AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter_cnt
                   FROM sh a JOIN sh b
                     ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   WHERE a.doc_id % 5 = 0 OR b.doc_id % 5 = 0
                   GROUP BY 1, 2),
            np AS (SELECT d1, d2 FROM pr
                   JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id
                   WHERE inter_cnt * 3 >= s1.s + s2.s),
            dropped AS (SELECT d2 AS doc_id FROM np WHERE d2 % 5 = 0
                        UNION
                        SELECT d1 FROM np WHERE d1 % 5 = 0 AND d2 % 5 <> 0)
         SELECT doc_id, lang, source FROM documents
         WHERE doc_id % 5 = 0
           AND doc_id NOT IN (SELECT doc_id FROM dropped)
         ORDER BY doc_id""",
    "sample_mixture" ->
      """WITH q AS (SELECT min(n) AS quota FROM
                      (SELECT lang, count(*) AS n FROM documents GROUP BY 1)),
            r AS (SELECT doc_id, lang,
                    row_number() OVER (PARTITION BY lang
                      ORDER BY md5(text || '|' || CAST(doc_id AS VARCHAR)),
                               doc_id) AS rn
                  FROM documents)
         SELECT doc_id, lang FROM r, q WHERE rn <= quota ORDER BY doc_id""",
    "pack_sequences" ->
      s"""SELECT doc_id, n_tokens,
            CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 // $PackBudget AS BIGINT) AS bin_id
          FROM (SELECT doc_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                FROM documents) t
          ORDER BY doc_id""",
    "text_repetition" ->
      """WITH g2 AS (SELECT doc_id,
                       unnest(list_transform(range(1, len(ws)),
                         i -> ws[i] || ' ' || ws[i+1])) AS g
                     FROM (SELECT doc_id, string_split(text, ' ') AS ws
                           FROM documents) w),
            g3 AS (SELECT doc_id,
                     unnest(list_transform(range(1, len(ws) - 1),
                       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g
                   FROM (SELECT doc_id, string_split(text, ' ') AS ws
                         FROM documents) w),
            t2 AS (SELECT doc_id, max(c) AS top2, sum(c) AS tot2 FROM
                     (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2) x
                   GROUP BY doc_id),
            t3 AS (SELECT doc_id, sum(c) AS tot3, count(*) AS distinct3 FROM
                     (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2) x
                   GROUP BY doc_id)
         SELECT t2.doc_id,
           CAST((1000000 * top2) // tot2 AS BIGINT) AS top2_ppm,
           CAST((1000000 * (tot3 - distinct3)) // tot3 AS BIGINT) AS dup3_ppm
         FROM t2 JOIN t3 ON t2.doc_id = t3.doc_id
         ORDER BY t2.doc_id""",
    "sink_zorder" ->
      s"""SELECT l_orderkey, l_partkey,
            CAST(l_linenumber AS BIGINT) AS line_no,
            CAST(${zValueDuck("l_orderkey", "l_partkey")} AS BIGINT) AS z
          FROM lineitem
          ORDER BY z, l_orderkey, l_partkey, line_no""")
}
