package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Training-data text analysis + the remaining dedup family members
  * (north-star components beyond the SURVEY §2 base inventory): language
  * ID by n-gram profile overlap, quality scoring, regex token counting,
  * rolling-hash fingerprinting, SimHash near-dup, embedding-cosine
  * near-dup. All ratio outputs are integer ppm (floor division) and all
  * hashes are explicit integer arithmetic, so both engines agree exactly.
  */
object Analysis {

  /** Language ID, n-gram-profile style: build a top-20 term profile per
    * language from the corpus, score each doc by distinct-token overlap
    * with every profile, predict the argmax (score desc, lang asc). */
  val textLangid: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("term"))
    val profW = Window.partitionBy("lang").orderBy(col("cnt").desc, col("term"))
    val prof = toks.groupBy("lang", "term").agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(profW)).filter(col("rn") <= 20)
      .select(col("lang").as("prof_lang"), col("term"))
    val dt = toks.select("doc_id", "term").distinct()
    val predW = Window.partitionBy("doc_id").orderBy(col("score").desc, col("prof_lang"))
    dt.join(prof, "term")
      .groupBy("doc_id", "prof_lang").agg(count(lit(1)).as("score"))
      .withColumn("rn", row_number().over(predW)).filter(col("rn") === 1)
      .select(col("doc_id"), col("prof_lang").as("pred_lang"), col("score"))
      .orderBy("doc_id")
  }

  private val stopList = "('the','a','of','and','to','in','is','it')"

  /** Per-document quality signals as integer ppm ratios. */
  val textQuality: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"),
        expr("cast(size(ws) as bigint)").as("n_tokens"),
        expr("cast((1000000 * aggregate(ws, 0L, (a, t) -> a + length(t))) div size(ws) as bigint)")
          .as("avg_len_ppm"),
        expr(s"cast((1000000 * size(filter(ws, t -> t IN $stopList))) div size(ws) as bigint)")
          .as("stopword_ppm"),
        expr("cast((1000000 * size(array_distinct(ws))) div size(ws) as bigint)")
          .as("distinct_ppm"))
      .orderBy("doc_id")

  /** Token counting: whitespace split vs regex word/number tokens vs a
    * BPE-ish bounded-chunk regex. */
  val textTokenCount: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0)))
          .cast(LongType).as("re_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z]{1,4}|[0-9]"), lit(0)))
          .cast(LongType).as("bpe_tokens"))
      .orderBy("doc_id")

  /** Order-sensitive document fingerprint: position-weighted rolling hash
    * over tokens, mod 2^31-1. */
  val textFingerprint: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"),
        expr("""aggregate(
                  zip_with(ws, sequence(1, size(ws)),
                    (t, i) -> (length(t)*31 + ascii(substr(t,1,1))*7
                               + ascii(substr(t,length(t),1))) * i),
                  0L, (a, x) -> a + x) % 2147483647""").as("fp"))
      .orderBy("doc_id")

  /** Shared SimHash fragments (dialect-parametrized like VardaSql).
    * Four independent 31-bit token hashes feed four 16-bit bit-vote
    * bands — a 64-bit simhash overall (round-2 widening: the round-1
    * 16-bit key had only 65,536 join buckets, a quadratic per-bucket
    * blow-up at corpus scale; 4×16-bit bands keep the banded-LSH join
    * shape while the full key space is 2^64). */
  private val bandMults = Seq(
    (2654435761L, 16777619L, 31L),
    (2246822519L, 3266489917L, 97L),
    (3266489917L, 668265263L, 193L),
    (668265263L, 2654435761L, 389L))
  // Constants are CAST AS BIGINT: ascii()/length() are INT32 in both
  // engines and an INT32×INT32 product overflows (ANSI Spark throws,
  // DuckDB errors at runtime).
  private def tokenValue(k: Int): String = {
    val (m1, m2, m3) = bandMults(k)
    s"""(length(t) * CAST($m1 AS BIGINT)
        + ascii(substr(t,1,1)) * CAST($m2 AS BIGINT)
        + ascii(substr(t,length(t),1)) * CAST($m3 AS BIGINT)) % 2147483647""".stripMargin
  }
  private def simhashBits(vcol: String, shr: (String, Int) => String): String =
    (0 until 16).map { b =>
      s"(CASE WHEN 2 * SUM(${shr(vcol, b)} & 1) >= COUNT(*) THEN 1 ELSE 0 END) * ${1 << b}"
    }.mkString(" + ")

  /** SimHash near-dup over distinct 3-word shingles: pairs whose 64-bit
    * simhashes differ in at most 3 bits. Candidates come from a banded
    * equi-join — any pair within hamming 3 of each other leaves at least
    * one of the 4 bands untouched (pigeonhole), so the band join plus the
    * exact hamming verify is semantics-identical to the naive all-pairs
    * join the oracle runs, while shuffling only band-bucket collisions. */
  val dedupSimhash: Q = (s, d) => {
    val sh = Llm.shingles(Tables.documents(s, d))
      .select(col("doc_id"), col("shingle").as("t"))
    val withV = (0 until 4).foldLeft(sh)((df, k) =>
      df.withColumn(s"v$k", expr(tokenValue(k))))
    // PACKED bit-vote accumulator (r20, guide §2.3 "narrower aggregate
    // state"): bit positions b and b+8 of each band share one 64-bit
    // word in 32-BIT LANES, so the per-doc vote state is 32 packed sums
    // + count instead of 64 single-bit sums + count. EXACT for any
    // representable input. Shingles overlap (one per word position, and
    // `split(text, " ")` admits empty words), so shingle width does not
    // bound their count: the tight bound is the separator count. A doc's
    // distinct-shingle count c <= spaces - 1 < doc_bytes <= 2^31 - 1 (a
    // Spark string cell's byte length is an Int). Lane 0 stays < 2^31,
    // so it never carries into lane 1 (a carry needs 2^32), and the
    // whole word tops out at (2^31 - 1) * 2^32 + 2^31 - 1 < 2^63 - 1:
    // the LONG sum never wraps. Measured at sf0.1 (OPTIMIZATION_r20.md,
    // OPT-5): the wide form's first run paid ~2.3 s of
    // whole-stage-codegen compilation the packed form avoids (65-slot
    // two-level aggregate vs 33), warm reps ~equal — and the bench pays
    // that compile inside the timed key. The majority decision per bit
    // moves to a post-aggregate projection over the doc-sized frame (the
    // CASE arithmetic is unchanged, so bands are bit-identical to the
    // wide form's — the oracle runs the wide SQL).
    val packedAggs = (0 until 4).flatMap(k => (0 until 8).map(b =>
      sum(expr(s"(shiftright(v$k, $b) & 1) + " +
        s"((shiftright(v$k, ${b + 8}) & 1) * ${1L << 32}L)")).as(s"q${k}_$b")))
    val nAgg = count(lit(1)).as("n")
    def bandCol(k: Int): org.apache.spark.sql.Column = expr(
      (0 until 8).flatMap { b =>
        val lo = s"(q${k}_$b & 4294967295)"
        val hi = s"shiftright(q${k}_$b, 32)"
        Seq(s"(CASE WHEN 2 * $lo >= n THEN 1 ELSE 0 END) * ${1 << b}",
          s"(CASE WHEN 2 * $hi >= n THEN 1 ELSE 0 END) * ${1 << (b + 8)}")
      }.mkString(" + ")).as(s"b$k")
    // One row per doc — persist so the self-join's two sides read the
    // materialized table instead of re-running the shingle explode + agg
    // (at 100 TB the signature table is the persisted asset; the corpus
    // is scanned once).
    val simh = withV.groupBy("doc_id")
      .agg(packedAggs.head, packedAggs.tail :+ nAgg: _*)
      .select(col("doc_id") +: (0 until 4).map(bandCol): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Band rows carry all four bands, so the candidate equi-join already
    // has both sides' full simhash — no join-back needed.
    val bands = simh.select(col("doc_id") +: (0 until 4).map(k => col(s"b$k")) :+
      explode(array((0 until 4).map(k =>
        struct(lit(k).as("band_id"), col(s"b$k").as("bv"))): _*)).as("e"): _*)
    val hamming = (0 until 4).map(k =>
      bit_count(col(s"a.b$k").bitwiseXOR(col(s"b.b$k")))).reduce(_ + _)
    bands.as("a").join(bands.as("b"),
        col("a.e.band_id") === col("b.e.band_id") && col("a.e.bv") === col("b.e.bv")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        hamming.cast(LongType).as("hamming"))
      .distinct() // a pair may collide in several bands — count it once
      .filter(col("hamming") <= 3)
      .orderBy("d1", "d2")
  }

  /** Embedding-cosine near-dup: vector pairs with cosine >= 0.5 after
    * DECIMAL(18,6) rounding (integer-safe compare on both engines).
    * The kernel pre-filter at 0.49999 is a pure transport optimization:
    * any double that rounds to >= 0.500000 at 6 dp exceeds 0.4999995, so
    * the DECIMAL compare below still decides every boundary case while
    * the grid ships only candidate pairs, not all O(n²). */
  val dedupNearEmbedding: Q = (s, d) =>
    Llm.allPairsCosine(s, Tables.embeddings(s, d), minCos = 0.49999)
      .select(col("id1").as("d1"), col("id2").as("d2"),
        col("cos").cast(DecimalType(18, 6)).as("cos_d"))
      .filter(col("cos_d") >= lit(BigDecimal("0.500000")).cast(DecimalType(18, 6)))
      .select("d1", "d2")
      .orderBy("d1", "d2")

  /** n-ADAPTIVE banded sign-LSH shape (round 16, closing the verdict's
    * fixed-hyperparameter caveat): derive (bits, bands) from the corpus
    * size at fit time instead of compile-time constants.
    *
    *  - `bits` per band grows with log2(n / occupancy): 2^bits buckets
    *    per band hold EXPECTED PER-BUCKET OCCUPANCY ~constant as the
    *    corpus grows, so candidate volume stays ~n · occupancy · bands
    *    instead of n²/2^bits — the property that makes the banded join
    *    sublinear-per-row at any scale.
    *  - `bands` comes from the recall contract: a true pair at the
    *    design cosine agrees per bit with probability `pBit`
    *    (= 1 − θ/π), matches a band with pBit^bits, and survives the OR
    *    over bands with 1 − (1 − pBit^bits)^bands; bands is the smallest
    *    count pushing the all-bands-miss probability below `missTarget`.
    *    Wider bands (more bits) are more selective, so bands grows to
    *    compensate — asymptotically bands ∝ (n/occupancy)^(log2(1/pBit)),
    *    e.g. n^0.22 at cosine 0.9: signature cost grows gently and
    *    stays per-row (zero shuffles), which is the right side of the
    *    trade against a quadratically exploding candidate join.
    *  - `maxBands` caps the signature budget; past it the miss bound
    *    degrades gracefully (documented at the call sites).
    *
    * At the fixtures' smallest scale the formula reproduces the old
    * constants exactly (n = 500, cos 0.9, miss 2e-5 → 8 bits × 32
    * bands), so this is a strict generalization. */
  /** MULTI-PROBE shape (round 18 — raising [[graft.ops.Llm.simAnnLsh]]'s
    * recall at a held candidate budget): the query side probes, per
    * band, its own bucket PLUS every bucket at Hamming distance 1
    * (`bits` flipped variants), so a true pair hits a band when their
    * signatures agree on all bits OR differ in exactly one —
    *
    *   pBand = pBit^bits · (1 + bits · (1 − pBit) / pBit)
    *
    * — the classic multi-probe LSH trade: each band does the recall
    * work of ~(1 + bits·(1−pBit)/pBit) OR-ed bands for ONE signature
    * row per item. To hold candidates/query at the single-probe
    * budget, `bits` grows by ~log2(1 + bits): per-band probed buckets
    * multiply by (1 + bits), so 2^bits must absorb that factor for
    * expected occupancy·bands candidates to stay put (one fixed-point
    * step below — the bits → probes dependency converges immediately
    * because probes enters the log). Same n-scaling as [[lshShape]]:
    * bucket count tracks n, so candidates/query stays ~flat per
    * decade; what changes is the all-bands miss bound at the design
    * cosine — e.g. n = 5000: single-probe (10 bits × 64 bands) misses
    * a cosine-0.5 pair with p ≈ 0.33, multi-probe (13 bits × 59
    * bands × 14 probes) with p ≈ 0.10, at ~1.6× the candidate
    * volume. */
  private[graft] def lshShapeMultiProbe(n: Long, cosTarget: Double,
      missTarget: Double, minBits: Int, occupancy: Int,
      maxBands: Int): (Int, Int) = {
    val pBit = 1.0 - math.acos(cosTarget) / math.Pi
    def bitsFor(probes: Int): Int = math.min(30, math.max(minBits,
      math.ceil(math.log(math.max(1.0,
        n.toDouble * probes / occupancy)) / math.log(2)).toInt))
    val bits = bitsFor(1 + bitsFor(1))
    val pBand = math.min(0.999999,
      math.pow(pBit, bits) * (1.0 + bits * (1.0 - pBit) / pBit))
    val bands = math.min(maxBands, math.max(1,
      math.ceil(math.log(missTarget) / math.log1p(-pBand)).toInt))
    (bits, bands)
  }

  private[graft] def lshShape(n: Long, cosTarget: Double, missTarget: Double,
      minBits: Int, occupancy: Int, maxBands: Int): (Int, Int) = {
    val pBit = 1.0 - math.acos(cosTarget) / math.Pi
    // 30-bit ceiling: buckets pack into a signed Int in the codegen'd
    // signature (and past 2^30 buckets per band, occupancy is no longer
    // the binding constraint anyway)
    val bits = math.min(30, math.max(minBits, math.ceil(
      math.log(math.max(1.0, n.toDouble / occupancy)) / math.log(2)).toInt))
    val pBand = math.pow(pBit, bits)
    val bands = math.min(maxBands, math.max(1,
      math.ceil(math.log(missTarget) / math.log1p(-pBand)).toInt))
    (bits, bands)
  }

  /** Bucketed embedding near-dup — the 100 TB default path
    * ([[dedupNearEmbedding]] stays as the exact all-pairs ground truth):
    * near-IDENTICAL vectors (cosine >= 0.9 after DECIMAL(18,6) rounding)
    * via banded sign-random-projection LSH, every candidate verified with
    * the exact cosine, so precision is structural and only a candidate
    * miss can differ — bounded below ~0.4% per true pair (see the math in
    * [[nearIdenticalLsh]]).
    *
    * Why 0.9, not dedup_near_embedding's 0.5: this corpus's >= 0.5 pairs
    * sit at the extreme tail of an isotropic background with ZERO margin
    * (measured at sf0.1: max below-threshold cosine 0.4984 vs min above
    * 0.5011). At θ ≈ 60° a sign-LSH bit agrees for a true pair with
    * p = 2/3 vs 1/2 for background — no (bits, bands) choice is
    * simultaneously complete and selective there, so ANY sub-quadratic
    * candidate generator at 0.5 on this data is a fiction (the round-3
    * first cut, MLlib BRP-LSH at the 0.5-equivalent radius, degenerated
    * to a near-full self-join: unit vectors project into ~0.125-σ
    * buckets). Real dedup pipelines bucket at near-identity, where
    * banding genuinely prunes; the 0.5-threshold semantics remain served
    * exactly by the tiled kernel. ApproxSpec asserts recall 1.0 against
    * the exact kernel on planted near-identical pairs.
    *
    * The DECLARED fixture plants deterministic near-identical partners
    * (round 16 — the raw jittered corpus holds no >= 0.9 pair, so the
    * key used to certify an empty frame): every vec_id ≡ 0 (mod 97)
    * gains a clone at id + 10^9 with a ±0.001 per-component hash-keyed
    * jitter (cosine ≈ 0.9999), the same in-query derivation pattern as
    * [[textPiiRedact]]'s PII injection. The key's output IS those
    * (original, clone) pairs — non-vacuous at every gate scale, and
    * ApproxSpec pins it equal to the exact kernel over the same planted
    * frame. */
  val dedupNearEmbeddingLsh: Q = (s, d) => {
    val planted = plantNearPairs(Tables.embeddings(s, d))
    // the fit-step count is a standing build per corpus, like the
    // sibling ANN keys' (an unmemoized count was a full extra corpus scan
    // on every timed invocation)
    val n = graft.util.Standing.get(s.sparkContext, "near_lsh_n", d)(planted.count())
    nearIdenticalLsh(planted, nHint = Some(n)).orderBy("d1", "d2")
  }

  /** Clone ids sit PlantOffset above their original (disjoint from any
    * corpus id at every measured scale — GenScale strides by 10^7). */
  private[graft] val PlantStride = 97L
  private[graft] val PlantOffset = 1000000000L

  /** Deterministic near-identical planting for the declared LSH key:
    * one clone per vec_id ≡ 0 (mod [[PlantStride]]), jittered ±0.001
    * per component (hash-keyed — a pure function of (clone id, j), no
    * RNG), so each (original, clone) pair lands far above the 0.9
    * threshold while clones of DIFFERENT originals stay as dissimilar
    * as the raw corpus. */
  private[graft] def plantNearPairs(e: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    e.select("vec_id", "embedding").unionByName(
      e.filter(col("vec_id") % PlantStride === 0)
        .select((col("vec_id") + PlantOffset).as("vec_id"),
          expr("""transform(embedding, (x, j) ->
               cast(x + (pmod(hash(vec_id, j), 200) - 100) / 100000.0
                 as float))""").as("embedding")))

  /** Candidate generation + exact verify for cosine >= 0.9 over
    * (vec_id, embedding):
    *
    *  - deterministic Rademacher hyperplanes, all band buckets computed
    *    in ONE codegen'd expression per row
    *    ([[graft.functions.LshBandBuckets]]): no model to fit, persist or
    *    broadcast, and the signature stage adds zero shuffles — the first
    *    exchange in the whole operator is the banded candidate join.
    *  - the (bits, bands) SHAPE is n-ADAPTIVE ([[lshShape]], round 16):
    *    bits = log2(n/4) holds expected per-bucket occupancy ~4 as the
    *    corpus grows, and bands rises to keep the all-bands-miss bound
    *    at 2e-5 for a true pair at cos 0.9 (p_bit = 1 − θ/π ≈ 0.857 →
    *    bands ∝ n^0.22). At the 500-row fixture this IS the old
    *    32 × 8 shape; at 10× and 100× the candidate join stays
    *    occupancy-bounded instead of growing n²/2^bits — the fix for
    *    the measured 7.9×/decade wall-clock (RATIO_SF1 round 15).
    *  - Exact cosine via the codegen'd float_dot on the joined vectors,
    *    DECIMAL-rounded threshold compare. */
  private[graft] def nearIdenticalLsh(e: org.apache.spark.sql.DataFrame,
      nHint: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    graft.functions.GraftFunctions.registerAll(e.sparkSession)
    // the fit step: ONE count sizes the shape (cheap against the banded
    // join it right-sizes, and memoizable by the caller via nHint; the
    // 1024-band cap bounds the signature budget — past ~10^13 rows the
    // miss bound degrades gracefully rather than the cost exploding)
    val (bits, bands) = lshShape(nHint.getOrElse(e.count()),
      cosTarget = 0.9,
      missTarget = 2e-5, minBits = 8, occupancy = 4, maxBands = 1024)
    // no persist: the codegen'd signature pass is cheap enough that the
    // self-join's two evaluations beat leaking one cache entry per call
    // (deterministic expression ⇒ both evaluations agree exactly)
    val buckets = e.select(col("vec_id"),
      posexplode(expr(s"lsh_band_buckets(embedding, $bands, $bits)"))
        .as(Seq("band_id", "bucket")))
    val cands = buckets.as("a").join(buckets.as("b"),
        col("a.band_id") === col("b.band_id")
          && col("a.bucket") === col("b.bucket")
          && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("d1"), col("b.vec_id").as("d2"))
      .distinct()
    val cosd = (expr("float_dot(e1, e2)") /
      (sqrt(expr("float_dot(e1, e1)")) * sqrt(expr("float_dot(e2, e2)"))))
      .cast(DecimalType(18, 6))
    cands
      .join(e.select(col("vec_id").as("d1"), col("embedding").as("e1")), "d1")
      .join(e.select(col("vec_id").as("d2"), col("embedding").as("e2")), "d2")
      .withColumn("cos_d", cosd)
      .filter(col("cos_d") >= lit(BigDecimal("0.900000")).cast(DecimalType(18, 6)))
      .select("d1", "d2")
  }

  private val EmailRe = "[a-z0-9]+@[a-z0-9]+\\.[a-z]+"
  private val PhoneRe = "[0-9]{3}-[0-9]+"

  /** PII redaction — the scrubbing pass every training-data pipeline runs
    * before text ships: count and replace email- and phone-shaped spans.
    * The corpus fixture carries no PII (verified: zero '@' / digit-dash
    * hits), so the fixture deterministically injects one email per
    * doc_id % 3 == 0 document and one phone per doc_id % 3 == 1 document
    * (same derivation in the oracle — the [D]-fixture pattern). Declared
    * output digests the redacted text (md5 + length) rather than shipping
    * it; per-row regex work only — embarrassingly parallel, no shuffle
    * before the declared ORDER BY. Regex patterns stay inside the
    * character-class + quantifier subset where Java and RE2 dialects
    * agree (SURVEY §7 known-hard #4). */
  val textPiiRedact: Q = (s, d) => {
    val pii = when(col("doc_id") % 3 === 0,
        concat(col("text"), lit(" reach user"), col("doc_id").cast(StringType),
          lit("@mail"), (col("doc_id") % 7).cast(StringType), lit(".com soon")))
      .when(col("doc_id") % 3 === 1,
        concat(col("text"), lit(" call 555-0"),
          (col("doc_id") % 900 + 100).cast(StringType), lit(" now")))
      .otherwise(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"), pii.as("t"))
      .withColumn("red",
        regexp_replace(regexp_replace(col("t"), EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("t"), lit(EmailRe), lit(0)))
          .cast(LongType).as("n_emails"),
        size(regexp_extract_all(col("t"), lit(PhoneRe), lit(0)))
          .cast(LongType).as("n_phones"),
        md5(col("red")).as("redacted_md5"),
        length(col("red")).cast(LongType).as("n_chars_red"))
      .orderBy("doc_id")
  }

  /** Unigram-LM quality score — the CCNet-style perplexity filter: rank
    * documents by average token surprisal under the corpus's own unigram
    * model. nll(term) = ln(T / count(term)) is quantized per DISTINCT
    * term to an e6 integer (the [[Llm.textTfidf]] recipe — a float ulp in
    * ln() cannot move a quantized value, and everything after the
    * quantization is exact integer arithmetic summed identically in both
    * engines). The vocabulary table is what shuffles (terms, not
    * documents); the per-doc sum rides the token explode's natural
    * doc_id grouping. */
  val textPerplexity: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val cnt = toks.groupBy("term").agg(count(lit(1)).as("c"))
    val tot = cnt.agg(sum(col("c")).as("T"))
    val nll = cnt.crossJoin(broadcast(tot))
      .select(col("term"),
        round(log(col("T").cast(DoubleType) / col("c")) * 1000000)
          .cast(LongType).as("nll_e6"))
    toks.join(nll, "term")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("nll_e6")).as("sum_nll"))
      .select(col("doc_id"), col("n_tokens"),
        expr("sum_nll div n_tokens").as("avg_nll_e6"))
      .orderBy("doc_id")
  }

  /** BPE merge-step pair counting — the inner loop of byte-pair-encoding
    * tokenizer training, whose corpus-scale cost IS this distributed
    * count: for every token, every adjacent character pair; the top-20
    * pairs by global count are the merge candidates. Two generator
    * explodes feed one hash aggregate (partial map-side combine makes
    * the shuffle carry pair counts, not pair occurrences); the top-k is
    * a TakeOrdered over the O(|pair vocabulary|) aggregate, never a
    * global window over data rows. */
  val textBpePairs: Q = (s, d) =>
    Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("t"))
      .select(explode(expr(
        """CASE WHEN length(t) < 2 THEN array()
           ELSE transform(sequence(1, length(t) - 1), i -> substr(t, i, 2))
           END""")).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(20)

  /** Corpus novelty signal: the ppm fraction of a document's distinct
    * 3-word shingles that appear in NO other document — the diversity/
    * boilerplate measure data curation ranks on (low novelty = template
    * text). Probes the SAME standing inverted index the dedup family
    * maintains ([[Llm.jaccardIndexShared]]): singleton posting lists ARE
    * the novel shingles, so the signal costs one filter + one count over
    * the index, no extra corpus scan. Docs with <3 tokens have no
    * shingles and are excluded (both engines). */
  val textNovelty: Q = (s, d) => {
    val (sizes, postings) = Llm.jaccardIndexShared(s, d)
    val novel = postings.filter(size(col("docs")) === 1)
      .select(element_at(col("docs"), 1).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("novel"))
    sizes.join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("s").as("n_shingles"),
        expr("cast((coalesce(novel, 0L) * 1000000) div s as bigint)")
          .as("novel_ppm"))
      .orderBy("doc_id")
  }

  val queries: Map[String, Q] = Map(
    "text_langid" -> textLangid,
    "text_quality" -> textQuality,
    "text_token_count" -> textTokenCount,
    "text_fingerprint" -> textFingerprint,
    "text_novelty" -> textNovelty,
    "text_pii_redact" -> textPiiRedact,
    "text_perplexity" -> textPerplexity,
    "text_bpe_pairs" -> textBpePairs,
    "dedup_simhash" -> dedupSimhash,
    "dedup_near_embedding" -> dedupNearEmbedding,
    "dedup_near_embedding_lsh" -> dedupNearEmbeddingLsh)

  private val shingleSqlDuck =
    """SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(ws) - 1),
           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS t
       FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) w"""

  val oracle: Map[String, String] = Map(
    "text_pii_redact" ->
      s"""WITH p AS (SELECT doc_id,
              CASE WHEN doc_id % 3 = 0 THEN
                     text || ' reach user' || CAST(doc_id AS VARCHAR)
                          || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.com soon'
                   WHEN doc_id % 3 = 1 THEN
                     text || ' call 555-0'
                          || CAST(doc_id % 900 + 100 AS VARCHAR) || ' now'
                   ELSE text END AS t
            FROM documents),
            r AS (SELECT doc_id, t,
              regexp_replace(regexp_replace(t, '$EmailRe', '<EMAIL>', 'g'),
                '$PhoneRe', '<PHONE>', 'g') AS red
            FROM p)
         SELECT doc_id,
           CAST(len(regexp_extract_all(t, '$EmailRe')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t, '$PhoneRe')) AS BIGINT) AS n_phones,
           md5(red) AS redacted_md5,
           CAST(length(red) AS BIGINT) AS n_chars_red
         FROM r ORDER BY doc_id""",
    "text_perplexity" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                      FROM documents),
            c AS (SELECT term, count(*) AS c FROM toks GROUP BY 1),
            t AS (SELECT sum(c) AS T FROM c),
            nll AS (SELECT term,
                      CAST(round(ln(CAST(T AS DOUBLE) / c) * 1000000) AS BIGINT)
                        AS nll_e6
                    FROM c, t)
         SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(nll_e6) // count(*) AS BIGINT) AS avg_nll_e6
         FROM toks JOIN nll USING (term)
         GROUP BY doc_id ORDER BY doc_id""",
    "text_bpe_pairs" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS t
                      FROM documents),
            pairs AS (SELECT unnest(list_transform(range(1, length(t)),
                        i -> substr(t, i, 2))) AS pair
                      FROM toks)
         SELECT pair, count(*) AS cnt FROM pairs
         GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20""",
    "text_novelty" ->
      """WITH sh AS (SELECT DISTINCT doc_id,
                       unnest(list_transform(range(1, len(ws) - 1),
                         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
                     FROM (SELECT doc_id, string_split(text, ' ') AS ws
                           FROM documents) w),
            sz AS (SELECT doc_id, count(*) AS s FROM sh GROUP BY 1),
            df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
            nv AS (SELECT sh.doc_id, count(*) AS novel
                   FROM sh JOIN df USING (shingle)
                   WHERE df = 1 GROUP BY 1)
         SELECT sz.doc_id AS doc_id, sz.s AS n_shingles,
                CAST((COALESCE(novel, 0) * 1000000) // s AS BIGINT) AS novel_ppm
         FROM sz LEFT JOIN nv ON sz.doc_id = nv.doc_id
         ORDER BY sz.doc_id""",
    "text_langid" ->
      """WITH toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term FROM documents),
            cnts AS (SELECT lang, term, count(*) AS cnt FROM toks GROUP BY 1, 2),
            prof AS (SELECT lang AS prof_lang, term FROM (
                       SELECT lang, term,
                         row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, term) AS rn
                       FROM cnts) t WHERE rn <= 20),
            dt AS (SELECT DISTINCT doc_id, term FROM toks),
            scores AS (SELECT dt.doc_id, prof.prof_lang, count(*) AS score
                       FROM dt JOIN prof ON dt.term = prof.term GROUP BY 1, 2),
            pred AS (SELECT doc_id, prof_lang, score,
                       row_number() OVER (PARTITION BY doc_id
                         ORDER BY score DESC, prof_lang) AS rn
                     FROM scores)
         SELECT doc_id, prof_lang AS pred_lang, score FROM pred WHERE rn = 1
         ORDER BY doc_id""",
    "text_quality" ->
      s"""SELECT doc_id,
            CAST(len(ws) AS BIGINT) AS n_tokens,
            CAST((1000000 * list_sum(list_transform(ws, t -> length(t)))) // len(ws) AS BIGINT) AS avg_len_ppm,
            CAST((1000000 * len(list_filter(ws, t -> t IN $stopList))) // len(ws) AS BIGINT) AS stopword_ppm,
            CAST((1000000 * len(list_distinct(ws))) // len(ws) AS BIGINT) AS distinct_ppm
          FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) t
          ORDER BY doc_id""",
    "text_token_count" ->
      """SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS re_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]{1,4}|[0-9]')) AS BIGINT) AS bpe_tokens
         FROM documents ORDER BY doc_id""",
    "text_fingerprint" ->
      """SELECT doc_id,
           CAST(list_sum(list_transform(range(1, len(ws) + 1),
             i -> (length(ws[i])*31 + ascii(substr(ws[i],1,1))*7
                   + ascii(substr(ws[i],length(ws[i]),1))) * i)) % 2147483647 AS BIGINT) AS fp
         FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) t
         ORDER BY doc_id""",
    "dedup_simhash" -> {
      val vCols = (0 until 4).map(k => s"${tokenValue(k)} AS v$k").mkString(", ")
      val bCols = (0 until 4)
        .map(k => s"${simhashBits(s"v$k", (x, n) => s"($x >> $n)")} AS b$k")
        .mkString(", ")
      val ham = (0 until 4).map(k => s"bit_count(xor(a.b$k, b.b$k))").mkString(" + ")
      s"""WITH sh AS ($shingleSqlDuck),
            v AS (SELECT doc_id, $vCols FROM sh),
            simh AS (SELECT doc_id, $bCols FROM v GROUP BY doc_id)
          SELECT a.doc_id AS d1, b.doc_id AS d2, CAST($ham AS BIGINT) AS hamming
          FROM simh a JOIN simh b ON a.doc_id < b.doc_id
          WHERE $ham <= 3
          ORDER BY d1, d2"""
    },
    "dedup_near_embedding" ->
      """SELECT a.vec_id AS d1, b.vec_id AS d2
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE CAST(list_cosine_similarity(a.embedding, b.embedding) AS DECIMAL(18,6))
               >= CAST(0.5 AS DECIMAL(18,6))
         ORDER BY d1, d2""")
}
