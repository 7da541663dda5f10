package graft.varda

import graft.{Q, Tables}
import graft.util.Ckpt
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** §2.11 varda-domain composite operators plus the [D] rows of
  * §2.1/2.3/2.4 (VCF/BED ingest, interval join, frequency ratio).
  *
  * The fixtures come from the normative SQL in [[VardaSql]] run through
  * `spark.sql` over the registered table views, so Spark and the DuckDB
  * oracle compute byte-identical inputs (FIXTURES.md §2).
  *
  * Scale design: every point-in-interval join here is an *equi*-join on a
  * derived bucket/bin column with a residual range filter — never a
  * quadratic theta join. That is the reference's own UCSC-binning trick
  * (varda/region_binning.py [U]) re-expressed as Spark shuffles: both
  * sides hash-partition on (chromosome, bin), so the join scales linearly
  * with data and executors.
  */
object VardaOps {
  import VardaSql._

  private def fixture(s: SparkSession, d: String, sql: String): DataFrame = {
    Tables.registerViews(s, d)
    s.sql(sql)
  }
  def obs(s: SparkSession, d: String): DataFrame = fixture(s, d, observations)
  def cov(s: SparkSession, d: String): DataFrame = fixture(s, d, coverage)
  def smp(s: SparkSession, d: String): DataFrame = fixture(s, d, VardaSql.samples)
  def alleles(s: SparkSession, d: String): DataFrame = fixture(s, d, VardaSql.alleles)

  /** Generic power-of-two bucketed containment join: regions explode
    * into EVERY 2^11 cell they touch (`sequence(begin>>11, end>>11)`),
    * so the join is equi on (chromosome, bucket) + residual BETWEEN and
    * correct for ANY interval length — a region's interior cells are
    * enumerated, not just its endpoints (the round-8 endpoint-only form
    * silently dropped points in strictly interior cells of ≥3-cell
    * regions). Fan-out is ceil(length / 2048) rows per region: identical
    * cost for the bounded-length operators that use this, linear-in-
    * length for long intervals. When lengths are unbounded AND per-region
    * fan-out must stay O(1), the 5-level UCSC bin hierarchy (the plan
    * [[graft.plans.RewriteIntervalJoin]] emits by default) is the right
    * plan instead. */
  private[graft] def bucketedContainment(points: DataFrame, regions: DataFrame): DataFrame = {
    val pB = points.withColumn("bkt", shiftright(col("position"), 11))
    val rB = regions.withColumn("bkt", explode(sequence(
      shiftright(col("begin_pos"), 11), shiftright(col("end_pos"), 11))))
    pB.join(rB, Seq("chromosome", "bkt"))
      .filter(col("position") >= col("begin_pos") && col("position") <= col("end_pos"))
      .drop("bkt")
  }

  /** Per-chromosome ploidy as a Column, built from
    * [[FreqStore.HaploidChromosomes]] (mirrors [[VardaSql.ploidyOf]]). */
  private[graft] val ploidy =
    when(col("chromosome").isin(FreqStore.HaploidChromosomes: _*), 1).otherwise(2)

  /** Shared frequency computation (varda/tasks.py frequency calc [U]):
    * numerator = Σ support per variant; denominator = Σ over covering
    * samples of pool_size × ploidy(chromosome), where a sample covers a
    * position if one of its regions contains it (counted once regardless
    * of overlapping regions) and a sample WITHOUT a coverage profile
    * covers everything (SURVEY.md §1 item 3). The coverage-less sample
    * set is dimension-sized, so its contribution is a broadcast cross
    * join — no extra shuffle at 100 TB. ppm = floor(numer * 1e6 / denom)
    * keeps the output integer-exact on both engines. `sampleFilter`
    * restricts observations, coverage and the sample universe alike
    * (varda_sample_expr). */
  private def frequency(s: SparkSession, d: String, withZyg: Boolean,
      sampleFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    def filtered(df: DataFrame) = sampleFilter.map(df.filter).getOrElse(df)
    frequencyFrom(filtered(obs(s, d)), filtered(cov(s, d)),
      filtered(smp(s, d)), withZyg)
  }

  /** The frequency computation over explicit inputs — the testable core
    * (FrequencySemanticsSpec drives it with crafted rows). */
  private[graft] def frequencyFrom(obsDf: DataFrame, covDf: DataFrame,
      smpDf: DataFrame, withZyg: Boolean): DataFrame = {
    val baseAgg = sum(col("support")).cast(LongType).as("numer")
    val zygAggs = if (withZyg) Seq(
      sum(when(col("zygosity") === "heterozygous", col("support")).otherwise(0))
        .cast(LongType).as("numer_het"),
      sum(when(col("zygosity") === "homozygous", col("support")).otherwise(0))
        .cast(LongType).as("numer_hom"))
    else Nil
    val numer = obsDf.groupBy("chromosome", "position", "reference", "observed")
      .agg(baseAgg, zygAggs: _*)
    val pts = obsDf.select("chromosome", "position").distinct()
    // denominator = covered mass (pair-free endpoint sweep, round-11 —
    // the [[denomFor]] containment join densifies quadratically on the
    // fixture at sf1 and stalls the one-shot there) + the broadcast
    // coverage-less pool. A point row goes NULL (not 0) exactly when
    // it has no covering sample AND no coverage-less samples exist —
    // the same rows [[denomFor]]'s join form produced.
    val uncovPool = smpDf.filter(!col("has_coverage"))
      .agg(coalesce(sum(col("pool_size")), lit(0)).cast(LongType).as("uncov_pool"))
    def ppm(n: String, out: String) =
      expr(s"cast(($n * 1000000) div nullif(denom, 0) as bigint)").as(out)
    val outCols = Seq(col("chromosome"), col("position"), col("reference"),
      col("observed"), col("numer"), col("denom"), ppm("numer", "freq_ppm")) ++
      (if (withZyg) Seq(ppm("numer_het", "freq_het_ppm"), ppm("numer_hom", "freq_hom_ppm"))
       else Nil)
    // the variant frame itself carries every point, so the sweep's
    // per-point mass joins straight onto it — no intermediate
    // point-keyed denom frame
    numer
      .join(denomCovBySweep(pts, covDf), Seq("chromosome", "position"), "left")
      .crossJoin(broadcast(uncovPool))
      .withColumn("denom",
        when(col("denom_cov").isNotNull || col("uncov_pool") =!= 0,
          coalesce(col("denom_cov"), lit(0L)) + col("uncov_pool") * ploidy)
          .cast(LongType))
      .select(outCols: _*)
  }

  /** Denominator per point, PAIR-ENUMERATED: Σ over covering samples of
    * pool_size × ploidy(chromosome), where covering = a coverage region
    * contains the position (distinct-pair dedup = counted once) or the
    * sample has no coverage profile (dimension-sized broadcast).
    *
    * Since round-11 this is the GROUND-TRUTH form, not a production
    * plan: the pair volume is coverage depth × points (quadratic on a
    * fixture whose position space densifies with sf — it stalled the
    * sf1 one-shot), so [[frequencyFrom]] computes the same sum with
    * the pair-free [[denomCovBySweep]] + broadcast pool instead.
    * RetractSweepSpec pins the two row-identical. */
  private[graft] def denomFor(pts: DataFrame, covDf: DataFrame,
      smpDf: DataFrame): DataFrame = {
    val covSmp = bucketedContainment(pts, covDf)
      .select("chromosome", "position", "sample_id", "pool_size").distinct()
    val uncovSmp = pts.crossJoin(broadcast(
      smpDf.filter(!col("has_coverage"))
        .select("sample_id", "pool_size")))
      .select("chromosome", "position", "sample_id", "pool_size")
    covSmp.unionByName(uncovSmp)
      .groupBy("chromosome", "position")
      .agg(sum(col("pool_size") * ploidy).cast(LongType).as("denom"))
  }

  /** Merge intervals to DISJOINT ones per `keys` — one gaps-and-islands
    * window: running max of the prior ends, a new-segment flag where an
    * interval begins past it + 1, a running segment id, then min/max per
    * segment. Adjacent intervals coalesce ([1,5]+[6,10] → [1,10]).
    * `pool_size` is a per-sample constant denormalized onto coverage rows
    * (the import pipeline's invariant), so `max` per island preserves it.
    * Returns `keys`, `begin`, `end`, `pool_size`. The defaults merge one
    * sample's coverage regions per (sample, chromosome): partition size
    * is one sample's region count, never the corpus. */
  private[graft] def mergeIntervals(covDf: DataFrame,
      keys: Seq[String] = Seq("sample_id", "chromosome"),
      begin: String = "begin_pos", end: String = "end_pos"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = Window.partitionBy(keys.map(col): _*).orderBy(begin, end)
    val prev = ord.rowsBetween(Window.unboundedPreceding, -1)
    covDf
      .withColumn("__pmax", max(col(end)).over(prev))
      .withColumn("__new",
        (col("__pmax").isNull || col(begin) > col("__pmax") + 1).cast("int"))
      .withColumn("__seg", sum(col("__new"))
        .over(ord.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(keys.map(col) :+ col("__seg"): _*)
      .agg(min(col(begin)).as(begin), max(col(end)).as(end),
        max(col("pool_size")).as("pool_size"))
      .select((keys :+ begin :+ end :+ "pool_size").map(col): _*)
  }

  /** Per-sample interval SUBTRACTION `after \ before`: the fragments of
    * `after` not covered by `before`, with `pool_size` carried through.
    * Both inputs must be disjoint per (sample, chromosome) (the
    * [[mergeIntervals]] invariant). One event sweep per sample: ±1
    * coverage-indicator deltas for each frame, running sums, and a
    * `lead` to close each emitted fragment — O(intervals log), zero
    * pair rows, partition size = one sample's events. */
  private[graft] def subtractIntervals(after: DataFrame,
      before: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def evs(df: DataFrame, a: Int, b: Int) = df
      .select(col("sample_id"), col("chromosome"),
        col("begin_pos").as("coord"), lit(a.toLong).as("dA"),
        lit(b.toLong).as("dB"), col("pool_size"))
      .unionByName(df.select(col("sample_id"), col("chromosome"),
        (col("end_pos") + 1).as("coord"), lit(-a.toLong).as("dA"),
        lit(-b.toLong).as("dB"), col("pool_size")))
    val w = Window.partitionBy("sample_id", "chromosome").orderBy("coord")
    val run = w.rowsBetween(Window.unboundedPreceding, 0)
    evs(after, 1, 0).unionByName(evs(before, 0, 1))
      .groupBy("sample_id", "chromosome", "coord")
      .agg(sum("dA").as("dA"), sum("dB").as("dB"),
        max("pool_size").as("pool_size"))
      .withColumn("cA", sum(col("dA")).over(run))
      .withColumn("cB", sum(col("dB")).over(run))
      .withColumn("__next", lead(col("coord"), 1).over(w))
      .filter(col("cA") === 1 && col("cB") === 0 && col("__next").isNotNull)
      .select(col("sample_id"), col("chromosome"),
        col("coord").as("begin_pos"), (col("__next") - 1).as("end_pos"),
        col("pool_size"))
  }

  /** Per-point covered mass over PRE-MERGED intervals: the one-predicate
    * form of [[sweepMassMergedMulti]] (every sample counts), keeping only
    * points with non-zero covered mass as (chromosome, position,
    * denom_cov). The coverage-less pool is the caller's separate broadcast
    * scalar (the [[serveFrom]] shape). `standalone` picks the checkpoint
    * regime ([[sweepMassMergedMulti]]). */
  private[graft] def sweepMassMerged(pts: DataFrame,
      merged: DataFrame, standalone: Boolean = true): DataFrame =
    sweepMassMergedMulti(pts, merged, Seq("cov" -> lit(true)), standalone)
      .filter(col("mass_cov") =!= 0)
      .select(col("chromosome"), col("position"),
        col("mass_cov").as("denom_cov"))

  /** Per-point COVERED denominator mass, PAIR-FREE (round-11): Σ over
    * covering samples of pool_size × ploidy, each sample counted once
    * however many of its regions overlap the point — [[mergeIntervals]]
    * then [[sweepMassMerged]]. O(points + regions) at any density, vs
    * the [[denomFor]] containment join whose pair volume grows with
    * coverage depth × points (13.5× at the sf1 decade on the densifying
    * fixture). RetractSweepSpec pins row-identity with [[denomFor]]'s
    * covered part on crafted overlaps and on the fixture. */
  private[graft] def denomCovBySweep(pts: DataFrame,
      covDf: DataFrame): DataFrame =
    sweepMassMerged(pts.dropDuplicates("chromosome", "position"),
      mergeIntervals(covDf))

  /** N per-expression covered masses from ONE endpoint sweep (r20),
    * riding [[GlobalRank.withGroupedRunningSums]]: an interval-STABBING
    * query answered by a grouped running sum over ±pool endpoint deltas,
    * never a (point × covering-sample) pair row. `merged` must be
    * per-sample DISJOINT intervals (the [[mergeIntervals]] invariant —
    * what makes "each covering sample counted once per expression"
    * structural); each `preds` entry (name, sample predicate) yields a
    * `mass_<name>` column = Σ over covering samples passing the
    * predicate of pool_size × ploidy. `pts` must be duplicate-free.
    * Deltas sort before probes at equal coordinates (kind 0 < 1), so a
    * region beginning AT the point counts and one ending just before does
    * not — the inclusive-[begin,end] boundary semantics. Returns ONE row
    * per probe point (masses 0, never null, when nothing covers it).
    *
    * This replaced the multi-annotate containment join + pair distinct:
    * that plan's (point × covering sample) pair volume densifies
    * quadratically — measured at the sf1 decade it put sink_vcf_multi at
    * 148.7 s (c32) vs 6.2 s for the sweep. The sweep is
    * O(points + regions) at any density with ONE pass for all
    * expressions.
    *
    * `standalone` selects between two CHECKPOINT REGIMES (they are not
    * an on/off pair): `true` (one-shot queries — the sweep is the plan's
    * spine) checkpoints the change-point-sized EVENT frame `ev`, so the
    * chunked running sum's four subtree references (local window, its
    * chunk bounds, the offsets aggregate, ITS bounds) share one
    * materialization instead of re-running the delta aggregate and the
    * probe-point distinct four times (r19 measured: 6 events.parquet
    * scans per frequency query, 23 exchanges); the merged intervals then
    * evaluate only inside that one job. `false` (the sweep rides inside a
    * larger composition of sweeps — fold/retract paths) leaves `ev` live,
    * where the repeated subtrees collapse via ReusedExchange and a
    * stacked checkpoint only serializes the job chain (r19:
    * varda_sample_retract 1.9× slower), and instead pins the narrow
    * MERGED-interval frame those plans re-evaluate per subtree. */
  private[graft] def sweepMassMergedMulti(pts: DataFrame, merged: DataFrame,
      preds: Seq[(String, org.apache.spark.sql.Column)],
      standalone: Boolean = true): DataFrame = {
    val m = if (standalone) merged else Ckpt.narrow(merged)
    val dpBegin = preds.map { case (n, p) =>
      when(p, col("pool_size")).otherwise(lit(0)).cast(LongType).as(s"dp_$n") }
    val dpEnd = preds.map { case (n, p) =>
      when(p, -col("pool_size")).otherwise(lit(0)).cast(LongType).as(s"dp_$n") }
    // ±pool deltas COLLAPSED per coordinate before the sweep: on a dense
    // fixture many intervals share endpoints, so one map-side-combinable
    // aggregate shrinks the sweep's input to the distinct coordinates
    val deltas = m
      .select(Seq(col("chromosome"), col("begin_pos").as("coord")) ++ dpBegin: _*)
      .unionByName(m.select(
        Seq(col("chromosome"), (col("end_pos") + 1).as("coord")) ++ dpEnd: _*))
      .groupBy("chromosome", "coord")
      .agg(sum(col(s"dp_${preds.head._1}")).as(s"dp_${preds.head._1}"),
        preds.tail.map { case (n, _) => sum(col(s"dp_$n")).as(s"dp_$n") }: _*)
      .filter(preds.map { case (n, _) => col(s"dp_$n") =!= 0 }.reduce(_ || _))
      .select(Seq(col("chromosome"), col("coord"), lit(0).as("kind")) ++
        preds.map { case (n, _) => col(s"dp_$n") }: _*)
    val evRaw = deltas.unionByName(
      pts.select(Seq(col("chromosome"), col("position").as("coord"),
        lit(1).as("kind")) ++
        preds.map { case (n, _) => lit(0L).as(s"dp_$n") }: _*))
    val ev = if (standalone) Ckpt.narrow(evRaw) else evRaw
    graft.ops.GlobalRank.withGroupedRunningSums(ev, Seq("chromosome"),
        Seq(col("coord"), col("kind")),
        preds.map { case (n, _) => col(s"dp_$n") -> s"__mass_$n" })
      .filter(col("kind") === 1)
      .select(Seq(col("chromosome"), col("coord").as("position")) ++
        preds.map { case (n, _) =>
          (col(s"__mass_$n") * ploidy).cast(LongType).as(s"mass_$n") }: _*)
  }

  private val variantKey = Seq("chromosome", "position", "reference", "observed")

  /** One incremental fold: the batch's per-variant partial sums merged
    * into the running (variant → numer) store via the merge_upsert shape —
    * a key-partitioned full-outer join where matched keys add and
    * unmatched keys insert. Additivity of SUM is what makes frequency
    * maintainable without rescanning history. */
  private[graft] def foldNumer(store: DataFrame, batch: DataFrame): DataFrame =
    // union + one hash aggregate, not a full-outer join: combining two
    // keyed partial-sum sets needs ONE exchange; the join form costs two
    // sorted map sides plus the merge (round-9 stage-count diet)
    store.select(variantKey.map(col) :+ col("numer"): _*)
      .unionByName(batch.select(variantKey.map(col) :+
        col("support").cast(LongType).as("numer"): _*))
      .groupBy(variantKey.head, variantKey.tail: _*)
      .agg(sum(col("numer")).cast(LongType).as("numer"))

  /** The full incrementally-maintained frequency state (round-7; the
    * reference imports COVERAGE incrementally too — varda/tasks.py ::
    * import_coverage [U] — so serving must not rescan the full coverage
    * table). PAIR-FREE since round-11: the old state carried every
    * DISTINCT (point, covering-sample) pair — O(points × coverage
    * depth) rows, 13.5× at the sf1 decade on the densifying fixture —
    * where keeping each sample's regions MERGED makes the same
    * "counted once" guarantee structural and every denominator
    * delta an O(points + regions) endpoint sweep:
    *
    *  - `numer`:    variant → Σ support ([[foldNumer]] merge-upsert),
    *  - `regions`:  the accumulated coverage, kept DISJOINT per
    *                (sample, chromosome) ([[mergeIntervals]] — the
    *                committed [[FreqStore]] keeps the same invariant
    *                per cell); sample_id-keyed at scale,
    *  - `denom`:    point → Σ pool_size × ploidy over covering samples
    *                (the serving denominator, maintained by merge-add
    *                of [[sweepMassMerged]] deltas),
    *  - `uncovPool`: 1-row Σ pool_size of coverage-less samples (they
    *                cover everything; dimension-sized, broadcast). */
  private[graft] case class FreqState(numer: DataFrame, regions: DataFrame,
      denom: DataFrame, uncovPool: DataFrame, pts: DataFrame)

  private[graft] def emptyFreqState(obsDf: DataFrame, covDf: DataFrame): FreqState = {
    val numer = obsDf.filter(lit(false))
      .groupBy(variantKey.head, variantKey.tail: _*)
      .agg(sum(col("support")).cast(LongType).as("numer"))
    val regions = covDf.filter(lit(false))
      .select("sample_id", "chromosome", "begin_pos", "end_pos", "pool_size")
    val denom = regions
      .select(col("chromosome"), col("begin_pos").as("position"), col("pool_size"))
      .groupBy("chromosome", "position")
      .agg(sum(col("pool_size")).cast(LongType).as("denom_cov"))
    val uncov = obsDf.sparkSession.range(1)
      .select(lit(0L).as("uncov_pool"))
    FreqState(numer, regions, denom, uncov,
      obsDf.filter(lit(false)).select("chromosome", "position").distinct())
  }

  /** Fold one import batch (observations + coverage regions + samples)
    * into the running state — every denominator step an endpoint sweep
    * sized to the batch or the point set, never a (point × sample) pair
    * row and no full-history rescan:
    *
    *  - the batch's coverage merges into the per-sample interval store;
    *    only the batch's samples' stored intervals are touched
    *    (sample_id-keyed — a pruned read at scale),
    *  - `fragsNew` = interval subtraction after \ before per sample
    *    ([[subtractIntervals]]): the positions whose covered mass this
    *    batch actually changed. A sample's overlapping regions arriving
    *    in different batches produce NO new fragments — the "counted
    *    once" guarantee, now structural,
    *  - EXISTING points gain sweep mass over `fragsNew` (batch-sized);
    *    NEW points (first seen in this batch) take their full mass from
    *    the merged store in one sweep,
    *  - deltas merge-add into the per-point denominator (union + one
    *    hash aggregate, the [[foldNumer]] shape),
    *  - coverage-less sample pools fold into a 1-row running sum. */
  private[graft] def foldFreqState(st: FreqState, obsB: DataFrame,
      covB: DataFrame, smpB: DataFrame): FreqState = {
    // the point store is maintained as a union of per-batch distinct
    // deltas — at scale this is its own committed table; in-session the
    // shallow union replaces deriving points from st.numer's nested
    // merge chain (same measured cost here — exchange reuse already
    // deduped the derived form — but the store is what an import
    // pipeline would actually maintain)
    val oldPts = st.pts
    val newPts = obsB.select("chromosome", "position").distinct()
      .join(oldPts, Seq("chromosome", "position"), "left_anti")
    val covBn = covB.select("sample_id", "chromosome", "begin_pos",
      "end_pos", "pool_size")
    val bSids = covBn.select("sample_id").distinct()
    val before = st.regions.join(broadcast(bSids), Seq("sample_id"), "left_semi")
    val after = mergeIntervals(before.unionByName(covBn))
    val fragsNew = subtractIntervals(after, before)
    val regions2 = st.regions.join(broadcast(bSids), Seq("sample_id"), "left_anti")
      .select("sample_id", "chromosome", "begin_pos", "end_pos", "pool_size")
      .unionByName(after)
    val denomDelta = sweepMassMerged(oldPts, fragsNew, standalone = false)
      .unionByName(sweepMassMerged(newPts, regions2, standalone = false))
    val denom2 = st.denom.unionByName(denomDelta)
      .groupBy("chromosome", "position")
      .agg(sum(col("denom_cov")).cast(LongType).as("denom_cov"))
    val uncov2 = st.uncovPool.unionByName(
        smpB.filter(!col("has_coverage"))
          .agg(coalesce(sum(col("pool_size")), lit(0)).cast(LongType).as("uncov_pool")))
      .agg(sum(col("uncov_pool")).cast(LongType).as("uncov_pool"))
    FreqState(foldNumer(st.numer, obsB), regions2, denom2, uncov2,
      // newPts is anti-joined against the store, so the union stays
      // duplicate-free without another distinct
      st.pts.unionByName(newPts))
  }

  /** Retract samples from the maintained state — the reference's sample
    * deactivation [U varda/models.py :: Sample.active]: a deactivated
    * sample's contribution must leave served frequencies WITHOUT
    * rebuilding the store from history. Everything in [[FreqState]] is
    * additive, so retraction is the negative fold:
    *
    *  - numerators: [[foldNumer]] with negated support; variants whose
    *    support came only from retracted samples net to zero and drop
    *    (the one-shot over remaining samples never sees them),
    *  - denominators: the retracted samples' MERGED intervals are
    *    exactly their per-point contributions, so the subtraction is
    *    one stabbing sweep over (point set, those intervals)
    *    ([[sweepMassMerged]] — O(points + retracted regions), the
    *    round-11 replacement for aggregating a pair store),
    *  - region store: anti-join the retracted sample ids out, so later
    *    folds can re-import the same sample cleanly (its intervals
    *    return as fresh fragments),
    *  - coverage-less pool: subtract the retracted uncovered samples'
    *    pools from the 1-row running sum.
    *
    * Each step is sized to the retracted samples' rows plus one pass
    * over the point set — never the store's history. `obsR`/`smpR` are
    * the retracted samples' observations and sample rows. */
  private[graft] def retractSample(st: FreqState, obsR: DataFrame,
      smpR: DataFrame): FreqState = {
    val sids = smpR.select("sample_id")
    val numer2 = foldNumer(st.numer, obsR.withColumn("support", -col("support")))
      .filter(col("numer") =!= 0)
    val regionsGone = st.regions.join(broadcast(sids), Seq("sample_id"), "left_semi")
    val denomGone = sweepMassMerged(st.pts, regionsGone,
        standalone = false)
      .select(col("chromosome"), col("position"),
        (-col("denom_cov")).as("denom_cov"))
    val denom2 = st.denom.unionByName(denomGone)
      .groupBy("chromosome", "position")
      .agg(sum(col("denom_cov")).cast(LongType).as("denom_cov"))
      .filter(col("denom_cov") =!= 0)
    val regions2 = st.regions.join(broadcast(sids), Seq("sample_id"), "left_anti")
      .select(st.regions.columns.map(col): _*)
    val uncovGone = smpR.filter(!col("has_coverage"))
      .agg(coalesce(sum(col("pool_size")), lit(0)).cast(LongType).as("gone"))
    val uncov2 = st.uncovPool.crossJoin(broadcast(uncovGone))
      .select((col("uncov_pool") - col("gone")).as("uncov_pool"))
    FreqState(numer2, regions2, denom2, uncov2, st.pts)
  }

  /** Serve ppm frequencies from the maintained state alone — numer store
    * left-joined to the denom store plus the broadcast coverage-less
    * pool; NO containment join and no coverage scan at serve time. */
  private[graft] def serveFreqState(st: FreqState): DataFrame =
    serveFrom(st.numer, st.denom, st.uncovPool)

  /** The serving join over explicit (numer, denom, uncovPool) frames —
    * shared by the in-session [[FreqState]] and the committed
    * [[FreqStore]] (which reads the same three stores from parquet). */
  private[graft] def serveFrom(numer: DataFrame, denom: DataFrame,
      uncovPool: DataFrame): DataFrame =
    numer
      .join(denom, Seq("chromosome", "position"), "left")
      .crossJoin(broadcast(uncovPool))
      .withColumn("denom",
        (coalesce(col("denom_cov"), lit(0L)) + col("uncov_pool") * ploidy)
          .cast(LongType))
      .select(col("chromosome"), col("position"), col("reference"),
        col("observed"), col("numer"), col("denom"),
        expr("cast((numer * 1000000) div nullif(denom, 0) as bigint)")
          .as("freq_ppm"))

  /** Incremental frequency maintenance (round-3 numerators; round-7 adds
    * coverage/denominator folds; round-8 COMMITS — the reference folds
    * each new import into served state continuously, varda/tasks.py
    * [U]): observations AND coverage AND samples replay in three import
    * batches, each committing into the durable bucket-partitioned
    * [[FreqStore]] exactly as the streaming maintenance path does
    * ([[graft.streaming.Ingest.startFreqStateMaintenance]]), and serving
    * reads the committed stores with no containment join at all. The
    * final state after replaying all batches must equal the one-shot
    * computation — the oracle is literally `agg_freq_ratio`'s SQL.
    *
    * Round-7 kept the folds as one lazy in-session plan and documented
    * the committed form as the at-scale design; round-8 BUILDS that
    * form and declares it here, so the query exercises the same code
    * path a 100 TB deployment would run: each fold reads materialized
    * parquet instead of replaying nested state sub-plans, commits
    * rewrite only the hash buckets the batch touches (O(batch), not
    * O(store)), a replayed batch rewrites its own generation
    * idempotently, and the round-7 (point, sample) PAIR STORE is gone
    * entirely — replaced by merged per-cell coverage fragments
    * ([[FreqStore]]), which at scale is the difference between
    * points × samples state and corpus-sized state.
    *
    * Round-9 restructured the commit path (raw-batch manifest, one
    * materialize job, concurrent component writes, union+agg folds,
    * one fused containment join — [[FreqStore]] scaladoc) and measured
    * every variant honestly at sf0.1 local[32]: a single tagged
    * `partitionBy(comp, bkt)` union write job LOST to concurrent
    * per-component writes (~15 s vs ~10.5 s warm — one job serializes
    * driver-side planning/codegen), and the final structure lands at
    * ~10.5 s warm on the round-9 box, parity with round-8's code
    * RE-MEASURED on the same box (~10.7-11.4 s; the round-8 round
    * report's 7 s came from a ~1.5x faster machine) while now also
    * writing the obslog/smpreg retraction state every commit. The
    * remaining wall is ~15 sequential stage-latency levels per commit
    * at ~200 ms each — driver/scheduling bound, not data bound (the
    * same commits at sf0.01 cost the same). SURVEY §6 has the A/B
    * table. Commit-side shuffles are batch-sized, so 8 partitions +
    * AQE off beat the session's 32 + AQE on; the overrides live on a
    * CLONED session (`newSession` shares the SparkContext but not the
    * conf), so a concurrent caller on the shared session never
    * observes them. Serving reads the committed files on the ORIGINAL
    * session — at scale the serve plan should inherit the deployment's
    * parallelism, not the commit loop's. */
  val vardaFreqIncremental: Q = (s, d) => {
    // this key's declared semantics IS the import replay — it rebuilds
    // its own store on every call (never the serving keys' memoized
    // one), so its bench line measures the commit path honestly
    new FreqStore(s, buildFreqStore(s, d,
        graft.ops.Scans.scratch(s, "freq_store_replay", d))).serve()
      .orderBy("chromosome", "position", "reference", "observed")
  }

  /** Replay the fixture into a committed [[FreqStore]] at `dir` in 3
    * import batches; returns `dir`. Commits run on a CLONED session
    * (batch-sized shuffles want 8 partitions + AQE off; `newSession`
    * keeps the overrides invisible to concurrent callers), and the
    * fixture is materialized ONCE and sliced per batch — deriving it is
    * the harness's job, not the store's. */
  private def buildFreqStore(s: SparkSession, d: String, dir: String,
      compactAfter: Option[Long] = None): String = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    val store = new FreqStore(s2, dir, nBuckets = 8)
    // materialize the three fixture checkpoints CONCURRENTLY (round-10:
    // the sequential checkpoints were ~0.4 s of the replay's head; view
    // registration runs once on this thread first so the racing threads
    // only plan + execute). Each count completes its checkpoint on its
    // own thread before prepare's concurrent jobs plan over the frame
    // (the deadlock rule in FreqStore.prepare).
    Tables.registerViews(s2, d)
    val (obsAll, covAll, smpAll) = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val fs = Seq(() => obs(s2, d), () => cov(s2, d), () => smp(s2, d))
        .map(f => Future { val c = Ckpt.narrow(f()); c.count(); c })
      (Await.result(fs(0), Duration.Inf), Await.result(fs(1), Duration.Inf),
        Await.result(fs(2), Duration.Inf))
    }
    // prepare ALL batches up front (round-10): a commit's batch-only
    // half — checkpoint materialization + manifest collect — never
    // reads the store, so the three batches' prepare jobs overlap each
    // other AND the earlier batches' write phases; only the
    // store-dependent commitPrepared halves run in batch order
    val preps = (0 until 3).map(i => store.prepare(i,
      obsAll.filter(col("obs_id") % 3 === i),
      covAll.filter(col("region_id") % 3 === i),
      smpAll.filter(col("sample_id") % 3 === i)))
    // if an early commit fails, the later batches' already-launched
    // prepare jobs must not keep running orphaned against the shared
    // context (they are bounded — a manifest collect + a checkpoint
    // count — so awaiting them quietly is cheap and deterministic),
    // and their prepare-side persisted frames must release: only a
    // COMPLETED commitPrepared unpersists its own, so the aborted
    // batches' caches would otherwise pin the shared CacheManager for
    // the context's lifetime. Double-unpersist on the success path is
    // a no-op. Tables.releaseSession rides the same finally so a
    // failed replay cannot leak the clone's memoized frames either.
    // `compactAfter` snapshots MID-HISTORY (round 17 — the bootstrap
    // key's store shape): the generations at or below it consolidate
    // and their v0 deltas sweep, so a late-attaching change consumer
    // MUST compose bootstrapChanges() + the tail — exactly the
    // composition the key proves
    try preps.foreach { p =>
      store.commitPrepared(p)
      if (compactAfter.contains(p.batchId)) store.compact()
    }
    finally {
      preps.foreach { p =>
        import scala.concurrent.Await
        import scala.concurrent.duration.Duration
        scala.util.Try(Await.result(p.manifestF, Duration.Inf))
        scala.util.Try(Await.result(p.matF, Duration.Inf))
        for (f <- Seq(p.obsB, p.covF, p.obsPts))
          scala.util.Try(f().unpersist(false))
      }
      Tables.releaseSession(s2)
    }
    dir
  }

  /** A standing FreqStore: the directory of store `name` over `d`, where
    * `build` replays it at most once. The store is a directory, not a
    * frame bound to a session, and its [[graft.ops.Scans.scratch]] path
    * is keyed by the applicationId that every `newSession()` clone
    * shares, so the memo is scoped on the context and keyed by that
    * directory: two clones get one replay, never two racing into one
    * directory. */
  private[graft] def standingStore(s: SparkSession, name: String, d: String)(
      build: String => Unit): String = {
    val dir = graft.ops.Scans.scratch(s, name, d)
    graft.util.Standing.get(s.sparkContext, "freq_store", dir) { build(dir); dir }
  }

  /** The SERVING keys' shared store, a standing build per sfDir (see
    * [[standingStore]]): the import is the amortized offline step (Bench
    * warms it like the LSH/IVF fits), so `varda_freq_lookup` /
    * `varda_freq_lookup_expr` / `varda_annotate_store` measure the
    * serving path. The import-replay key itself
    * ([[vardaFreqIncremental]]) deliberately does NOT use this store. */
  private def committedFreqStore(s: SparkSession, d: String): String =
    standingStore(s, "freq_store", d) { dir =>
      buildFreqStore(s, d, dir)
      // the serving store runs COMPACTED (round-11): one snapshot
      // generation, tombstones folded away, and — the point — the
      // obslog re-bucketed under the point hash, so the filtered
      // flagship lookups prune their obslog read to the probes'
      // buckets instead of scanning import history. Amortized into
      // the one-time build like the import replay itself.
      new FreqStore(s, dir).compact()
    }

  /** The memoized time-travel store's directory, for tooling that
    * compares a declared key's output against the SAME store's direct
    * reads ([[graft.tools.ChangesParity]]). */
  private[graft] def ttStoreDirFor(s: SparkSession, d: String): String =
    timeTravelFreqStore(s, d)

  /** TIME-TRAVEL store for the as-of key: the same 3-batch replay, a
    * standing build like the serving store but NOT compacted — a
    * snapshot floors the commit log, so addressable history is exactly
    * what compaction has not yet consolidated (the lakehouse
    * time-travel/vacuum trade). */
  private def timeTravelFreqStore(s: SparkSession, d: String): String =
    standingStore(s, "freq_store_tt", d)(buildFreqStore(s, d, _))

  /** The BOOTSTRAP key's store: same 3-batch replay, but compaction
    * lands MID-HISTORY (after batch 1), so generations 0-1 consolidate
    * into a snapshot whose v0 deltas are swept while batch 2 commits as
    * a streamable tail — the store shape every late-attaching CDC
    * consumer faces. A standing build like its siblings. */
  private def bootstrapFreqStore(s: SparkSession, d: String): String =
    standingStore(s, "freq_store_boot", d)(
      buildFreqStore(s, d, _, compactAfter = Some(1L)))

  /** CHANGE-STREAM key [N] — the reference's poll-for-new-imports
    * lifecycle [U varda/tasks.py] consumed THROUGH the real streaming
    * source: `readStream.format("freqstore-changes")` over the 3-batch
    * replayed (uncompacted) store, drained under `Trigger.AvailableNow`
    * into a parquet FILE sink — fully distributed, no row ever crosses
    * the driver — then returned from the sink. By the obslog contract a
    * generation's delta is exactly its import batch's raw observation
    * rows tagged with the generation id, so this key has a FULL hash
    * oracle: the observations fixture partitioned by the replay's batch
    * rule (obs_id % 3). Sink+checkpoint are fresh per invocation (a
    * reused checkpoint would correctly resume at the end and stream
    * nothing — the no-replay contract — but this key's semantics is the
    * full drain); they live under the shared scratch root
    * ([[graft.ops.Scans.scratch]] — honors `spark.graft.scratchDir`),
    * and each invocation sweeps its predecessors' run dirs so repeated
    * bench/verify runs cannot grow the scratch disk unboundedly. */
  val streamStoreChanges: Q = (s, d) =>
    drainChangesStream(s, d, "chg_stream", components = None)

  /** Run the REAL freqstore-changes streaming path over the 3-batch
    * replayed store and return the drained feed: fresh sink+checkpoint
    * per invocation under the shared scratch root, predecessors swept
    * (see [[streamStoreChanges]]'s scaladoc for the full contract). */
  private def drainChangesStream(s: SparkSession, d: String,
      scratchName: String, components: Option[String],
      storeDir: Option[String] = None,
      startingGeneration: Option[Long] = None): DataFrame = {
    val dir = storeDir.getOrElse(timeTravelFreqStore(s, d))
    val root = new java.io.File(graft.ops.Scans.scratch(s, scratchName, d))
    root.mkdirs()
    // sweep prior invocations' run dirs (this key's scratch is
    // exclusively its own; within one session invocations are
    // sequential — Verify and Bench run keys serially)
    Option(root.listFiles()).getOrElse(Array.empty).foreach { f =>
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles()).getOrElse(Array.empty).foreach(rm)
        x.delete(); ()
      }
      rm(f)
    }
    val base = java.nio.file.Files.createTempDirectory(root.toPath, "run")
    val reader = s.readStream.format("freqstore-changes")
    components.foreach(c => reader.option("components", c))
    startingGeneration.foreach(g =>
      reader.option("startingGeneration", g.toString))
    val q = reader.load(dir)
      .writeStream.format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    // a timed-out drain must not leave an orphaned stream competing for
    // the scheduler behind every subsequent key
    try require(q.awaitTermination(600000),
      "freqstore-changes AvailableNow drain did not terminate")
    finally if (q.isActive) q.stop()
    s.read.schema(
        if (components.isDefined) graft.sources.FreqStoreChangesSource.wideSchema
        else graft.sources.FreqStoreChangesSource.schema)
      .parquet(s"$base/out")
  }

  /** FREQUENCY-COMPLETE change feed [N] (round 16 — the denominator
    * side): drain the MULTIPLEXED `freqstore-changes` stream
    * (`components = obslog,cover,registry`) over the same replayed
    * store and reconstruct the served ppm frequencies from the feed
    * ALONE ([[FreqStore.refoldChanges]]) — numerators from the obslog
    * deltas, denominators from one containment join against the SIGNED
    * covlog fragments, the coverage-less pool from the registry deltas.
    * The reference's continuous-import lifecycle folds coverage
    * continuously [U varda/tasks.py :: import_coverage]; this key is
    * its CDC read side, and the oracle is the FULL one-shot frequency
    * SQL — a downstream consumer of the feed must be indistinguishable
    * from a reader of the store. */
  val streamStoreChangesFreq: Q = (s, d) =>
    FreqStore.refoldChanges(
      drainChangesStream(s, d, "chg_freq_stream",
        components = Some("obslog,cover,registry")))
      .orderBy("chromosome", "position", "reference", "observed")

  /** CDC BOOTSTRAP-AFTER-COMPACTION [N] (round 17): a consumer that
    * attaches AFTER a snapshot swept the early generations cannot drain
    * them — it must compose [[FreqStore.bootstrapChanges]] (the
    * snapshot's netted obslog/covlog/smpreg components rendered as
    * wide-schema change rows) with the REAL streamed tail
    * (`startingGeneration` = the snapshot floor + 1), then refold the
    * union. This key runs that composition over a store compacted
    * MID-HISTORY (batches 0-1 consolidated, batch 2 a streamable tail)
    * and serves the reconstructed frequencies; the oracle is the FULL
    * one-shot frequency SQL, so a late-attaching consumer must be
    * indistinguishable from a reader of the store — the same contract
    * [[streamStoreChangesFreq]] pins for a from-the-beginning consumer. */
  val streamStoreChangesBootstrap: Q = (s, d) => {
    val dir = bootstrapFreqStore(s, d)
    val (boot, from) = new FreqStore(s, dir).bootstrapChanges()
    val tail = drainChangesStream(s, d, "chg_boot_stream",
      components = Some("all"), storeDir = Some(dir),
      startingGeneration = Some(from))
    FreqStore.refoldChanges(boot.unionByName(tail))
      .orderBy("chromosome", "position", "reference", "observed")
  }

  /** Generation-pinned TIME-TRAVEL read — the reference's "state as the
    * reader saw it at import N" [U varda versioned frequency serving]:
    * the generational commit log makes every historical read bound
    * addressable, so `serveAsOf(1)` on the 3-batch replayed store must
    * equal the one-shot frequency computation over batches 0 and 1's
    * rows ONLY (the oracle cuts obs/cov/samples to the fixture's batch
    * slices `id % 3 <= 1`). Same read machinery as [[FreqStore.serve]]
    * — no replay, no undo log, just a pinned upper bound over the
    * live-generation resolution. */
  val vardaFreqAsOf: Q = (s, d) => {
    val dir = timeTravelFreqStore(s, d)
    new FreqStore(s, dir).serveAsOf(1L)
      .orderBy("chromosome", "position", "reference", "observed")
  }

  /** FREQUENCY DRIFT between a pinned generation and the head — "what
    * changed since import N" [U varda continuous imports]: the head
    * state LEFT-joined against `VERSION AS OF 1` of the same store, per
    * variant, emitting head/old/drift frequencies. The whole query runs
    * through the catalog's SQL surface, and the plan is the round-12
    * architecture paying off end to end: both sides are the SAME
    * bucket-partitioned table, so the storage-partitioned join
    * co-locates them and NEITHER side shuffles — zero exchanges before
    * the final ORDER BY (FreqStoreCatalogSpec pins the plan shape; the
    * oracle is the full one-shot left-joined with the 2-batch-prefix
    * one-shot). */
  val vardaFreqCompare: Q = (s, d) => {
    val dir = timeTravelFreqStore(s, d)
    // the catalog + SPJ confs live on a CLONED session (the
    // buildFreqStore convention): the shared session's planner settings
    // must not change under concurrent callers or later bench lines.
    // The clone shares the SparkContext, so it reads the same store
    // files and memoized frames.
    val s2 = s.newSession()
    s2.conf.set("spark.sql.catalog.fqs",
      classOf[graft.sources.FreqStoreCatalog].getName)
    s2.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    // the join clustering (4-part point key) is a superset of the
    // partition key (position); without this relaxation Spark insists
    // every join key be a partition key and shuffles both sides once
    // the old side outgrows the broadcast threshold
    s2.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    s2.sql(
      s"""SELECT h.chromosome, h.position, h.reference, h.observed,
            h.freq_ppm AS freq_head,
            COALESCE(o.freq_ppm, 0) AS freq_old,
            h.freq_ppm - COALESCE(o.freq_ppm, 0) AS drift_ppm
          FROM fqs.`$dir` h
          LEFT JOIN (SELECT * FROM fqs.`$dir` VERSION AS OF 1) o
            ON h.chromosome = o.chromosome AND h.position = o.position
            AND h.reference = o.reference AND h.observed = o.observed
          ORDER BY h.chromosome, h.position, h.reference, h.observed""")
  }

  /** The reference's FLAGSHIP query [U GET /variants]: serve a handful
    * of variant points from the committed store through the pruned
    * bucket lookup ([[FreqStore.lookupPoints]]) — one DSv2 scan whose
    * driver-side hash names each probe's bucket, so it opens
    * O(probes/nBuckets) of the store instead of all of it
    * (FreqStoreSpec pins the single-bucket claim via the scan's planned
    * buckets, `FreqStoreDataSource.lastPlannedBuckets`). The
    * probe set is a deterministic fixture slice (obs_id ≡ 1 mod 2999 —
    * 1 point at sf0.001, ~34 at sf0.1), and the oracle is the one-shot
    * frequency SQL restricted to those points: the pruned serving path
    * must be indistinguishable from computing over everything. */
  val vardaFreqLookup: Q = (s, d) => {
    val dir = committedFreqStore(s, d)
    // the probe keys ARE the query (a GET /variants request carries
    // them); collecting the fixture slice stands in for the request
    val pts = obs(s, d).filter(col("obs_id") % 2999 === 1)
      .select("chromosome", "position").distinct()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    new FreqStore(s, dir).lookupPoints(pts)
      .orderBy("chromosome", "position", "reference", "observed")
  }

  /** The reference's REGION query [U GET /variants?region=chrom:begin-end]:
    * serve every variant of a genomic range from the committed store
    * through [[FreqStore.lookupRange]], one DSv2 scan. Two scale levers
    * compose since round 12: the single-column bucket layout lets the
    * range NAME its buckets on the driver (enumerate cells, hash each —
    * the scan opens only those), and the serving store is compacted with
    * its point-keyed components sorted by (chromosome, position) within
    * each bucket file, so the pushed range predicate skips all
    * non-matching row groups via parquet min/max statistics —
    * O(range + pruned footers), not O(store) (RangeLookupSpec pins
    * parity, pushdown, sortedness and the bucket pruning). The probe
    * range is a deterministic fixture slice (chromosome '7', positions
    * 20000–40000 — ~1/110 of the position space), and the oracle is the
    * one-shot frequency SQL restricted to it. */
  val vardaFreqLookupRange: Q = (s, d) => {
    val dir = committedFreqStore(s, d)
    new FreqStore(s, dir).lookupRange("7", 20000L, 40000L)
      .orderBy("chromosome", "position", "reference", "observed")
  }

  /** Store EXTENT summary — "how many variants, over what positional
    * span" [U the reference's database overview endpoint]: answered by
    * the DSv2 scan's footer-STATISTICS aggregate pushdown (round 12) —
    * min/max(position) from exact INT64 row-group statistics and the
    * count from record counts, one stats row per live bucket merged by
    * Spark's final aggregate. No data page is read at ANY store size:
    * the executed plan's only leaves are the numer parquet footers
    * (FreqStoreDsv2Spec pins the pushdown; this key pins the VALUES
    * against the one-shot frequency oracle). */
  val vardaStoreExtent: Q = (s, d) => {
    val dir = committedFreqStore(s, d)
    s.read.format("freqstore").load(dir)
      .agg(min(col("position")).as("min_pos"),
        max(col("position")).as("max_pos"),
        count(lit(1)).as("n_variants"))
  }

  /** Declared retraction query: import everything in one fold, then
    * deactivate samples 4 (covered) and 14 (coverage-less — both
    * retraction paths exercised) and serve. Must equal the one-shot
    * frequency computed over the remaining samples only — the oracle IS
    * that one-shot SQL with `sample_id NOT IN (4, 14)`. */
  val vardaSampleRetract: Q = (s, d) => {
    val gone = Seq(4, 14)
    val st = foldFreqState(emptyFreqState(obs(s, d), cov(s, d)),
      obs(s, d), cov(s, d), smp(s, d))
    val st2 = retractSample(st,
      obs(s, d).filter(col("sample_id").isin(gone: _*)),
      smp(s, d).filter(col("sample_id").isin(gone: _*)))
    serveFreqState(st2)
      .orderBy("chromosome", "position", "reference", "observed")
  }

  // ---- §2.1 [D] text-format ingest -------------------------------------

  /** VCF-shaped text ingest: serialize observations to `;`-delimited
    * lines — every 5th line carrying a comma-separated multi-ALT field —
    * then parse back to typed columns with one output row per alt allele
    * (`explode(split(alt, ','))`, the VCF multi-ALT fan-out —
    * varda/tasks.py :: import_variation [U], round-2 addition). */
  val sourceVcf: Q = (s, d) => {
    val altField = when(col("obs_id") % 5 === 0,
      concat(col("observed"), lit(","),
        expr("substr('ACGT', CAST((obs_id + 2) % 4 AS INT) + 1, 1)")))
      .otherwise(col("observed"))
    val lines = obs(s, d).select(concat_ws(";",
      col("obs_id"), col("chromosome"), col("position"),
      col("reference"), altField, col("support")).as("line"))
    lines.select(split(col("line"), ";").as("f"))
      .select(
        element_at(col("f"), 1).cast(LongType).as("obs_id"),
        element_at(col("f"), 2).as("chromosome"),
        element_at(col("f"), 3).cast(LongType).as("position"),
        element_at(col("f"), 4).as("reference"),
        explode(split(element_at(col("f"), 5), ",")).as("observed"),
        element_at(col("f"), 6).cast(IntegerType).as("support"))
      .orderBy("obs_id", "observed")
  }

  /** Header-aware multi-sample VCF *file* ingestion (round-3; the
    * reference's actual import surface, varda/tasks.py ::
    * import_variation [U], reads real `.vcf` files, not pre-split lines).
    * The query first serializes the observations fixture to a genuine VCF
    * text file — `##fileformat` / `##INFO` / `##FORMAT` metadata, a
    * `#CHROM ... FORMAT S0 S1 S2` header row naming THREE genotype
    * columns, and tab-delimited records with ID=obs<id>, comma-joined
    * multi-ALT (every 5th record), QUAL/FILTER, a key=value INFO field,
    * and per-sample GT cells (`./.` for samples without the call) — then
    * parses it back:
    *
    *  - `##` metadata skipped, sample names read from the `#CHROM` header
    *    (a one-row broadcast — never a driver-side collect); the carried
    *    sample_name comes from the header, the way VCF binds columns,
    *  - one output row per (record, called sample): posexplode over the
    *    genotype cells, `./.` filtered out,
    *  - multi-ALT fan-out via a second posexplode (1-based alt_index),
    *  - INFO key extraction via str_to_map,
    *  - zygosity derived from GT allele indices (a/b equal ⇒ homozygous),
    *    the way real VCF encodes it — not from a fixture column.
    *
    * The single-file coalesce is the fixture WRITER only; the reader is
    * the scalable half (spark.read.text splits across files/blocks, and
    * every parse step is per-row Column arithmetic). */
  val sourceVcfFile: Q = (s, d) => {
    import s.implicits._
    val tmp = graft.ops.Scans.scratch(s, "vcf_file", d)
    val nSamples = 3
    val altField = when(col("obs_id") % 5 === 0,
      concat(col("observed"), lit(","),
        expr("substr('ACGT', CAST((obs_id + 2) % 4 AS INT) + 1, 1)")))
      .otherwise(col("observed"))
    val gt = when(col("obs_id") % 5 === 0, lit("1/2"))
      .when(col("zygosity") === "homozygous", lit("1/1"))
      .otherwise(lit("0/1"))
    val gtCells = (0 until nSamples).map(k =>
      when(col("sample_id") % nSamples === k, gt).otherwise(lit("./.")))
    val dataLines = obs(s, d).select(col("obs_id").as("ord"),
      concat_ws("\t", Seq(col("chromosome"), col("position"),
        concat(lit("obs"), col("obs_id")), col("reference"), altField,
        lit("."), lit("PASS"),
        concat(lit("SUP="), col("support")),
        lit("GT")) ++ gtCells: _*).as("line"))
    val header = Seq(
      (-5L, "##fileformat=VCFv4.2"),
      (-4L, "##INFO=<ID=SUP,Number=1,Type=Integer,Description=\"Allele support\">"),
      (-3L, "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"Genotype\">"),
      (-2L, "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS0\tS1\tS2"))
      .toDF("ord", "line")
    header.unionByName(dataLines).coalesce(1).sortWithinPartitions("ord")
      .select("line").write.mode("overwrite").text(tmp)
    // ---- the reader: the extracted library parser ([[Vcf.parseVcfLines]],
    // round-7) — this query is its regression gate against the oracle
    Vcf.parseVcfLines(s.read.text(tmp))
      .select(
        expr("cast(substr(vcf_id, 4) as bigint)").as("obs_id"),
        col("chromosome"), col("position"), col("reference"),
        col("alt_index"), col("observed"),
        element_at(col("info"), "SUP").cast(IntegerType).as("support"),
        col("sample_slot"), col("sample_name"), col("zygosity"))
      .orderBy("obs_id", "alt_index")
  }

  /** Annotated-VCF EXPORT round trip (round 16) — the write-back half of
    * the reference's lifecycle as a DECLARED key: `varda_annotate`'s
    * frequency-annotated frame is rendered to a sites-only VCF
    * ([[graft.varda.Annotate.writeAnnotatedVcf]] — distributed text
    * write, `FREQ_PPM=<ppm>` INFO fields, a header part alongside the
    * data parts), then parsed BACK with the same [[Vcf.parseVcfLines]]
    * reader the import path uses. The oracle is `varda_annotate`'s own
    * SQL: the export is lossless exactly when the round-tripped frame
    * hash-matches the annotation it serialized — which also certifies
    * the emitted file is valid input for a re-import (the reference
    * feeds annotated VCFs back through import_variation [U
    * varda/tasks.py]). Scale: one map-only text write + one map-only
    * parse; the only join inside the parse is the per-FILE header
    * frame, broadcast. */
  val sinkVcf: Q = (s, d) => {
    val tmp = graft.ops.Scans.scratch(s, "sink_vcf", d)
    Annotate.writeAnnotatedVcf(s, d, tmp)
    Vcf.parseVcfLines(s.read.text(tmp))
      .select(col("chromosome"), col("position"), col("reference"),
        col("observed"),
        element_at(col("info"), "FREQ_PPM").cast(LongType).as("freq_ppm"))
      .orderBy("chromosome", "position", "reference", "observed")
  }

  /** MULTI-expression annotated-VCF export (round 17): the reference's
    * write_annotation emits one INFO field per CONFIGURED sample query
    * [U varda/tasks.py] — the engine already computes that frame in one
    * pass ([[vardaAnnotateMulti]]); this key serializes it
    * ([[graft.varda.Annotate.writeAnnotatedVcfMulti]] — one
    * `FREQ_PPM_<NAME>` INFO entry per expression) and parses it BACK
    * with the shared [[Vcf.parseVcfLines]] reader. The oracle is
    * `varda_annotate_multi`'s own SQL: lossless export ⇔ the
    * round-tripped frame hash-matches the multi-annotation it
    * serialized. Same scale shape as [[sinkVcf]]: one map-only text
    * write + one map-only parse, the per-file header frame broadcast. */
  val sinkVcfMulti: Q = (s, d) => {
    val tmp = graft.ops.Scans.scratch(s, "sink_vcf_multi", d)
    Annotate.writeAnnotatedVcfMulti(s, d, tmp)
    val ppm = multiExprs.map { case (n, _, _) =>
      element_at(col("info"), Annotate.infoId(n)).cast(LongType)
        .as(s"freq_ppm_$n")
    }
    Vcf.parseVcfLines(s.read.text(tmp))
      .select(Seq(col("chromosome"), col("position"), col("reference"),
        col("observed")) ++ ppm: _*)
      .orderBy("chromosome", "position", "reference", "observed")
  }

  /** BED-shaped interval ingest (varda/tasks.py :: import_coverage [U]). */
  val sourceBed: Q = (s, d) => {
    val lines = cov(s, d).select(concat_ws(";",
      col("region_id"), col("chromosome"), col("begin_pos"),
      col("end_pos"), col("sample_id"), col("pool_size")).as("line"))
    lines.select(split(col("line"), ";").as("f"))
      .select(
        element_at(col("f"), 1).cast(LongType).as("region_id"),
        element_at(col("f"), 2).as("chromosome"),
        element_at(col("f"), 3).cast(LongType).as("begin_pos"),
        element_at(col("f"), 4).cast(LongType).as("end_pos"),
        element_at(col("f"), 5).cast(LongType).as("sample_id"),
        element_at(col("f"), 6).cast(IntegerType).as("pool_size"))
      .orderBy("region_id")
  }

  // ---- §2.3 / §2.4 [D] -------------------------------------------------

  /** Point-in-interval join (the varda coverage lookup shape), bucketed
    * to an equi-join; oracle is the naive range join. */
  val joinRangeInterval: Q = (s, d) =>
    bucketedContainment(
      obs(s, d).select("obs_id", "chromosome", "position"), cov(s, d))
      .select("obs_id", "region_id")
      .orderBy("obs_id", "region_id")

  /** Declared form of the opt-in Catalyst interval-join rewrite
    * ([[graft.plans.RewriteIntervalJoin]], round 3 — the rule was
    * library-only before): the query builds the NAIVE range join a user
    * would write (key equality + BETWEEN — quadratic per key group as
    * Spark plans it), installs the rule via
    * `spark.experimental.extraOptimizations`, and pins the optimized plan
    * while the gating conf is on, so the driver checks both that the
    * rewrite fired (PlanShapeSpec asserts the `__graft_bin` equi-join and
    * no quadratic fallback) and that it preserved semantics (the oracle
    * is the naive range-join SQL). The conf toggles back in a finally —
    * no other declared query's plan is affected.
    *
    * Coordinates are scaled ×512 into the hierarchy's discriminating
    * range: the raw fixture confines every position below 2^17, i.e. ONE
    * 128 kb level-0 bin, where hierarchical binning cannot discriminate
    * and the "binned" join degenerates to per-chromosome quadratic (the
    * regime the bounded-length operators avoid with the single fine 2^11
    * bucket level — see [[bucketedContainment]]). Scaling by a constant
    * preserves integer containment exactly, so the output id pairs — and
    * therefore the oracle — are identical to the unscaled join. */
  val joinRangeRewrite: Q = (s, d) => {
    // the rule + enabling conf live on a CLONED session (round-10,
    // ADVICE): `newSession` shares the SparkContext but not the conf or
    // the optimizer extensions, so a query planned concurrently on the
    // shared session can never inherit the rewrite toggle
    val s2 = s.newSession()
    s2.experimental.extraOptimizations =
      s2.experimental.extraOptimizations :+ graft.plans.RewriteIntervalJoin
    s2.conf.set("spark.graft.rewriteIntervalJoin", "true")
    // quarter subsets: the declared key demonstrates the rule firing and
    // its semantics; the full-corpus pair volume (the fixture's regions
    // overlap ~46 deep) is already paid by join_range_interval
    val o = obs(s2, d).filter(col("obs_id") % 4 === 0)
      .select(col("obs_id"), col("chromosome"),
        (col("position") * 512).as("position"))
    val c = cov(s2, d).filter(col("region_id") % 4 === 0)
      .select(col("region_id"), col("chromosome"),
        (col("begin_pos") * 512).as("begin_pos"),
        (col("end_pos") * 512).as("end_pos"))
    val naive = o.join(c,
      o("chromosome") === c("chromosome")
        && o("position") >= c("begin_pos") && o("position") <= c("end_pos"))
      .select(o("obs_id"), c("region_id"))
    val optimized = naive.queryExecution.optimizedPlan
    // the clone's memoized frames are no longer needed once the plan is
    // built (round-10 review: per-call clones otherwise accumulate
    // cache entries forever — the shared context never stops)
    Tables.releaseSession(s2)
    // aggregate per point (the coverage-join shape): the JOIN is the
    // thing under test; dumping every matched pair would re-pay the
    // 4.6M-row sort join_range_interval already covers
    org.apache.spark.sql.GraftPlanBridge.ofRows(s2, optimized)
      .groupBy("obs_id")
      .agg(count(lit(1)).as("n_regions"))
      .orderBy("obs_id")
  }

  /** Declared form of the round-9 interval-OVERLAP rewrite tier: the
    * query builds the NAIVE overlap join a user would write
    * (`key = key AND b1 <= e2 AND b2 <= e1` — quadratic per key group
    * as Spark plans it), installs [[graft.plans.RewriteIntervalJoin]],
    * declares the fixture's interval-length bound via
    * `spark.graft.intervalJoin.maxLength`, and pins the optimized plan:
    * the executed join is the bucketed emit-once equi-join
    * (PlanShapeSpec asserts `__graft_obin` and no quadratic fallback)
    * while the oracle is the naive overlap SQL — the rewrite must be
    * invisible in the result. Quarter cohorts keep the declared key's
    * pair volume modest; `varda_region_intersect` already pays the
    * half-corpus overlap through the hand-built `bucketedOverlap`. */
  val joinRangeOverlapRewrite: Q = (s, d) => {
    // CLONED session (round-10, ADVICE): the maxLength conf is a
    // fixture-specific SEMANTIC promise — on the shared session any
    // query planned concurrently in the set→unset window would inherit
    // it and could silently drop matches; the clone confines both confs
    // and the rule to this query's plan
    val s2 = s.newSession()
    s2.experimental.extraOptimizations =
      s2.experimental.extraOptimizations :+ graft.plans.RewriteIntervalJoin
    s2.conf.set("spark.graft.rewriteIntervalJoin", "true")
    s2.conf.set("spark.graft.intervalJoin.maxLength", "1100") // fixture bound
    val c = cov(s2, d)
    val a = c.filter(col("region_id") % 4 === 0).select(col("chromosome"),
      col("region_id").as("region_a"),
      col("begin_pos").as("ba"), col("end_pos").as("ea"))
    val b = c.filter(col("region_id") % 4 === 1).select(col("chromosome"),
      col("region_id").as("region_b"),
      col("begin_pos").as("bb"), col("end_pos").as("eb"))
    val naive = a.join(b,
      a("chromosome") === b("chromosome")
        && a("ba") <= b("eb") && b("bb") <= a("ea"))
      .select(a("region_a"), b("region_b"),
        (least(a("ea"), b("eb")) - greatest(a("ba"), b("bb")) + 1).as("ov_len"))
    val optimized = naive.queryExecution.optimizedPlan
    Tables.releaseSession(s2) // see joinRangeRewrite
    org.apache.spark.sql.GraftPlanBridge.ofRows(s2, optimized)
      .groupBy("region_a")
      .agg(count(lit(1)).as("n_overlaps"),
        sum(col("ov_len")).cast(LongType).as("sum_ov_len"))
      .orderBy("region_a")
  }

  /** Frequency as a plain grouped-sums ratio (no zygosity split). */
  val aggFreqRatio: Q = (s, d) =>
    frequency(s, d, withZyg = false)
      .orderBy("chromosome", "position", "reference", "observed")

  // ---- §2.11 composites ------------------------------------------------

  /** Allele normalization: trim common prefix (advancing position) then
    * common suffix, keeping >= 1 char (varda/utils.py ::
    * normalize_variant [U]). Pure Column arithmetic via the shared CASE
    * chains — no UDF, fully codegen'd. */
  val vardaNormalizeVariant: Q = (s, d) =>
    Normalize.normalizeDf(alleles(s, d)).orderBy("var_id")

  /** UCSC bin assignment for every coverage region — integer shifts only
    * (varda/region_binning.py :: assign_bin [U]). */
  val vardaRegionBins: Q = (s, d) =>
    cov(s, d)
      .withColumn("bin", expr(assignBin("begin_pos", "end_pos", shrSpark)).cast(LongType))
      .select("region_id", "bin")
      .orderBy("region_id")

  /** Per-observation coverage aggregates — the varda coverage-lookup
    * shape, declared on the PAIR-FREE sweep plan (round-11; the oracle
    * is still the naive range join). Round 10 measured the binned
    * containment-join plan at ~11× for 10× rows on the densifying
    * fixture while the row-identical sweep ran 5× faster and carries
    * O(points + regions) at any density — a declared key should run
    * the plan you'd ship at 100×, so the sweep is the plan now. The
    * containment equi-join itself stays a first-class library surface
    * ([[coverageAggByJoin]], [[bucketedContainment]]) and is still
    * driver-checked through `join_range_interval` and the two rewrite
    * keys. */
  val vardaCoverageJoin: Q = (s, d) =>
    coverageAggBySweep(obs(s, d), cov(s, d))

  /** The binned containment-JOIN form of the same aggregates — the
    * library surface for callers who want the pair set itself;
    * CoverageSweepSpec pins row-identity with the sweep plan. */
  private[graft] def coverageAggByJoin(obsDf: DataFrame,
      covDf: DataFrame): DataFrame =
    bucketedContainment(
      obsDf.select("obs_id", "chromosome", "position"), covDf)
      .groupBy("obs_id")
      .agg(count(lit(1)).as("n_regions"),
        sum(col("pool_size")).cast(LongType).as("total_pool"))
      .orderBy("obs_id")

  /** The PAIR-FREE form of the coverage aggregates (round-10; the
    * DECLARED plan since round-11): per-point covering-region count and
    * pool sum are interval-STABBING queries — at point p, `n_regions =
    * #(begin <= p) − #(end < p)` and `total_pool` likewise — so both
    * come from grouped running SUMS over ±delta endpoint events, never
    * a (point × region) pair row. O(points + regions) rows through two
    * sweeps at any density (5.1 s vs 25 s at sf1 on the densifying
    * fixture). CoverageSweepSpec pins row-identity with the join form. */
  private[graft] def coverageAggBySweep(obsDf: DataFrame,
      covDf: DataFrame): DataFrame = {
    // points-sized, referenced by the event union AND the final
    // obs_id-mapping join — materialize once (the [[nearestRegionFrom]]
    // narrow-frame trade) instead of re-running the observation scan
    val pts = Ckpt.narrow(obsDf.select("obs_id", "chromosome", "position"))
    // the sweep's four subtrees read one event frame
    val ev = Ckpt.narrow(covDf.select(col("chromosome"),
        col("begin_pos").as("coord"), lit(0).as("kind"), lit(1L).as("dc"),
        col("pool_size").cast(LongType).as("dp"))
      .unionByName(covDf.select(col("chromosome"),
        (col("end_pos") + 1).as("coord"), lit(0).as("kind"),
        lit(-1L).as("dc"), (-col("pool_size")).cast(LongType).as("dp")))
      .unionByName(pts.select(col("chromosome"), col("position").as("coord"),
        lit(1).as("kind"), lit(0L).as("dc"), lit(0L).as("dp"))
        .distinct()))
    // ONE fused sweep for both running sums (r20): n_regions and
    // total_pool are independent running sums under the SAME
    // (chromosome)/(coord, kind) order, so they ride one
    // [[graft.ops.GlobalRank.withGroupedRunningSums]] pass — one window,
    // one offsets aggregate, one broadcast join. The previous shape (two
    // NESTED single-value sweeps, the inner checkpointed so the outer's
    // four subtree references wouldn't re-run it) existed only because
    // the single-value API forced a second pass: r19 had already cut it
    // from 4 Window nodes / 36 exchanges to 2 / 10; this halves the
    // remainder (plan: 2 Window nodes → 1, and the inner checkpoint
    // disappears).
    val at = graft.ops.GlobalRank.withGroupedRunningSums(ev,
        Seq("chromosome"), Seq(col("coord"), col("kind")),
        Seq(col("dc") -> "n_regions", col("dp") -> "total_pool"))
      .filter(col("kind") === 1 && col("n_regions") > 0)
      .select(col("chromosome"), col("coord").as("position"),
        col("n_regions"), col("total_pool"))
    pts.join(at, Seq("chromosome", "position"))
      .select("obs_id", "n_regions", "total_pool")
      .orderBy("obs_id")
  }

  /** Interval × interval overlap join — the bedtools-intersect analog
    * (coverage regions of one sample cohort against another's), the
    * second interval primitive next to point-in-interval containment.
    * Scale shape: each interval explodes into the 2^11-wide buckets it
    * spans (length <= 1100 ⇒ at most 2), the join is equi on
    * (chromosome, bucket) with the residual overlap predicate — and each
    * overlapping pair is counted exactly ONCE by keeping only the bucket
    * containing the overlap's start (that bucket lies in both intervals'
    * bucket sets by construction), so no distinct() pass is needed. The
    * oracle runs the naive quadratic range join; results must be
    * identical. */
  val vardaRegionIntersect: Q = (s, d) => {
    val c = cov(s, d)
    // cohorts split by region_id parity (sample_id parity is confounded
    // with the chromosome derivation in this fixture — every same-
    // chromosome pair shares it, which would make the op vacuous)
    val a = c.filter(col("region_id") % 2 === 0).select(col("chromosome"),
      col("region_id").as("region_a"), col("begin_pos").as("ba"),
      col("end_pos").as("ea"))
    val b = c.filter(col("region_id") % 2 === 1).select(col("chromosome"),
      col("region_id").as("region_b"), col("begin_pos").as("bb"),
      col("end_pos").as("eb"))
    bucketedOverlap(a, b)
      .select(col("chromosome"), col("region_a"), col("region_b"),
        greatest(col("ba"), col("bb")).as("ov_begin"),
        least(col("ea"), col("eb")).as("ov_end"),
        (least(col("ea"), col("eb")) - greatest(col("ba"), col("bb")) + 1)
          .as("ov_len"))
      .orderBy("region_a", "region_b")
  }

  /** Bucketed interval-overlap join core: `a` carries (chromosome, …,
    * ba, ea), `b` carries (chromosome, …, bb, eb); returns the overlap
    * pairs (ba <= eb ∧ bb <= ea, same chromosome) with both sides'
    * columns. Each interval explodes into the 2^11-wide buckets it spans;
    * a pair is emitted only from the bucket containing the overlap's
    * start — that bucket is in both intervals' bucket sets by
    * construction, so the output is exactly-once without a distinct().
    * PropertySpec asserts equality with the naive quadratic join. */
  private[graft] def bucketedOverlap(a: DataFrame, b: DataFrame): DataFrame = {
    val aB = a.withColumn("bkt",
      explode(expr("sequence(shiftright(ba, 11), shiftright(ea, 11))")))
    val bB = b.withColumn("bkt",
      explode(expr("sequence(shiftright(bb, 11), shiftright(eb, 11))")))
    aB.join(bB, Seq("chromosome", "bkt"))
      .filter(col("ba") <= col("eb") && col("bb") <= col("ea"))
      .filter(col("bkt") === shiftright(greatest(col("ba"), col("bb")), 11))
      .drop("bkt")
  }

  /** Interval merge (the bedtools-merge analog): collapse each
    * (chromosome, sample)'s overlapping coverage regions into maximal
    * merged intervals — the normalization step before any coverage set
    * algebra (adjacent-but-not-overlapping regions stay separate).
    * Gaps-and-islands: previous running max end → island break flag →
    * running island id, BOTH window functions over ONE
    * (chromosome, sample_id) window spec, so the log shuffles once; the
    * partition key is samples × chromosomes (high cardinality — per-
    * partition interval lists stay bounded at corpus scale, unlike a
    * per-chromosome-only window). */
  val vardaRegionMerge: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("chromosome", "sample_id")
      .orderBy("begin_pos", "end_pos", "region_id")
    cov(s, d)
      .withColumn("pmax", max(col("end_pos")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("pmax").isNull || col("begin_pos") > col("pmax"), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("brk")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("chromosome", "sample_id", "island")
      .agg(min(col("begin_pos")).as("m_begin"), max(col("end_pos")).as("m_end"),
        count(lit(1)).as("n_regions"))
      .select("chromosome", "sample_id", "m_begin", "m_end", "n_regions")
      .orderBy("chromosome", "sample_id", "m_begin")
  }

  /** Coverage depth profile (the genomecov analog): at every position
    * where total depth changes, the new depth — the classic sweep:
    * +1 at begin, −1 at end+1, aggregate deltas per (chromosome,
    * position), prefix-sum per chromosome. The prefix sum is
    * [[graft.ops.GlobalRank.withGroupedRunningSum]]: a plain
    * per-chromosome window would sort each whole chromosome in ONE task
    * (22 tasks for a 100 TB genome); grouped arithmetic chunking keeps
    * parallelism at chromosomes × chunks. Zero-net-change points are
    * dropped on both engines. */
  val vardaCoverageDepth: Q = (s, d) => {
    val c = cov(s, d)
    // change-point-sized; materialized once instead of re-deriving the
    // coverage fixture + delta aggregate per prefix-sum reference
    val deltas = Ckpt.narrow(c.select(col("chromosome"),
        col("begin_pos").as("position"), lit(1L).as("delta"))
      .unionByName(c.select(col("chromosome"),
        (col("end_pos") + 1).as("position"), lit(-1L).as("delta")))
      .groupBy("chromosome", "position").agg(sum(col("delta")).as("d"))
      .filter(col("d") =!= 0))
    graft.ops.GlobalRank.withGroupedRunningSum(deltas, Seq("chromosome"),
        Seq(col("position")), col("d"), "depth")
      .select("chromosome", "position", "d", "depth")
      .orderBy("chromosome", "position")
  }

  /** End-to-end frequency with het/hom split (varda/tasks.py [U]). */
  val vardaFrequency: Q = (s, d) =>
    frequency(s, d, withZyg = true)
      .orderBy("chromosome", "position", "reference", "observed")

  /** Sample tags for the expression language; mirrored literally in the
    * oracle's IN-list (the evaluated set over samples 0..19). */
  private val sampleTags = Map(
    "even" -> (col("sample_id") % 2 === 0),
    "third" -> (col("sample_id") % 3 === 0),
    "fifth" -> (col("sample_id") % 5 === 0))
  val sampleExprInput = "(even OR third) AND NOT fifth"
  /** Evaluated over sample ids 0..19: (even ∪ third) \ fifth. */
  val sampleExprSet: Seq[Int] = Seq(2, 3, 4, 6, 8, 9, 12, 14, 16, 18)

  /** Frequency restricted to a sample set chosen by the boolean
    * expression language (varda/expressions.py [U]). */
  val vardaSampleExpr: Q = (s, d) => {
    val pred = ExprLang.parse(sampleExprInput, sampleTags)
    frequency(s, d, withZyg = false, sampleFilter = Some(pred))
      .orderBy("chromosome", "position", "reference", "observed")
  }

  /** Expression-filtered point lookup from the COMMITTED store — the
    * reference's flagship query in its full form [U GET /variants?
    * sample_query=…]: the same boolean sample expression
    * `varda_sample_expr` evaluates against raw fixtures is answered
    * here from the store's retained per-sample components (obslog
    * numerators with tombstone netting, sample-filtered cover
    * fragments probed per bucket, registry-net coverage-less pool) —
    * no import-history rescan, probe-sized serve-time work
    * ([[FreqStore.lookupPointsFiltered]]). Oracle: the one-shot
    * frequency SQL under the expression's evaluated sample set,
    * restricted to the probe points. */
  val vardaFreqLookupExpr: Q = (s, d) => {
    val dir = committedFreqStore(s, d)
    val pts = obs(s, d).filter(col("obs_id") % 2999 === 1)
      .select("chromosome", "position").distinct()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    new FreqStore(s, dir).lookupPointsFiltered(pts,
        ExprLang.parse(sampleExprInput, sampleTags))
      .orderBy("chromosome", "position", "reference", "observed")
  }

  /** The combined flagship form [U GET /variants?region=…&sample_query=…]:
    * the region query under the boolean sample expression, served from
    * the committed store ([[FreqStore.lookupRangeFiltered]] — obslog
    * numerators with the range pushed into the sorted compacted scans,
    * cell-window cover probe, registry-net pool). Oracle: the one-shot
    * frequency SQL under the expression's evaluated sample set,
    * restricted to the probe range. */
  val vardaFreqLookupRangeExpr: Q = (s, d) => {
    val dir = committedFreqStore(s, d)
    new FreqStore(s, dir).lookupRangeFiltered("7", 20000L, 40000L,
        ExprLang.parse(sampleExprInput, sampleTags))
      .orderBy("chromosome", "position", "reference", "observed")
  }

  /** Multi-expression point lookup from the COMMITTED store (round-10):
    * the [[vardaAnnotateMulti]] shape — N named sample expressions in
    * ONE pass — served from the store's retained components instead of
    * recomputing from raw imports ([[FreqStore.lookupPointsMulti]]).
    * The probe set is the flagship fixture slice; the oracle computes
    * each expression's one-shot frequency CTE restricted to the probes
    * and left-joins them, so the store-served single-pass answer must
    * be bit-identical to N independent one-shot computations. */
  val vardaFreqLookupMulti: Q = (s, d) => {
    val dir = committedFreqStore(s, d)
    val pts = obs(s, d).filter(col("obs_id") % 2999 === 1)
      .select("chromosome", "position").distinct()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val preds = multiExprs.map { case (n, e, _) =>
      n -> ExprLang.parse(e, sampleTags) }
    new FreqStore(s, dir).lookupPointsMulti(pts, preds)
      .orderBy("chromosome", "position", "reference", "observed")
  }

  /** The annotate input "VCF": the even observations' distinct variants,
    * every other one shifted one position so it is deliberately unknown
    * to the frequency table. */
  private def annotateInput(o: DataFrame): DataFrame =
    o.filter(col("obs_id") % 2 === 0)
      .select(col("chromosome"),
        (col("position") + when(col("obs_id") % 4 === 0, 1).otherwise(0)).as("position"),
        col("reference"), col("observed"))
      .distinct()

  /** Annotation write-back: left-join the input variants against a
    * frequency table, null -> 0 (varda/tasks.py :: write_annotation [U]). */
  private def annotateWith(input: DataFrame, freq: DataFrame): DataFrame =
    input.join(freq.select(variantKey.map(col) :+ col("freq_ppm"): _*),
        variantKey, "left")
      .select(variantKey.map(col) :+
        coalesce(col("freq_ppm"), lit(0L)).as("freq_ppm"): _*)

  /** [[vardaAnnotate]]'s frame WITHOUT the declared result ordering —
    * the VCF export serializes this one (r20): the writer needs only
    * per-partition position order ([[Vcf.toVcfLines]]), and feeding it
    * the orderBy'd declared frame made every export pay a full global
    * range sort (range-boundary sampling pass + exchange) that the
    * parse-back's own declared orderBy then re-established anyway. */
  private[graft] def annotateFrame(s: SparkSession, d: String): DataFrame =
    annotateWith(annotateInput(obs(s, d)), frequency(s, d, withZyg = false))

  val vardaAnnotate: Q = (s, d) =>
    annotateFrame(s, d)
      .orderBy("chromosome", "position", "reference", "observed")

  /** Annotation against the COMMITTED store (round-9): the reference's
    * full annotate lifecycle [U varda/tasks.py :: write_annotation] over
    * durable state — the input "VCF" left-joins the frequencies the
    * import stream actually committed ([[FreqStore.serve]]), not a
    * frequency recomputed from raw imports at annotate time. At scale
    * this is the difference between an annotation job that reads an
    * O(variants) serving table and one that rescans the observation +
    * coverage history; the oracle is the SAME one-shot SQL as
    * `varda_annotate` because the committed replay must converge to
    * it. Store shared (memoized) with the other serving keys. */
  val vardaAnnotateStore: Q = (s, d) =>
    annotateWith(annotateInput(obs(s, d)),
        new FreqStore(s, committedFreqStore(s, d)).serve())
      .orderBy("chromosome", "position", "reference", "observed")

  /** Named sample expressions for multi-annotation, each with its
    * evaluated id set over samples 0..19 (mirrored literally in the
    * oracle's IN-lists). */
  private[graft] val multiExprs: Seq[(String, String, Seq[Int])] = Seq(
    ("even", "even", (0 to 19).filter(_ % 2 == 0)),
    ("sel", sampleExprInput, sampleExprSet.map(_.toInt)),
    ("rare", "NOT (even OR third)",
      (0 to 19).filter(i => i % 2 != 0 && i % 3 != 0)))

  /** Multi-expression annotation (round-3; the reference annotates a VCF
    * with one INFO field PER configured sample query in a single pass,
    * varda/tasks.py :: write_annotation [U]): N sample expressions become
    * N filtered aggregates over ONE shared pipeline — one observation
    * scan, one containment join over the full sample universe, one
    * denominator aggregation — with per-expression membership as a flag
    * inside the aggregate, never a separate join or re-scan per
    * expression. Emits one `freq_ppm_<name>` column per expression; the
    * oracle computes each from its own frequencySql CTE and must match
    * bit for bit. */
  val vardaAnnotateMulti: Q = (s, d) =>
    annotateMultiFrame(s, d)
      .orderBy("chromosome", "position", "reference", "observed")

  /** [[vardaAnnotateMulti]] without the declared result ordering — what
    * the multi-expression VCF export serializes (same rationale as
    * [[annotateFrame]]). */
  private[graft] def annotateMultiFrame(s: SparkSession, d: String): DataFrame = {
    val preds = multiExprs.map { case (n, e, _) =>
      n -> ExprLang.parse(e, sampleTags)
    }
    val o = obs(s, d)
    val pts = o.select("chromosome", "position").distinct()
    // per-expression denominators. Two result-identical forms, chosen by
    // GlobalRank's one small-input rule on the coverage frame (its only
    // leaf is the orders table, so the sf0.001-sf0.1 fixtures take the
    // join and sf1 the sweep):
    //  - LARGE inputs: ONE merged-interval endpoint sweep for all
    //    expressions ([[sweepMassMergedMulti]]). The containment form's
    //    (point × covering sample) pair volume densifies quadratically —
    //    measured at the sf1 decade: sink_vcf_multi 148.7 s (c32) with
    //    the join vs 7.3 s with the sweep. Each covering sample still
    //    counts once per expression (merged intervals make it
    //    structural); the coverage-less pool stays a broadcast
    //    per-expression scalar.
    //  - SMALL inputs: the containment join + pair distinct — its pair
    //    volume is trivial there and it avoids the sweep machinery's
    //    fixed per-query stage latency: warm `tools.ProfKeys` reps at
    //    sf0.1 (build + plan + exec, 4-vCPU VM, A B B A) put the join at
    //    0.70-1.07 s and the forced sweep at 1.96-2.72 s.
    val covDf = cov(s, d)
    val denoms = if (!graft.ops.GlobalRank.local(covDf)) {
      val masses = sweepMassMergedMulti(pts, mergeIntervals(covDf), preds)
      val uncovAggs = preds.map { case (n, p) =>
        coalesce(sum(when(p, col("pool_size"))), lit(0))
          .cast(LongType).as(s"uncov_$n") }
      val uncov = smp(s, d).filter(!col("has_coverage"))
        .agg(uncovAggs.head, uncovAggs.tail: _*)
      masses.crossJoin(broadcast(uncov))
        .select(Seq(col("chromosome"), col("position")) ++
          preds.map { case (n, _) =>
            (col(s"mass_$n") + col(s"uncov_$n") * ploidy)
              .cast(LongType).as(s"denom_$n") }: _*)
    } else {
      val covSmp = bucketedContainment(pts, covDf)
        .select("chromosome", "position", "sample_id", "pool_size").distinct()
      val uncovSmp = pts.crossJoin(broadcast(
        smp(s, d).filter(!col("has_coverage")).select("sample_id", "pool_size")))
        .select("chromosome", "position", "sample_id", "pool_size")
      val denomAggs = preds.map { case (n, p) =>
        sum(when(p, col("pool_size") * ploidy).otherwise(0))
          .cast(LongType).as(s"denom_$n")
      }
      covSmp.unionByName(uncovSmp)
        .groupBy("chromosome", "position")
        .agg(denomAggs.head, denomAggs.tail: _*)
    }
    val numerAggs = preds.map { case (n, p) =>
      sum(when(p, col("support")).otherwise(0)).cast(LongType).as(s"numer_$n")
    }
    val numers = o.groupBy(variantKey.head, variantKey.tail: _*)
      .agg(numerAggs.head, numerAggs.tail: _*)
    val freq = numers.join(denoms, Seq("chromosome", "position"), "left")
    val outPpm = multiExprs.map { case (n, _, _) =>
      coalesce(
        expr(s"cast((numer_$n * 1000000) div nullif(denom_$n, 0) as bigint)"),
        lit(0L)).as(s"freq_ppm_$n")
    }
    annotateInput(o).join(freq, variantKey, "left")
      .select(variantKey.map(col) ++ outPpm: _*)
  }

  /** Trio de-novo candidate detection over explicit inputs — the
    * testable core (TrioSpec drives it with crafted rows). A variant is a
    * de-novo CANDIDATE for a child iff (1) the child observed it
    * heterozygous, (2) NEITHER parent observed it at all, and (3) BOTH
    * parents cover the position — an uncovered parent means absence is
    * missing data, not absence of the allele (the same covering rule as
    * the frequency denominator: a containment region, or a sample with no
    * coverage profile covers everything).
    *
    * Scale shape: parent-absence is two equi anti-joins on (variant key,
    * parent id) — the parent id is child_id + offset, an equi key to the
    * planner; parent-coverage is the bucketed containment equi-join over
    * the candidates' distinct points plus the dimension-sized
    * coverage-less broadcast, then two semi-joins. Every shuffle carries
    * candidate variants or covered (point, sample) pairs — never the
    * corpus crossed with itself. */
  private[graft] def denovoFrom(obsDf: DataFrame, covDf: DataFrame,
      smpDf: DataFrame): DataFrame = {
    val vkey = Seq("chromosome", "position", "reference", "observed")
    val child = obsDf
      .filter(col("sample_id") % 8 === 4 && col("zygosity") === "heterozygous")
      .select(vkey.map(col) :+ col("sample_id").as("child_id"): _*)
      .distinct()
    val pvar = obsDf
      .select(vkey.map(col) :+ col("sample_id"): _*).distinct()
      .toDF("p_chrom", "p_pos", "p_ref", "p_obs", "p_sid")
    def absentIn(cur: DataFrame, off: Int): DataFrame =
      cur.join(pvar,
        col("chromosome") === col("p_chrom") && col("position") === col("p_pos")
          && col("reference") === col("p_ref") && col("observed") === col("p_obs")
          && col("p_sid") === col("child_id") + off,
        "left_anti")
    val pts = child.select("chromosome", "position").distinct()
    val covPairs = bucketedContainment(pts, covDf)
      .select("chromosome", "position", "sample_id").distinct()
    val uncovered = pts.crossJoin(broadcast(
      smpDf.filter(!col("has_coverage")).select("sample_id")))
      .select("chromosome", "position", "sample_id")
    val coverAll = covPairs.unionByName(uncovered)
      .toDF("c_chrom", "c_pos", "c_sid")
    def coveredIn(cur: DataFrame, off: Int): DataFrame =
      cur.join(coverAll,
        col("chromosome") === col("c_chrom") && col("position") === col("c_pos")
          && col("c_sid") === col("child_id") + off,
        "left_semi")
    val out = coveredIn(coveredIn(absentIn(absentIn(child, 2), 4), 2), 4)
    out.orderBy("chromosome", "position", "reference", "observed", "child_id")
  }

  /** Trio de-novo candidates on the fixture pedigree: children are
    * samples ≡ 4 (mod 8) — {4, 12} — father = child + 2, mother =
    * child + 4, so trio 12 has a coverage-less father (sample 14 covers
    * everything) while trio 4 is fully covered. Parents are deliberately
    * the child's PARITY: the fixture derives chromosome from user_id % 22
    * but sample_id from user_id % 20, so an odd sample's coverage lives
    * entirely on chromosomes where an even sample has no observations —
    * an odd-offset pedigree would vacuously empty the result via the
    * coverage clause. See [[denovoFrom]]. */
  val vardaTrioDenovo: Q = (s, d) =>
    denovoFrom(obs(s, d), cov(s, d), smp(s, d))

  /** Nearest-region distance (the bedtools-closest analog) over explicit
    * inputs — for each distinct variant point, the distance to the
    * nearest coverage interval on its chromosome: 0 when covered, else
    * min(gap to the closest interval ending before it, gap to the
    * closest interval starting after it), −1 when the chromosome has no
    * interval at all.
    *
    * Scale shape (round-10: ALL-sweep, zero pair enumeration): every
    * tier is a union of interval endpoints and points run through
    * [[graft.ops.GlobalRank.withGroupedRunningMax]] — per-chromosome
    * arithmetic chunks, so 22 chromosomes never serialize into 22 sort
    * tasks and every shuffle carries (chromosome, coord, kind, value)
    * rows, never point × interval pairs. Covered-ness itself is the
    * begin-ordered sweep: a point is covered iff the running max of
    * `end_pos` over intervals with `begin_pos <= p` reaches p — the
    * round-9 bucketed-containment tier enumerated (point, region) pairs
    * per cell, which the fixture's bounded position space turns
    * quadratic in sf (measured 12.7x at the sf1 decade; the sweep form
    * is ~linear). The prev-end and next-begin distances are the same
    * max over end-ordered / negated-begin-ordered events. Equality
    * ties with endpoints cannot occur for uncovered points (an endpoint
    * at the point's position implies containment), so the strict-side
    * semantics match the oracle's `<` / `>` predicates exactly. */
  private[graft] def nearestRegionFrom(ptsIn: DataFrame,
      covDf: DataFrame): DataFrame = {
    // The downstream DAG fans out: pts feeds the coverage sweep and both
    // distance sweeps; covDf feeds all three; and each sweep evaluates
    // its input twice (local window + chunk offsets). Unchecked, that
    // re-runs the upstream scan+distinct up to 8x. These frames are
    // points/regions-sized — narrow keys, orders of magnitude smaller
    // than the raw tables they derive from — so materializing them once
    // is the right trade at any scale (the full-width-table checkpoint
    // this codebase removed from GlobalRank was the opposite case).
    val pts = Ckpt.narrow(ptsIn.select("chromosome", "position").distinct())
    val cov = Ckpt.narrow(covDf)
    val nullV = lit(null).cast(LongType)
    // TWO sweeps instead of three (r19): the coverage test (max end_pos
    // over intervals with begin_pos <= p) and the prev-end distance (max
    // end_pos over intervals with end_pos <= p) share the ascending
    // coordinate order, so they ride ONE merged event sweep with two
    // value columns — begin events carry v_cov, end events carry v_prev,
    // max skips the nulls, and each output column sees exactly the event
    // set its old dedicated sweep saw. The reverse-direction next-begin
    // sweep now runs over ALL points (extra null-valued rows change no
    // other row's running max), which removes its data dependency on the
    // coverage sweep's output — no covFlag materialization barrier, and
    // the two sweeps execute as parallel branches of the final join.
    // Covered points' prev/next outputs are discarded by the is_cov
    // branch below, exactly as the old uncovered-only sweeps never
    // computed them. (kind 0 sorts before 1, so an interval STARTING at
    // the point is included — begin == p covers; endpoint ties cannot
    // occur for uncovered points, scaladoc above.)
    val evA = cov.select(col("chromosome"), col("begin_pos").as("coord"),
        lit(0).as("kind"), col("end_pos").as("v_cov"), nullV.as("v_prev"))
      .unionByName(cov.select(col("chromosome"), col("end_pos").as("coord"),
        lit(0).as("kind"), nullV.as("v_cov"), col("end_pos").as("v_prev")))
      .unionByName(pts.select(col("chromosome"), col("position").as("coord"),
        lit(1).as("kind"), nullV.as("v_cov"), nullV.as("v_prev")))
    val sweptA = graft.ops.GlobalRank.withGroupedRunningMaxes(evA,
        Seq("chromosome"), Seq(col("coord"), col("kind")),
        Seq(col("v_cov") -> "maxend", col("v_prev") -> "prev_end"))
      .filter(col("kind") === 1)
      .select(col("chromosome"), col("coord").as("position"),
        (col("maxend").isNotNull && col("maxend") >= col("coord"))
          .as("is_cov"),
        col("prev_end"))
    val sweptB = graft.ops.GlobalRank.withGroupedRunningMax(
        cov.select(col("chromosome"), (-col("begin_pos")).as("coord"),
          lit(0).as("kind"), (-col("begin_pos")).as("v"))
        .unionByName(pts.select(col("chromosome"),
          (-col("position")).as("coord"), lit(1).as("kind"), nullV.as("v"))),
        Seq("chromosome"), Seq(col("coord"), col("kind")), col("v"),
        "neg_next")
      .filter(col("kind") === 1)
      .select(col("chromosome"), (-col("coord")).as("position"),
        (-col("neg_next")).as("next_begin"))
    sweptA.join(sweptB, Seq("chromosome", "position"))
      .select(col("chromosome"), col("position"),
        when(col("is_cov"), lit(0L)).otherwise(
          coalesce(least(col("position") - col("prev_end"),
            col("next_begin") - col("position")), lit(-1L)))
          .as("nearest_dist"))
      .orderBy("chromosome", "position")
  }

  /** Nearest-region distance on the fixture: distinct observation points
    * against the full coverage-region cohort. See [[nearestRegionFrom]]. */
  val vardaNearestRegion: Q = (s, d) =>
    nearestRegionFrom(obs(s, d), cov(s, d))

  /** Coordinate lift-over (the UCSC liftOver analog): map every distinct
    * observation point through the [[VardaSql.chain]] assembly map —
    * position + shift when a chain block contains it, −1 (unmapped)
    * otherwise. The chain-file invariant (at most one mapping interval
    * per position) makes this a LEFT OUTER containment join; because the
    * fixture's blocks are grid-aligned with bounded length, the
    * containment collapses to the single-fine-bucket strategy (the same
    * one `spark.graft.intervalJoin.maxLength` selects in
    * [[graft.plans.RewriteIntervalJoin]]): equi-join on
    * (chromosome, position div 1000) with only the upper-bound residual —
    * both sides hash-partition on the block key, no bucket explosion, no
    * quadratic fallback for the null-extended rows. */
  val vardaLiftover: Q = (s, d) => {
    val pts = obs(s, d).select("chromosome", "position").distinct()
      .withColumn("blk", expr("position div 1000"))
    val ch = fixture(s, d, VardaSql.chain)
      .withColumn("blk", expr("src_begin div 1000"))
    pts.join(ch,
        pts("chromosome") === ch("chromosome") && pts("blk") === ch("blk")
          && pts("position") >= ch("src_begin")
          && pts("position") <= ch("src_end"),
        "left_outer")
      .select(pts("chromosome"), pts("position"),
        coalesce(pts("position") + ch("shift"), lit(-1L)).as("new_position"))
      .orderBy("chromosome", "position")
  }

  val queries: Map[String, Q] = Map(
    "varda_nearest_region" -> vardaNearestRegion,
    "varda_liftover" -> vardaLiftover,
    "varda_trio_denovo" -> vardaTrioDenovo,
    "source_vcf" -> sourceVcf,
    "source_vcf_file" -> sourceVcfFile,
    "sink_vcf" -> sinkVcf,
    "sink_vcf_multi" -> sinkVcfMulti,
    "source_bed" -> sourceBed,
    "join_range_interval" -> joinRangeInterval,
    "join_range_rewrite" -> joinRangeRewrite,
    "join_range_overlap_rewrite" -> joinRangeOverlapRewrite,
    "agg_freq_ratio" -> aggFreqRatio,
    "varda_freq_incremental" -> vardaFreqIncremental,
    "stream_store_changes" -> streamStoreChanges,
    "stream_store_changes_freq" -> streamStoreChangesFreq,
    "stream_store_changes_bootstrap" -> streamStoreChangesBootstrap,
    "varda_freq_lookup" -> vardaFreqLookup,
    "varda_freq_asof" -> vardaFreqAsOf,
    "varda_freq_compare" -> vardaFreqCompare,
    "varda_freq_lookup_range" -> vardaFreqLookupRange,
    "varda_store_extent" -> vardaStoreExtent,
    "varda_freq_lookup_range_expr" -> vardaFreqLookupRangeExpr,
    "varda_freq_lookup_expr" -> vardaFreqLookupExpr,
    "varda_freq_lookup_multi" -> vardaFreqLookupMulti,
    "varda_sample_retract" -> vardaSampleRetract,
    "varda_normalize_variant" -> vardaNormalizeVariant,
    "varda_region_bins" -> vardaRegionBins,
    "varda_region_intersect" -> vardaRegionIntersect,
    "varda_region_merge" -> vardaRegionMerge,
    "varda_coverage_depth" -> vardaCoverageDepth,
    "varda_coverage_join" -> vardaCoverageJoin,
    "varda_frequency" -> vardaFrequency,
    "varda_sample_expr" -> vardaSampleExpr,
    "varda_annotate" -> vardaAnnotate,
    "varda_annotate_store" -> vardaAnnotateStore,
    "varda_annotate_multi" -> vardaAnnotateMulti)

  private val sampleWhere =
    s"sample_id IN (${sampleExprSet.mkString(", ")})"

  /** The annotate-convergence oracle, shared verbatim by
    * `varda_annotate` / `varda_annotate_store` / `sink_vcf`. */
  private lazy val annotateOracle: String =
    s"""WITH freq AS (${frequencySql(withZyg = false, None, idivDuck)}),
          input AS (SELECT DISTINCT chromosome,
                      position + CASE WHEN obs_id % 4 = 0 THEN 1 ELSE 0 END AS position,
                      reference, observed
                    FROM ($observations) oo WHERE obs_id % 2 = 0)
          SELECT i.chromosome, i.position, i.reference, i.observed,
            COALESCE(f.freq_ppm, 0) AS freq_ppm
          FROM input i LEFT JOIN freq f
            ON i.chromosome = f.chromosome AND i.position = f.position
            AND i.reference = f.reference AND i.observed = f.observed
          ORDER BY i.chromosome, i.position, i.reference, i.observed"""

  val oracle: Map[String, String] = Map(
    // the streamed change feed IS the import batches' raw observation
    // rows tagged with their generation — obs_id % 3 is buildFreqStore's
    // batch-slicing rule
    "stream_store_changes" ->
      s"""WITH obs AS ($observations)
         SELECT CAST(obs_id % 3 AS BIGINT) AS generation, chromosome,
                position, reference, observed,
                CAST(sample_id AS BIGINT) AS sample_id,
                CAST(support AS BIGINT) AS support
         FROM obs""",
    "varda_liftover" ->
      s"""WITH obs AS ($observations),
            chain AS (${VardaSql.chain}),
            pts AS (SELECT DISTINCT chromosome, position FROM obs)
         SELECT p.chromosome, p.position,
                COALESCE(p.position + c.shift, -1) AS new_position
         FROM pts p LEFT JOIN chain c
           ON c.chromosome = p.chromosome
          AND p.position BETWEEN c.src_begin AND c.src_end
         ORDER BY 1, 2""",
    "varda_nearest_region" ->
      s"""WITH obs AS ($observations),
            cov AS ($coverage),
            pts AS (SELECT DISTINCT chromosome, position FROM obs),
            covered AS (SELECT DISTINCT p.chromosome, p.position
                        FROM pts p JOIN cov c
                          ON c.chromosome = p.chromosome
                         AND p.position BETWEEN c.begin_pos AND c.end_pos),
            unc AS (SELECT p.chromosome, p.position FROM pts p
                    WHERE NOT EXISTS (SELECT 1 FROM covered c
                      WHERE c.chromosome = p.chromosome
                        AND c.position = p.position)),
            sides AS (SELECT u.chromosome, u.position,
                        max(CASE WHEN c.end_pos < u.position
                              THEN c.end_pos END) AS prev_end,
                        min(CASE WHEN c.begin_pos > u.position
                              THEN c.begin_pos END) AS next_begin
                      FROM unc u LEFT JOIN cov c
                        ON c.chromosome = u.chromosome
                      GROUP BY 1, 2)
         SELECT chromosome, position, CAST(0 AS BIGINT) AS nearest_dist
         FROM covered
         UNION ALL
         SELECT chromosome, position,
                CASE WHEN prev_end IS NULL AND next_begin IS NULL
                       THEN CAST(-1 AS BIGINT)
                     WHEN prev_end IS NULL THEN next_begin - position
                     WHEN next_begin IS NULL THEN position - prev_end
                     WHEN position - prev_end <= next_begin - position
                       THEN position - prev_end
                     ELSE next_begin - position END AS nearest_dist
         FROM sides
         ORDER BY chromosome, position""",
    "varda_trio_denovo" ->
      s"""WITH obs AS ($observations),
            cov AS ($coverage),
            smp AS (${VardaSql.samples}),
            child AS (SELECT DISTINCT chromosome, position, reference,
                        observed, sample_id AS child_id
                      FROM obs
                      WHERE sample_id % 8 = 4
                        AND zygosity = 'heterozygous'),
            pvar AS (SELECT DISTINCT chromosome, position, reference,
                       observed, sample_id
                     FROM obs),
            pts AS (SELECT DISTINCT chromosome, position FROM child),
            covp AS (SELECT DISTINCT p.chromosome, p.position, c.sample_id
                     FROM pts p JOIN cov c ON c.chromosome = p.chromosome
                       AND p.position BETWEEN c.begin_pos AND c.end_pos
                     UNION
                     SELECT p.chromosome, p.position, s.sample_id
                     FROM pts p CROSS JOIN
                       (SELECT sample_id FROM smp WHERE NOT has_coverage) s)
         SELECT ch.chromosome, ch.position, ch.reference, ch.observed,
                ch.child_id
         FROM child ch
         WHERE NOT EXISTS (SELECT 1 FROM pvar p
                 WHERE p.chromosome = ch.chromosome
                   AND p.position = ch.position
                   AND p.reference = ch.reference
                   AND p.observed = ch.observed
                   AND p.sample_id = ch.child_id + 2)
           AND NOT EXISTS (SELECT 1 FROM pvar p
                 WHERE p.chromosome = ch.chromosome
                   AND p.position = ch.position
                   AND p.reference = ch.reference
                   AND p.observed = ch.observed
                   AND p.sample_id = ch.child_id + 4)
           AND EXISTS (SELECT 1 FROM covp cp
                 WHERE cp.chromosome = ch.chromosome
                   AND cp.position = ch.position
                   AND cp.sample_id = ch.child_id + 2)
           AND EXISTS (SELECT 1 FROM covp cp
                 WHERE cp.chromosome = ch.chromosome
                   AND cp.position = ch.position
                   AND cp.sample_id = ch.child_id + 4)
         ORDER BY chromosome, position, reference, observed, child_id""",
    "source_vcf" ->
      s"""WITH obs AS ($observations),
          lines AS (SELECT obs_id, chromosome, position, reference,
                      CASE WHEN obs_id % 5 = 0
                           THEN observed || ',' || substr('ACGT', CAST((obs_id + 2) % 4 AS INT) + 1, 1)
                           ELSE observed END AS alt_field,
                      support FROM obs)
          SELECT obs_id, chromosome, position, reference,
                 unnest(string_split(alt_field, ',')) AS observed, support
          FROM lines ORDER BY obs_id, observed""",
    "source_vcf_file" ->
      s"""WITH obs AS ($observations),
          lines AS (SELECT obs_id, chromosome, position, reference,
                      CASE WHEN obs_id % 5 = 0
                           THEN observed || ',' || substr('ACGT', CAST((obs_id + 2) % 4 AS INT) + 1, 1)
                           ELSE observed END AS alt_field,
                      support, sample_id, zygosity FROM obs),
          ex AS (SELECT obs_id, chromosome, position, reference, support,
                   sample_id, zygosity,
                   unnest(string_split(alt_field, ',')) AS observed
                 FROM lines)
          SELECT obs_id, chromosome, position, reference,
            CASE WHEN observed = substr('ACGT', CAST((obs_id + 1) % 4 AS INT) + 1, 1)
                 THEN CAST(1 AS BIGINT) ELSE CAST(2 AS BIGINT) END AS alt_index,
            observed, support,
            CAST(sample_id % 3 AS BIGINT) AS sample_slot,
            'S' || CAST(sample_id % 3 AS VARCHAR) AS sample_name,
            CASE WHEN obs_id % 5 = 0 THEN 'heterozygous' ELSE zygosity END AS zygosity
          FROM ex ORDER BY obs_id, alt_index""",
    "source_bed" ->
      s"""WITH cov AS ($coverage)
          SELECT region_id, chromosome, begin_pos, end_pos, sample_id, pool_size
          FROM cov ORDER BY region_id""",
    "join_range_interval" ->
      s"""WITH obs AS ($observations), cov AS ($coverage)
          SELECT o.obs_id, c.region_id
          FROM obs o JOIN cov c ON o.chromosome = c.chromosome
            AND o.position BETWEEN c.begin_pos AND c.end_pos
          ORDER BY o.obs_id, c.region_id""",
    // the rewrite must be invisible in the result: naive range-join SQL
    // (scaling cancels: integer containment is invariant under ×512)
    "join_range_rewrite" ->
      s"""WITH obs AS (SELECT * FROM ($observations) oo WHERE obs_id % 4 = 0),
          cov AS (SELECT * FROM ($coverage) cc WHERE region_id % 4 = 0)
          SELECT o.obs_id, count(*) AS n_regions
          FROM obs o JOIN cov c ON o.chromosome = c.chromosome
            AND o.position BETWEEN c.begin_pos AND c.end_pos
          GROUP BY o.obs_id ORDER BY o.obs_id""",
    // the rewrite must be invisible in the result: naive overlap SQL
    "join_range_overlap_rewrite" ->
      s"""WITH cov AS ($coverage),
          a AS (SELECT chromosome, region_id AS region_a,
                  begin_pos AS ba, end_pos AS ea
                FROM cov WHERE region_id % 4 = 0),
          b AS (SELECT chromosome, region_id AS region_b,
                  begin_pos AS bb, end_pos AS eb
                FROM cov WHERE region_id % 4 = 1)
          SELECT a.region_a, count(*) AS n_overlaps,
            CAST(SUM(LEAST(a.ea, b.eb) - GREATEST(a.ba, b.bb) + 1) AS BIGINT)
              AS sum_ov_len
          FROM a JOIN b ON a.chromosome = b.chromosome
            AND a.ba <= b.eb AND b.bb <= a.ea
          GROUP BY a.region_a ORDER BY a.region_a""",
    // the pruned committed-store lookup must equal the one-shot
    // frequency computation restricted to the probe points
    "varda_freq_lookup" ->
      s"""SELECT * FROM (${frequencySql(withZyg = false, None, idivDuck)}) q
          WHERE EXISTS (SELECT 1 FROM ($observations) oo
            WHERE oo.obs_id % 2999 = 1 AND oo.chromosome = q.chromosome
              AND oo.position = q.position)
          ORDER BY q.chromosome, q.position, q.reference, q.observed""",
    // the range-served committed store must equal the one-shot frequency
    // computation restricted to the probe range
    "varda_freq_lookup_range" ->
      s"""SELECT * FROM (${frequencySql(withZyg = false, None, idivDuck)}) q
          WHERE q.chromosome = '7' AND q.position BETWEEN 20000 AND 40000
          ORDER BY q.chromosome, q.position, q.reference, q.observed""",
    // the footer-statistics extent must equal the one-shot frequency
    // set's true min/max position and row count
    "varda_store_extent" ->
      s"""SELECT min(q.position) AS min_pos, max(q.position) AS max_pos,
            count(*) AS n_variants
          FROM (${frequencySql(withZyg = false, None, idivDuck)}) q""",
    // the combined region + expression store lookup must equal the
    // one-shot frequency under the evaluated sample set, restricted to
    // the probe range
    "varda_freq_lookup_range_expr" ->
      s"""SELECT * FROM (${frequencySql(withZyg = false, Some(sampleWhere), idivDuck)}) q
          WHERE q.chromosome = '7' AND q.position BETWEEN 20000 AND 40000
          ORDER BY q.chromosome, q.position, q.reference, q.observed""",
    // the expression-filtered store lookup must equal the one-shot
    // frequency under the evaluated sample set, restricted to the probes
    "varda_freq_lookup_expr" ->
      s"""SELECT * FROM (${frequencySql(withZyg = false, Some(sampleWhere), idivDuck)}) q
          WHERE EXISTS (SELECT 1 FROM ($observations) oo
            WHERE oo.obs_id % 2999 = 1 AND oo.chromosome = q.chromosome
              AND oo.position = q.position)
          ORDER BY q.chromosome, q.position, q.reference, q.observed""",
    // the single-pass multi-expression store lookup must equal N
    // independent one-shot frequency computations at the probe points
    "varda_freq_lookup_multi" -> {
      val ctes = multiExprs.map { case (n, _, ids) =>
        s"""freq_$n AS (${frequencySql(withZyg = false,
          Some(s"sample_id IN (${ids.mkString(", ")})"), idivDuck)})"""
      }.mkString(",\n          ")
      val joins = multiExprs.map { case (n, _, _) =>
        s"""LEFT JOIN freq_$n ON i.chromosome = freq_$n.chromosome
            AND i.position = freq_$n.position
            AND i.reference = freq_$n.reference
            AND i.observed = freq_$n.observed"""
      }.mkString("\n          ")
      val outs = multiExprs.map { case (n, _, _) =>
        s"COALESCE(freq_$n.freq_ppm, 0) AS freq_ppm_$n"
      }.mkString(", ")
      s"""WITH $ctes,
          probes AS (SELECT DISTINCT chromosome, position
                     FROM ($observations) oo WHERE oo.obs_id % 2999 = 1),
          input AS (SELECT DISTINCT o.chromosome, o.position,
                      o.reference, o.observed
                    FROM ($observations) o
                    JOIN probes p ON o.chromosome = p.chromosome
                      AND o.position = p.position)
          SELECT i.chromosome, i.position, i.reference, i.observed, $outs
          FROM input i
          $joins
          ORDER BY i.chromosome, i.position, i.reference, i.observed"""
    },
    "agg_freq_ratio" ->
      s"""${frequencySql(withZyg = false, None, idivDuck)}
          ORDER BY n.chromosome, n.position, n.reference, n.observed""",
    // the generation-pinned read must equal the one-shot frequency over
    // the first two import batches' rows only (the fixture slices
    // batches by id % 3 — FreqStoreSpec pins per-generation parity)
    "varda_freq_asof" ->
      s"""${frequencySql(withZyg = false, None, idivDuck,
        obsWhere = Some("obs_id % 3 <= 1"),
        covWhere = Some("region_id % 3 <= 1"),
        smpWhere = Some("sample_id % 3 <= 1"))}
          ORDER BY n.chromosome, n.position, n.reference, n.observed""",
    // the drift join must equal the full one-shot LEFT-joined with the
    // 2-batch-prefix one-shot, per variant
    "varda_freq_compare" ->
      s"""WITH head AS (${frequencySql(withZyg = false, None, idivDuck)}),
          old AS (${frequencySql(withZyg = false, None, idivDuck,
        obsWhere = Some("obs_id % 3 <= 1"),
        covWhere = Some("region_id % 3 <= 1"),
        smpWhere = Some("sample_id % 3 <= 1"))})
          SELECT h.chromosome, h.position, h.reference, h.observed,
            h.freq_ppm AS freq_head,
            COALESCE(o.freq_ppm, 0) AS freq_old,
            h.freq_ppm - COALESCE(o.freq_ppm, 0) AS drift_ppm
          FROM head h
          LEFT JOIN old o
            ON h.chromosome = o.chromosome AND h.position = o.position
            AND h.reference = o.reference AND h.observed = o.observed
          ORDER BY h.chromosome, h.position, h.reference, h.observed""",
    // incremental maintenance must converge to the one-shot answer: the
    // oracle IS the one-shot frequency SQL
    "varda_freq_incremental" ->
      s"""${frequencySql(withZyg = false, None, idivDuck)}
          ORDER BY n.chromosome, n.position, n.reference, n.observed""",
    // frequencies reconstructed from the drained change feed alone must
    // equal the one-shot frequency computation — the CDC consumer is
    // indistinguishable from a reader of the store
    "stream_store_changes_freq" ->
      s"""${frequencySql(withZyg = false, None, idivDuck)}
          ORDER BY n.chromosome, n.position, n.reference, n.observed""",
    // the late-attaching consumer (snapshot bootstrap + streamed tail)
    // must ALSO converge to the one-shot frequency computation
    "stream_store_changes_bootstrap" ->
      s"""${frequencySql(withZyg = false, None, idivDuck)}
          ORDER BY n.chromosome, n.position, n.reference, n.observed""",
    // retraction must converge to the one-shot over the REMAINING samples
    "varda_sample_retract" ->
      s"""${frequencySql(withZyg = false, Some("sample_id NOT IN (4, 14)"), idivDuck)}
          ORDER BY n.chromosome, n.position, n.reference, n.observed""",
    "varda_normalize_variant" -> normalizeSql(VardaSql.alleles, Normalize.MaxLen),
    "varda_region_bins" ->
      s"""WITH cov AS ($coverage)
          SELECT region_id,
            CAST(${assignBin("begin_pos", "end_pos", shrDuck)} AS BIGINT) AS bin
          FROM cov ORDER BY region_id""",
    // the bucketed overlap join must equal the naive quadratic range join
    "varda_region_intersect" ->
      s"""WITH cov AS ($coverage)
          SELECT a.chromosome, a.region_id AS region_a, b.region_id AS region_b,
            greatest(a.begin_pos, b.begin_pos) AS ov_begin,
            least(a.end_pos, b.end_pos) AS ov_end,
            least(a.end_pos, b.end_pos) - greatest(a.begin_pos, b.begin_pos) + 1
              AS ov_len
          FROM cov a JOIN cov b ON a.chromosome = b.chromosome
            AND a.begin_pos <= b.end_pos AND b.begin_pos <= a.end_pos
          WHERE a.region_id % 2 = 0 AND b.region_id % 2 = 1
          ORDER BY region_a, region_b""",
    "varda_region_merge" ->
      s"""WITH cov AS ($coverage),
          w AS (SELECT *, max(end_pos) OVER (
                  PARTITION BY chromosome, sample_id
                  ORDER BY begin_pos, end_pos, region_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
                FROM cov),
          f AS (SELECT *, CASE WHEN pmax IS NULL OR begin_pos > pmax
                               THEN 1 ELSE 0 END AS brk FROM w),
          i AS (SELECT *, SUM(brk) OVER (
                  PARTITION BY chromosome, sample_id
                  ORDER BY begin_pos, end_pos, region_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
                FROM f)
          SELECT chromosome, sample_id,
            min(begin_pos) AS m_begin, max(end_pos) AS m_end,
            count(*) AS n_regions
          FROM i GROUP BY chromosome, sample_id, island
          ORDER BY chromosome, sample_id, m_begin""",
    "varda_coverage_depth" ->
      s"""WITH cov AS ($coverage),
          ev AS (SELECT chromosome, begin_pos AS position, 1 AS delta FROM cov
                 UNION ALL
                 SELECT chromosome, end_pos + 1, -1 FROM cov),
          g AS (SELECT chromosome, position, CAST(sum(delta) AS BIGINT) AS d
                FROM ev GROUP BY 1, 2 HAVING sum(delta) <> 0)
          SELECT chromosome, position, d,
            CAST(sum(d) OVER (PARTITION BY chromosome ORDER BY position)
                 AS BIGINT) AS depth
          FROM g ORDER BY chromosome, position""",
    "varda_coverage_join" ->
      s"""WITH obs AS ($observations), cov AS ($coverage)
          SELECT o.obs_id, count(*) AS n_regions,
            CAST(SUM(c.pool_size) AS BIGINT) AS total_pool
          FROM obs o JOIN cov c ON o.chromosome = c.chromosome
            AND o.position BETWEEN c.begin_pos AND c.end_pos
          GROUP BY o.obs_id ORDER BY o.obs_id""",
    "varda_frequency" ->
      s"""${frequencySql(withZyg = true, None, idivDuck)}
          ORDER BY n.chromosome, n.position, n.reference, n.observed""",
    "varda_sample_expr" ->
      s"""${frequencySql(withZyg = false, Some(sampleWhere), idivDuck)}
          ORDER BY n.chromosome, n.position, n.reference, n.observed""",
    // ONE oracle text for the three annotate-convergence keys: the
    // one-shot annotate, the committed-store annotate (must converge to
    // it), and the VCF export round trip (lossless ⇔ the parsed-back
    // file equals the annotation it serialized). Identity by REFERENCE
    // — a hand-maintained triplicate could silently diverge (round-16
    // review).
    "varda_annotate" -> annotateOracle,
    "sink_vcf" -> annotateOracle,
    "varda_annotate_store" -> annotateOracle,
    // ONE oracle text for the multi-annotate key and its VCF export
    // round trip — the same identity-by-reference discipline as the
    // single-expression annotate triple above
    "varda_annotate_multi" -> annotateMultiOracle,
    "sink_vcf_multi" -> annotateMultiOracle)

  private lazy val annotateMultiOracle: String = {
    val ctes = multiExprs.map { case (n, _, ids) =>
      s"""freq_$n AS (${frequencySql(withZyg = false,
        Some(s"sample_id IN (${ids.mkString(", ")})"), idivDuck)})"""
    }.mkString(",\n          ")
    val joins = multiExprs.map { case (n, _, _) =>
      s"""LEFT JOIN freq_$n ON i.chromosome = freq_$n.chromosome
          AND i.position = freq_$n.position
          AND i.reference = freq_$n.reference
          AND i.observed = freq_$n.observed"""
    }.mkString("\n          ")
    val outs = multiExprs.map { case (n, _, _) =>
      s"COALESCE(freq_$n.freq_ppm, 0) AS freq_ppm_$n"
    }.mkString(", ")
    s"""WITH $ctes,
        input AS (SELECT DISTINCT chromosome,
                    position + CASE WHEN obs_id % 4 = 0 THEN 1 ELSE 0 END AS position,
                    reference, observed
                  FROM ($observations) oo WHERE obs_id % 2 = 0)
        SELECT i.chromosome, i.position, i.reference, i.observed, $outs
        FROM input i
        $joins
        ORDER BY i.chromosome, i.position, i.reference, i.observed"""
  }
}

/** Plain-Scala reference implementation of the variant normalization —
  * the spec the Column version and ScalaCheck properties test against. */
object Normalize {
  import VardaSql.{lcpCase, lcsCase}
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{lower, regexp_replace, when}

  /** Chromosome-name normalization (varda/utils.py ::
    * normalize_chromosome [U]): strip a case-insensitive `chr` prefix,
    * map mitochondrial `M` to `MT`. */
  def normalizeChromosome(c: Column): Column = {
    val stripped = regexp_replace(c, "^(?i)chr", "")
    when(lower(stripped) === "m", "MT").otherwise(stripped)
  }

  /** Plain-Scala reference for the property tests. */
  def normalizeChromosomeRef(s: String): String = {
    val stripped = if (s.toLowerCase.startsWith("chr")) s.substring(3) else s
    if (stripped.equalsIgnoreCase("m")) "MT" else stripped
  }

  /** Max allele length the unrolled CASE chains support. */
  val MaxLen = 6

  /** In-place variant normalization over arbitrary column names: trims
    * the common allele prefix (advancing `pos`) then the common suffix,
    * always keeping >= 1 char, replacing the three columns and keeping
    * every other column untouched — the shape the VCF import path needs
    * ([[Vcf.normalized]]). Pure CASE-chain Column arithmetic, fully
    * codegen'd; alleles longer than [[MaxLen]] chars keep their tail
    * untrimmed (the chains are unrolled to MaxLen). */
  def normalizeVariantCols(df: DataFrame, pos: String, ref: String,
      alt: String): DataFrame =
    df.withColumn("__nv_p", expr(
        s"least(${lcpCase(ref, alt, MaxLen)}, length($ref) - 1, length($alt) - 1)"))
      .withColumn("__nv_ref1", expr(s"substr($ref, __nv_p + 1)"))
      .withColumn("__nv_alt1", expr(s"substr($alt, __nv_p + 1)"))
      .withColumn("__nv_s", expr(
        s"least(${lcsCase("__nv_ref1", "__nv_alt1", MaxLen)}, " +
          "length(__nv_ref1) - 1, length(__nv_alt1) - 1)"))
      .withColumn(pos, col(pos) + col("__nv_p"))
      .withColumn(ref, expr("substr(__nv_ref1, 1, length(__nv_ref1) - __nv_s)"))
      .withColumn(alt, expr("substr(__nv_alt1, 1, length(__nv_alt1) - __nv_s)"))
      .drop("__nv_p", "__nv_ref1", "__nv_alt1", "__nv_s")

  /** Column-expression normalization over (var_id, position, ref, alt):
    * the engine implementation vardaNormalizeVariant and the property
    * tests share. Built on [[normalizeVariantCols]]. */
  def normalizeDf(df: DataFrame): DataFrame =
    normalizeVariantCols(
        df.select(col("var_id"), col("position"), col("ref"), col("alt")),
        "position", "ref", "alt")
      .select(col("var_id"), col("position").as("pos_n"),
        col("ref").as("ref_n"), col("alt").as("alt_n"))

  def lcp(a: String, b: String): Int =
    a.zip(b).takeWhile { case (x, y) => x == y }.length

  /** (position delta, normalized ref, normalized alt). */
  def normalize(pos: Long, ref: String, alt: String): (Long, String, String) = {
    val p = math.min(lcp(ref, alt), math.min(ref.length, alt.length) - 1)
    val (r1, a1) = (ref.substring(p), alt.substring(p))
    val s = math.min(lcp(r1.reverse, a1.reverse), math.min(r1.length, a1.length) - 1)
    (pos + p, r1.substring(0, r1.length - s), a1.substring(0, a1.length - s))
  }
}
